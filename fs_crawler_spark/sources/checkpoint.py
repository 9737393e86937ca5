"""Snapshot checkpoint store — the parquet implementation of the Iceberg
commit model (SURVEY.md S4/S5, north_rule "resumable from checkpoint").

Production target is Iceberg: one snapshot commit per crawl round, seen-set as
a ``bucket(N, url)``-partitioned table, resume = read the last committed
snapshot. The sandbox has no Iceberg runtime jar, so this store reproduces the
same semantics on plain parquet:

  * per round, every table is written to a staging dir and then **atomically
    published** by a directory rename + a MANIFEST.json written last;
  * append-only tables (seen, vertices, edges, crawl_log) are stored as
    per-round deltas and read as a union — the Iceberg append analog; no
    round rewrites them;
  * replace tables (frontier) are stored whole per round;
  * resume state = greatest round with a manifest; a killed run that never
    published round r resumes from r-1 with byte-identical continuation
    because `crawl_round` is a pure function of the snapshot state.

Checkpointing each round also truncates DataFrame lineage — mandatory for an
iterative Spark algorithm (otherwise plans grow unboundedly across rounds).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

APPEND_TABLES = ("seen", "vertices", "edges", "crawl_log")
MANIFEST = "MANIFEST.json"


class CheckpointStore:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- paths -------------------------------------------------------------
    def _round_dir(self, round_i: int) -> str:
        return os.path.join(self.root, "snapshots", f"round={round_i}")

    def _staging_dir(self, round_i: int) -> str:
        return os.path.join(self.root, "_staging", f"round={round_i}")

    # -- write path ---------------------------------------------------------
    def commit(
        self,
        round_i: int,
        tables: dict[str, DataFrame],
        meta: dict[str, Any] | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        """Write all tables to staging, then publish atomically. Returns the
        snapshot id (ns timestamp, caller-supplied or generated) recorded in
        the manifest. ``snapshot_id`` is accepted up front so committed rows
        (e.g. crawl_log lineage) can embed it without a post-commit rewrite."""
        staging = self._staging_dir(round_i)
        if os.path.exists(staging):
            shutil.rmtree(staging)

        def _write(item):
            name, df = item
            df.write.mode("overwrite").parquet(os.path.join(staging, name))

        # Independent tables write concurrently — Spark schedules the jobs in
        # parallel, cutting per-round wall time to ~max(write) instead of the
        # sum (cached upstream DataFrames are shared across the jobs).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(tables)) as pool:
            list(pool.map(_write, tables.items()))
        snapshot_id = snapshot_id or time.time_ns()
        manifest = {
            "round": round_i,
            "snapshot_id": snapshot_id,
            "tables": sorted(tables),
            # per-table schema, like an Iceberg table's metadata: reads never
            # depend on parquet schema inference, so an EMPTY delta (e.g. a
            # round whose whole batch was retried writes zero seen rows)
            # still reads back as a typed empty table.
            "schemas": {name: df.schema.jsonValue() for name, df in tables.items()},
            "meta": meta or {},
        }
        final = self._round_dir(round_i)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(staging, final)
        tmp = os.path.join(final, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.rename(tmp, os.path.join(final, MANIFEST))
        return snapshot_id

    def append(self, round_i: int, name: str, df: DataFrame) -> None:
        """Append rows to an already-committed table of ``round_i`` (used for
        the final round's totals flush). NOT part of the atomic commit — a
        crash before it loses the totals row, which resume re-derives."""
        df.write.mode("append").parquet(os.path.join(self._round_dir(round_i), name))

    # -- read path ----------------------------------------------------------
    def committed_rounds(self) -> list[int]:
        snap_root = os.path.join(self.root, "snapshots")
        rounds = []
        for d in os.listdir(snap_root):
            if d.startswith("round=") and os.path.exists(
                os.path.join(snap_root, d, MANIFEST)
            ):
                rounds.append(int(d.split("=", 1)[1]))
        return sorted(rounds)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, round_i: int) -> dict[str, Any]:
        with open(os.path.join(self._round_dir(round_i), MANIFEST)) as f:
            return json.load(f)

    def read(self, spark: SparkSession, round_i: int, name: str) -> DataFrame:
        """Read one table of one committed round, with the schema the commit
        recorded (legacy manifests without one fall back to inference), so
        empty and non-empty tables read alike."""
        path = os.path.join(self._round_dir(round_i), name)
        sch = self.manifest(round_i).get("schemas", {}).get(name)
        if sch:
            return spark.read.schema(StructType.fromJson(sch)).parquet(path)
        return spark.read.parquet(path)

    def read_union(
        self, spark: SparkSession, name: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """Union of an append-table's per-round deltas (Iceberg-append analog).

        The rounds read are those whose manifest lists ``name`` under
        ``tables``: a committed round whose table dir is missing raises
        instead of silently dropping that round's rows.

        Older builds committed some rounds' seen as the WHOLE seen set and
        listed it under ``compacted`` in the manifest; a union of deltas
        would repeat those rows, so such a checkpoint is refused, naming the
        round."""
        rounds = []
        for r in self.committed_rounds():
            if up_to_round is not None and r > up_to_round:
                continue
            manifest = self.manifest(r)
            if name in manifest.get("compacted", []):
                raise ValueError(
                    f"round {r} under {self.root} committed '{name}' as a full "
                    "rewrite (compacted, written by an older build); only "
                    "per-round deltas can be read"
                )
            if name in manifest["tables"]:
                rounds.append(r)
        # Read per round and union: each round reads with the schema its own
        # manifest recorded.
        dfs = [self.read(spark, r, name) for r in rounds]
        if not dfs:
            return None
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out
