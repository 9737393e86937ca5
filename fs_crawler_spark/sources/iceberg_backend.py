"""Backend seam for the Iceberg snapshot store.

``IcebergCheckpointStore`` encodes the crawl's commit protocol (manifest-row-
last atomicity, per-round snapshot ranges, rollback-to-committed on resume);
this module isolates the handful of catalog operations it needs so the
protocol can run against either backend:

  * ``SparkIcebergBackend`` — the real thing: Spark SQL + ``writeTo`` against
    a configured Iceberg catalog (``spark.sql.catalog.<name>`` + the
    iceberg-spark-runtime jar).
  * ``SimulatedIcebergBackend`` — a catalog-free stand-in that reproduces the
    Iceberg *snapshot semantics* the store relies on (documented in the
    Iceberg spec: append/replace commits form an ordered snapshot log;
    time-travel reads a table AS OF a snapshot; incremental reads scan the
    appends in ``(start, end]``; rollback discards snapshots after a given
    id) over plain parquet dirs plus a JSON snapshot log. It exists so the
    commit protocol is pinned by end-to-end tests in environments without the
    runtime jar — the sandbox image has none.

The simulated backend is NOT a performance model (no bucketing, no metadata
pruning); it records the partition spec each table was created with so tests
can assert the layout contract (seen = bucket(n_shards, url)).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

try:  # Spark 4 moved partition transforms; F.bucket is deprecated there
    from pyspark.sql.functions.partitioning import bucket as _bucket
except ImportError:  # pragma: no cover — Spark 3.x
    _bucket = F.bucket


class SparkIcebergBackend:
    """Catalog operations via Spark SQL / DataFrameWriterV2 (requires the
    iceberg-spark-runtime jar and a ``spark.sql.catalog.<catalog>`` conf)."""

    def __init__(self, spark: SparkSession, catalog: str) -> None:
        self.spark = spark
        self.catalog = catalog

    def create_namespace(self, namespace: str) -> None:
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace}")

    def table_exists(self, tbl: str) -> bool:
        return self.spark.catalog.tableExists(tbl)

    def last_snapshot_id(self, tbl: str) -> int:
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {tbl}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(row[0][0]) if row else -1

    def write(
        self,
        tbl: str,
        df: DataFrame,
        mode: str,
        bucket: tuple[int, str] | None = None,
    ) -> None:
        writer = df.writeTo(tbl)
        if bucket is not None:
            writer = writer.partitionedBy(_bucket(bucket[0], F.col(bucket[1])))
        if mode == "append":
            writer.append()
        elif mode == "create":
            writer.create()
        elif mode == "createOrReplace":
            writer.createOrReplace()
        else:
            raise ValueError(f"unknown write mode {mode!r}")

    def read(
        self,
        tbl: str,
        snapshot_id: int | None = None,
        start: int | None = None,
        end: int | None = None,
    ) -> DataFrame:
        reader = self.spark.read.format("iceberg")
        if start is not None:  # incremental append scan over (start, end]
            reader = reader.option("start-snapshot-id", start)
            if end is not None:
                reader = reader.option("end-snapshot-id", end)
        elif snapshot_id is not None:  # time travel: table AS OF the snapshot
            reader = reader.option("snapshot-id", snapshot_id)
        return reader.load(tbl)

    def rollback(self, tbl: str, snapshot_id: int) -> None:
        self.spark.sql(
            f"CALL {self.catalog}.system.rollback_to_snapshot"
            f"('{tbl}', {snapshot_id})"
        )


class SimulatedIcebergBackend:
    """Iceberg snapshot semantics over local parquet + a JSON snapshot log.

    Per table (``root/<dotted.table.name>/``):
      * ``log.json`` — ordered snapshot entries ``{id, op, dir}`` with
        ``op in (append, replace)``, plus the created schema and the
        recorded partition spec;
      * ``s<id>/`` — the rows that snapshot ADDED.

    Reads reconstruct table content exactly as Iceberg's spec defines it:
    content AT snapshot S = rows of the last replace at-or-before S plus
    every append after it; incremental ``(start, end]`` = the append
    snapshots in that id range. Rollback truncates the log (and removes the
    discarded snapshots' data), which is what
    ``system.rollback_to_snapshot`` does to the table's current state.

    Snapshot ids are monotonically increasing ints — the store only relies on
    their order, never their values.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- log plumbing -------------------------------------------------------
    def _dir(self, tbl: str) -> str:
        return os.path.join(self.root, tbl)

    def _log_path(self, tbl: str) -> str:
        return os.path.join(self._dir(tbl), "log.json")

    def _log(self, tbl: str) -> dict:
        with open(self._log_path(tbl)) as f:
            return json.load(f)

    def _save_log(self, tbl: str, log: dict) -> None:
        tmp = self._log_path(tbl) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.rename(tmp, self._log_path(tbl))

    def _add_snapshot(self, tbl: str, log: dict, op: str, df: DataFrame) -> int:
        sid = log["next_id"]
        log["next_id"] = sid + 1
        df.write.mode("overwrite").parquet(os.path.join(self._dir(tbl), f"s{sid}"))
        log["snapshots"].append({"id": sid, "op": op, "dir": f"s{sid}"})
        self._save_log(tbl, log)
        return sid

    # -- backend surface ----------------------------------------------------
    def create_namespace(self, namespace: str) -> None:
        pass  # namespaces are implicit in the directory layout

    def table_exists(self, tbl: str) -> bool:
        return os.path.exists(self._log_path(tbl))

    def last_snapshot_id(self, tbl: str) -> int:
        log = self._log(tbl)
        return log["snapshots"][-1]["id"] if log["snapshots"] else -1

    def write(
        self,
        tbl: str,
        df: DataFrame,
        mode: str,
        bucket: tuple[int, str] | None = None,
    ) -> None:
        if mode == "append":
            if not self.table_exists(tbl):
                raise FileNotFoundError(f"append to missing table {tbl}")
            log = self._log(tbl)
            self._add_snapshot(tbl, log, "append", df)
            return
        if mode == "create" and self.table_exists(tbl):
            raise FileExistsError(tbl)
        if mode not in ("create", "createOrReplace"):
            raise ValueError(f"unknown write mode {mode!r}")
        if self.table_exists(tbl):
            log = self._log(tbl)
        else:
            os.makedirs(self._dir(tbl), exist_ok=True)
            log = {"snapshots": [], "next_id": 0, "schema": None, "partition": None}
        log["schema"] = df.schema.json()
        log["partition"] = list(bucket) if bucket is not None else None
        self._add_snapshot(tbl, log, "replace", df)

    def partition_spec(self, tbl: str):
        """Recorded (n, column) bucket spec, for layout-contract assertions."""
        return self._log(tbl).get("partition")

    def _empty(self, log: dict) -> DataFrame:
        schema = StructType.fromJson(json.loads(log["schema"]))
        return self.spark.createDataFrame([], schema)

    def read(
        self,
        tbl: str,
        snapshot_id: int | None = None,
        start: int | None = None,
        end: int | None = None,
    ) -> DataFrame:
        log = self._log(tbl)
        snaps = log["snapshots"]
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["id"] <= snapshot_id]
        if start is not None:
            hi = end if end is not None else (snaps[-1]["id"] if snaps else -1)
            sel = [s for s in snaps if s["op"] == "append" and start < s["id"] <= hi]
        else:  # the last replace and every append after it
            base = max(
                (i for i, s in enumerate(snaps) if s["op"] == "replace"), default=0
            )
            sel = snaps[base:]
        if not sel:
            return self._empty(log)
        dfs = [self.spark.read.parquet(os.path.join(self._dir(tbl), s["dir"])) for s in sel]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def rollback(self, tbl: str, snapshot_id: int) -> None:
        log = self._log(tbl)
        keep = [s for s in log["snapshots"] if s["id"] <= snapshot_id]
        dropped = [s for s in log["snapshots"] if s["id"] > snapshot_id]
        log["snapshots"] = keep
        self._save_log(tbl, log)
        for s in dropped:
            shutil.rmtree(os.path.join(self._dir(tbl), s["dir"]), ignore_errors=True)
