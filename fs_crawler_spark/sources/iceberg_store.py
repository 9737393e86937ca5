"""Iceberg-native snapshot store (SURVEY.md S4/S5; north_rule "over Iceberg
tables") — the production backend the parquet ``CheckpointStore`` models.

Same surface as ``CheckpointStore`` (commit / read / read_union / manifest /
committed_rounds / latest_round / append), so ``run_crawl(...,
store=IcebergCheckpointStore(spark, "cat.crawl_ns"))`` is a drop-in swap.
Mapping:

  * logical table X -> one Iceberg table ``{namespace}.X``; per-round deltas
    of append tables (seen, vertices, edges, crawl_log) are APPEND commits,
    the frontier (replace table) is an overwrite commit;
  * the seen table is ``bucket(n_shards, url)``-partitioned — the per-round
    candidates anti-join against it becomes a STORAGE-PARTITIONED JOIN
    (SPARK-37375): no shuffle of the seen side. The layout is table-level
    (set when the table is created), so ``commit`` takes no partitioning;
  * a crawl round is committed by appending ONE row to the tiny
    ``{namespace}.round_manifests`` table — written LAST, so a round exists
    iff its manifest row does (the parquet store's MANIFEST.json analog; a
    killed run resumes from the previous round exactly);
  * each manifest row records the per-table Iceberg snapshot ids the round
    produced. Every read is BOUNDED by those recorded snapshots — append
    tables by incremental ``(start, end]`` scans, replace tables (frontier)
    and union views by time-travel to the recorded end snapshot — so rows a
    crashed attempt wrote WITHOUT a manifest row are never visible (its
    frontier overwrite included), and a historical round's frontier reads
    back exactly what that round wrote, not whatever the live table holds;
  * on resume, ``rollback_to_committed()`` rolls every data table back to the
    last manifest-recorded snapshot (``system.rollback_to_snapshot``), so
    re-running a half-committed round appends exactly once — the Iceberg
    equivalent of the parquet store's idempotent round-dir overwrite;
  * post-commit appends (the final crawl_log totals flush) write a manifest
    AMENDMENT row for the same round, so those rows are part of the
    committed state and survive rollback.

The catalog operations live behind ``iceberg_backend``: the real
``SparkIcebergBackend`` when a catalog is configured, or the
``SimulatedIcebergBackend`` (same snapshot semantics over parquet + a JSON
log) which the test suite uses to exercise this protocol end-to-end — the
sandbox image has no Iceberg runtime jar. Reference analog: the SQLite
dump-on-close sink (fscrawler/graph_db_impl.py:268-290) — one durable
snapshot per run there, one per ROUND here.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .iceberg_backend import SparkIcebergBackend

APPEND_TABLES = ("seen", "vertices", "edges", "crawl_log")
MANIFEST_TABLE = "round_manifests"

_MANIFEST_SCHEMA = (
    "round int, snapshot_id long, tables string, compacted string, "
    "meta string, table_snapshots string"
)


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True iff an Iceberg catalog is configured in this session. When
    ``catalog`` is None, checks any ``spark.sql.catalog.*`` entry whose
    implementation mentions iceberg."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        return False
    for k, v in confs:
        if not k.startswith("spark.sql.catalog."):
            continue
        if catalog is not None and k != f"spark.sql.catalog.{catalog}":
            continue
        if "iceberg" in str(v).lower():
            return True
    return False


def encode_manifest(manifest: dict[str, Any]) -> tuple:
    """Manifest dict -> a row for the round_manifests table (pure)."""
    return (
        int(manifest["round"]),
        int(manifest["snapshot_id"]),
        json.dumps(sorted(manifest.get("tables", []))),
        json.dumps(sorted(manifest.get("compacted", []))),
        json.dumps(manifest.get("meta", {})),
        json.dumps(manifest.get("table_snapshots", {})),
    )


def decode_manifest(row: Any) -> dict[str, Any]:
    """round_manifests row -> the manifest dict CheckpointStore callers see
    (pure inverse of encode_manifest)."""
    return {
        "round": int(row["round"]),
        "snapshot_id": int(row["snapshot_id"]),
        "tables": json.loads(row["tables"]),
        "compacted": json.loads(row["compacted"]),
        "meta": json.loads(row["meta"]),
        "table_snapshots": json.loads(row["table_snapshots"]),
    }


def merge_manifest_rows(rows: list[dict[str, Any]]) -> dict[str, Any]:
    """Fold a round's base manifest row + amendment rows (post-commit appends,
    e.g. the final crawl_log totals flush) into one manifest dict. Amendments
    extend the table's recorded snapshot range forward; the base row's meta is
    authoritative (pure)."""
    rows = sorted(rows, key=lambda m: m["snapshot_id"])
    base_rows = [m for m in rows if not m["meta"].get("amendment")]
    base = base_rows[0] if base_rows else rows[0]
    out = dict(base)
    out["tables"] = list(out["tables"])
    out["table_snapshots"] = {k: list(v) for k, v in out["table_snapshots"].items()}
    for m in rows:
        if m is base:
            continue
        for name in m["tables"]:
            if name not in out["tables"]:
                out["tables"].append(name)
        for name, (s, e) in m["table_snapshots"].items():
            if name in out["table_snapshots"]:
                s0, e0 = out["table_snapshots"][name]
                out["table_snapshots"][name] = [min(s0, s), max(e0, e)]
            else:
                out["table_snapshots"][name] = [s, e]
    out["tables"] = sorted(out["tables"])
    return out


class IcebergCheckpointStore:
    def __init__(
        self,
        spark: SparkSession,
        namespace: str,
        n_shards: int = 32,
        backend: Any | None = None,
    ) -> None:
        """``namespace`` is a fully qualified Iceberg namespace, e.g.
        ``my_catalog.crawl_run_7``; it is created if absent. ``backend``
        overrides the catalog operations (default: the real Spark/Iceberg
        backend, which requires a configured catalog; tests pass
        ``SimulatedIcebergBackend``)."""
        if backend is None:
            catalog = namespace.split(".", 1)[0]
            if not iceberg_available(spark, catalog):
                raise RuntimeError(
                    f"no Iceberg catalog configured for '{namespace}' — use the "
                    "parquet CheckpointStore, pass a SimulatedIcebergBackend, or "
                    "add the iceberg-spark-runtime jar and a "
                    "spark.sql.catalog.<name> configuration"
                )
            backend = SparkIcebergBackend(spark, catalog)
        self.spark = spark
        self.namespace = namespace
        self.n_shards = n_shards
        self.backend = backend
        self.root = namespace  # parity with CheckpointStore diagnostics
        backend.create_namespace(namespace)

    # -- identifiers ---------------------------------------------------------
    def _tbl(self, name: str) -> str:
        return f"{self.namespace}.{name}"

    def _exists(self, name: str) -> bool:
        return self.backend.table_exists(self._tbl(name))

    def _last_snapshot_id(self, name: str) -> int:
        return self.backend.last_snapshot_id(self._tbl(name))

    # -- write path -----------------------------------------------------------
    def _write_table(self, name: str, df: DataFrame) -> tuple[int, int]:
        """Write one logical table for this round; returns the (start, end]
        Iceberg snapshot-id range the round's rows occupy."""
        exists = self._exists(name)
        start = self._last_snapshot_id(name) if exists else -1
        bucket = (self.n_shards, "url") if name == "seen" else None
        if name in APPEND_TABLES:
            mode = "append" if exists else "create"
        else:  # replace tables (frontier): the round's table is the whole state
            mode = "createOrReplace"
        self.backend.write(self._tbl(name), df, mode, bucket=bucket)
        return start, self._last_snapshot_id(name)

    def commit(
        self,
        round_i: int,
        tables: dict[str, DataFrame],
        meta: dict[str, Any] | None = None,
        compacted: list[str] | None = None,
        snapshot_id: int | None = None,
    ) -> int:
        import time

        snapshot_id = snapshot_id or time.time_ns()
        table_snapshots: dict[str, list[int]] = {}
        for name, df in tables.items():
            if name in (compacted or []) and self._exists(name):
                # compaction: the full rewrite REPLACES the table content
                self.backend.delete_all(self._tbl(name))
                start = self._last_snapshot_id(name)
                self.backend.write(self._tbl(name), df, "append")
                table_snapshots[name] = [start, self._last_snapshot_id(name)]
            else:
                table_snapshots[name] = list(self._write_table(name, df))
        self._append_manifest_row(
            {
                "round": round_i,
                "snapshot_id": snapshot_id,
                "tables": sorted(tables),
                "compacted": sorted(compacted or []),
                "meta": meta or {},
                "table_snapshots": table_snapshots,
            }
        )
        return snapshot_id

    def _append_manifest_row(self, manifest: dict[str, Any]) -> None:
        row_df = self.spark.createDataFrame(
            [encode_manifest(manifest)], _MANIFEST_SCHEMA
        )
        mode = "append" if self._exists(MANIFEST_TABLE) else "create"
        self.backend.write(self._tbl(MANIFEST_TABLE), row_df, mode)  # commit point

    def append(self, round_i: int, name: str, df: DataFrame) -> None:
        """Post-commit append to an already-committed round's table (the final
        crawl_log totals flush). A manifest AMENDMENT row extends the round's
        recorded snapshot range so these rows are committed state — visible to
        bounded reads, preserved by rollback_to_committed."""
        import time

        start = self._last_snapshot_id(name) if self._exists(name) else -1
        self.backend.write(self._tbl(name), df, "append")
        self._append_manifest_row(
            {
                "round": round_i,
                "snapshot_id": time.time_ns(),
                "tables": [name],
                "compacted": [],
                "meta": {"amendment": True},
                "table_snapshots": {name: [start, self._last_snapshot_id(name)]},
            }
        )

    # -- manifests --------------------------------------------------------------
    def _manifest_rows(self) -> list[dict[str, Any]]:
        if not self._exists(MANIFEST_TABLE):
            return []
        rows = self.backend.read(self._tbl(MANIFEST_TABLE)).collect()
        return [decode_manifest(r) for r in rows]

    def committed_rounds(self) -> list[int]:
        return sorted({m["round"] for m in self._manifest_rows()})

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, round_i: int) -> dict[str, Any]:
        rows = [m for m in self._manifest_rows() if m["round"] == round_i]
        if not rows:
            raise FileNotFoundError(f"round {round_i} not committed in {self.namespace}")
        return merge_manifest_rows(rows)

    def _committed_end(self, name: str, up_to_round: int | None = None) -> int | None:
        """Largest manifest-recorded end snapshot for a table (bounded by
        round when given) — the edge of committed state; None if the table
        appears in no manifest."""
        ends = [
            m["table_snapshots"][name][1]
            for m in self._manifest_rows()
            if name in m["table_snapshots"]
            and (up_to_round is None or m["round"] <= up_to_round)
        ]
        return max(ends) if ends else None

    # -- crash recovery ----------------------------------------------------------
    def rollback_to_committed(self) -> list[str]:
        """Roll every data table back to its last manifest-recorded snapshot,
        discarding rows a crashed attempt wrote without reaching its manifest
        row. Returns the tables rolled back. Call on resume — the Iceberg
        analog of the parquet store's idempotent round-dir overwrite (a
        re-run round must append exactly once)."""
        rolled = []
        names = {
            name for m in self._manifest_rows() for name in m["table_snapshots"]
        }
        for name in sorted(names):
            target = self._committed_end(name)
            if target is None or not self._exists(name):
                continue
            if self._last_snapshot_id(name) > target:
                self.backend.rollback(self._tbl(name), target)
                rolled.append(name)
        return rolled

    # -- read path --------------------------------------------------------------
    def read(self, spark: SparkSession, round_i: int, name: str) -> DataFrame:
        """This round's rows of a table, bounded by the round's manifest.
        Append tables: incremental scan over the recorded (start, end] range
        (time-travel to end when the table was created this round).
        crawl_log: the committed table as of this round (post-commit amendment
        appends included; callers filter on iteration). Replace tables
        (frontier): time-travel to the recorded end snapshot — NOT the live
        table, which a later round's (or a crashed attempt's) overwrite may
        have replaced; historical reads (e.g. the per-round CSV export of an
        earlier round) get exactly what that round committed."""
        if name == "crawl_log":
            end = self._committed_end(name)
            return self.backend.read(self._tbl(name), snapshot_id=end)
        snaps = self.manifest(round_i)["table_snapshots"].get(name)
        if not snaps:
            return self.backend.read(self._tbl(name))
        start, end = snaps
        if name in APPEND_TABLES and start >= 0:
            return self.backend.read(self._tbl(name), start=start, end=end)
        return self.backend.read(self._tbl(name), snapshot_id=end)

    def read_union(
        self, spark: SparkSession, name: str, up_to_round: int | None = None
    ) -> DataFrame | None:
        """Iceberg IS the union of its appends — read at the last
        manifest-recorded snapshot (bounded by round when given), so orphan
        rows from a crashed attempt are never visible even before
        rollback_to_committed runs."""
        if not self._exists(name):
            return None
        end = self._committed_end(name, up_to_round)
        if end is None:
            return None
        return self.backend.read(self._tbl(name), snapshot_id=end)
