"""Golden of every statement ``SparkIcebergBackend`` would issue.

The sandbox has no network (maven DNS does not resolve) and no
iceberg-spark-runtime jar anywhere on disk, so the real-catalog e2e
(``test_iceberg_store.py``) stays skipped. This test pins the next-best
thing: drive ``IcebergCheckpointStore`` through a full lifecycle — create,
append rounds, post-commit totals append, time-travel / incremental /
bounded reads, crash-orphan rollback — on a RECORDING backend,
then replay the exact recorded call sequence through the REAL
``SparkIcebergBackend`` against a fake SparkSession that captures every SQL
string / writeTo chain / reader-option set. The captured statements are
asserted against a committed golden file, so any change to the dialect the
backend emits (the thing a real jar would exercise) is visible in review,
and bringing up a real catalog later means checking the golden, not
reverse-engineering the store.
"""

import os

from pyspark.sql import functions as F  # noqa: F401 (bucket transform needs a live session)

from fs_crawler_spark.sources.iceberg_backend import (
    SimulatedIcebergBackend,
    SparkIcebergBackend,
)
from fs_crawler_spark.sources.iceberg_store import IcebergCheckpointStore

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "iceberg_dialect.txt")


class RecordingBackend(SimulatedIcebergBackend):
    """Simulated semantics (so the store actually runs) + a call tape."""

    def __init__(self, spark, root):
        super().__init__(spark, root)
        self.calls = []

    def create_namespace(self, namespace):
        self.calls.append(("create_namespace", namespace))
        return super().create_namespace(namespace)

    def table_exists(self, tbl):
        self.calls.append(("table_exists", tbl))
        return super().table_exists(tbl)

    def last_snapshot_id(self, tbl):
        self.calls.append(("last_snapshot_id", tbl))
        return super().last_snapshot_id(tbl)

    def write(self, tbl, df, mode, bucket=None):
        self.calls.append(("write", tbl, mode, bucket))
        return super().write(tbl, df, mode, bucket=bucket)

    def read(self, tbl, snapshot_id=None, start=None, end=None):
        self.calls.append(("read", tbl, snapshot_id, start, end))
        return super().read(tbl, snapshot_id=snapshot_id, start=start, end=end)

    def rollback(self, tbl, snapshot_id):
        self.calls.append(("rollback", tbl, snapshot_id))
        return super().rollback(tbl, snapshot_id)


# -- fakes that capture what SparkIcebergBackend emits -----------------------
class _FakeResult:
    def collect(self):
        return []


class _FakeCatalog:
    def __init__(self, stmts):
        self._stmts = stmts

    def tableExists(self, tbl):
        self._stmts.append(f"catalog.tableExists('{tbl}')")
        return False


class _FakeReader:
    def __init__(self, stmts):
        self._stmts = stmts
        self._chain = "read"

    def format(self, fmt):
        self._chain += f".format('{fmt}')"
        return self

    def option(self, k, v):
        self._chain += f".option('{k}', {v})"
        return self

    def load(self, tbl):
        self._stmts.append(f"{self._chain}.load('{tbl}')")


class _FakeSpark:
    def __init__(self):
        self.stmts = []

    def sql(self, q):
        self.stmts.append(f"sql: {q}")
        return _FakeResult()

    @property
    def catalog(self):
        return _FakeCatalog(self.stmts)

    @property
    def read(self):
        return _FakeReader(self.stmts)


class _FakeWriter:
    def __init__(self, stmts, tbl):
        self._stmts = stmts
        self._chain = f"df.writeTo('{tbl}')"

    def partitionedBy(self, col):
        self._chain += f".partitionedBy({str(col)})"
        return self

    def append(self):
        self._stmts.append(self._chain + ".append()")

    def create(self):
        self._stmts.append(self._chain + ".create()")

    def createOrReplace(self):
        self._stmts.append(self._chain + ".createOrReplace()")


class _FakeDF:
    def __init__(self, stmts):
        self._stmts = stmts

    def writeTo(self, tbl):
        return _FakeWriter(self._stmts, tbl)


def _replay(calls):
    fake = _FakeSpark()
    backend = SparkIcebergBackend(fake, catalog="prod")
    for c in calls:
        op = c[0]
        if op == "create_namespace":
            backend.create_namespace(c[1])
        elif op == "table_exists":
            backend.table_exists(c[1])
        elif op == "last_snapshot_id":
            backend.last_snapshot_id(c[1])
        elif op == "write":
            backend.write(c[1], _FakeDF(fake.stmts), c[2], bucket=c[3])
        elif op == "read":
            backend.read(c[1], snapshot_id=c[2], start=c[3], end=c[4])
        elif op == "rollback":
            backend.rollback(c[1], c[2])
        else:  # pragma: no cover
            raise AssertionError(op)
    return fake.stmts


def test_spark_iceberg_backend_dialect_golden(spark, tmp_path):
    rec = RecordingBackend(spark, str(tmp_path / "ice"))
    store = IcebergCheckpointStore(spark, "prod.crawl", n_shards=8, backend=rec)

    def tdf(*urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    # round 0: every table created (seen with its bucket spec)
    store.commit(
        0,
        {
            "frontier": tdf("f0"),
            "seen": tdf("s0"),
            "vertices": tdf("v0"),
            "edges": tdf("e0"),
            "crawl_log": tdf("l0"),
        },
        meta={"urls_in": 1},
        snapshot_id=101,
    )
    # round 1: appends (seen without its bucket spec) + frontier replace
    store.commit(
        1,
        {
            "frontier": tdf("f1"),
            "seen": tdf("s1"),
            "vertices": tdf("v1"),
            "edges": tdf("e1"),
            "crawl_log": tdf("l1"),
        },
        meta={"urls_in": 1},
        snapshot_id=102,
    )
    # post-commit totals flush (manifest amendment append)
    store.append(1, "crawl_log", tdf("l1-totals"))
    # reads: per-round incremental, time-travel frontier, union-at-snapshot
    store.read(spark, 1, "vertices").collect()
    store.read(spark, 0, "frontier").collect()
    store.read_union(spark, "seen").collect()
    # crash: an orphan append that never got a manifest row, then recovery
    rec.write("prod.crawl.vertices", tdf("orphan"), "append")
    rolled = store.rollback_to_committed()
    assert rolled == ["vertices"]

    stmts = _replay(rec.calls)
    if not os.path.exists(GOLDEN):  # first run records the golden
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            f.write("\n".join(stmts) + "\n")
    with open(GOLDEN) as f:
        want = f.read().splitlines()
    assert stmts == want, (
        "SparkIcebergBackend dialect changed; review and re-record "
        f"{GOLDEN} (delete it and re-run this test)"
    )
    # the statements a real catalog would have to accept, spot-pinned:
    joined = "\n".join(stmts)
    assert "sql: CREATE NAMESPACE IF NOT EXISTS prod.crawl" in joined
    assert "df.writeTo('prod.crawl.seen').partitionedBy(" in joined
    # the crawl never rewrites a table, and a partition spec is set only
    # when a table is created
    assert "DELETE FROM" not in joined
    for s in stmts:
        if "partitionedBy(" in s:
            assert s.endswith(".create()"), s
    assert (
        "sql: CALL prod.system.rollback_to_snapshot('prod.crawl.vertices'," in joined
    )
    assert "read.format('iceberg').option('start-snapshot-id'," in joined
    assert "read.format('iceberg').option('snapshot-id'," in joined
