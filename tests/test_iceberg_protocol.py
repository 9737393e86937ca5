"""Iceberg commit-protocol tests, catalog-free: the SimulatedIcebergBackend
reproduces the snapshot semantics the store relies on (append/replace/delete
log, time-travel, incremental (start,end] scans, rollback), so the protocol —
manifest-row-last atomicity, bounded reads (including the time-travel frontier
read past an orphan overwrite), rollback-on-resume — is pinned by end-to-end runs even though the sandbox has
no iceberg-spark-runtime jar. ``test_iceberg_store.py`` keeps the real-catalog
e2e for environments that have one."""

import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import CrawlConfig, run_crawl
from fs_crawler_spark.sources.corpus import build_pages, doc_url
from fs_crawler_spark.sources.iceberg_backend import SimulatedIcebergBackend
from fs_crawler_spark.sources.iceberg_store import IcebergCheckpointStore


@pytest.fixture(scope="module")
def pages60(spark, sf_dir):
    return build_pages(spark, sf_dir, limit_docs=60).cache()


def _store(spark, tmp_path, name, n_shards=8):
    backend = SimulatedIcebergBackend(spark, str(tmp_path / f"{name}_ice"))
    return IcebergCheckpointStore(
        spark, f"sim.{name}", n_shards=n_shards, backend=backend
    )


def _table_rows(spark, store, name):
    df = store.read_union(spark, name)
    assert df is not None, name
    return sorted(map(tuple, df.collect()))


def test_simulated_backend_snapshot_semantics(spark, tmp_path):
    b = SimulatedIcebergBackend(spark, str(tmp_path / "b"))
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], "x int")  # noqa: E731

    b.write("t", df(1), "create")  # snapshot 0
    b.write("t", df(2), "append")  # snapshot 1
    b.write("t", df(3), "append")  # snapshot 2
    assert b.last_snapshot_id("t") == 2
    # current content, time travel, incremental
    assert sorted(r["x"] for r in b.read("t").collect()) == [1, 2, 3]
    assert sorted(r["x"] for r in b.read("t", snapshot_id=1).collect()) == [1, 2]
    assert sorted(r["x"] for r in b.read("t", start=0, end=2).collect()) == [2, 3]
    # replace supersedes history; delete empties; both keep the log growing
    b.write("t", df(9), "createOrReplace")  # snapshot 3
    assert [r["x"] for r in b.read("t").collect()] == [9]
    assert sorted(r["x"] for r in b.read("t", snapshot_id=2).collect()) == [1, 2, 3]
    b.delete_all("t")  # snapshot 4
    assert b.read("t").count() == 0
    b.write("t", df(7), "append")  # snapshot 5
    assert [r["x"] for r in b.read("t").collect()] == [7]
    # rollback truncates to the given snapshot
    b.rollback("t", 3)
    assert b.last_snapshot_id("t") == 3
    assert [r["x"] for r in b.read("t").collect()] == [9]


def test_crawl_on_simulated_iceberg_matches_parquet(spark, pages60, tmp_path):
    cfg = CrawlConfig(max_rounds=30, host_budget=5)
    store = _store(spark, tmp_path, "e2e")
    res = run_crawl(spark, pages60, [doc_url(0)], str(tmp_path / "i"), cfg, store=store)
    run_crawl(spark, pages60, [doc_url(0)], str(tmp_path / "p"), cfg)

    assert res["total_fetched"] == 60
    for name in ("vertices", "edges", "seen"):
        got = _table_rows(spark, store, name)
        from fs_crawler_spark.plans.crawl import read_output

        want = sorted(map(tuple, read_output(spark, str(tmp_path / "p"), name).collect()))
        assert got == want, name
    # layout contract: seen is bucket(n_shards, url)-partitioned
    assert store.backend.partition_spec("sim.e2e.seen") == [8, "url"]


def test_crash_orphans_invisible_and_rolled_back(spark, pages60, tmp_path):
    """A crash between data appends and the manifest row must leave no trace:
    bounded reads never see the orphan rows, and resume rolls them back so the
    re-run round appends exactly once."""
    seeds = [doc_url(0)]
    cfg_full = CrawlConfig(max_rounds=30, host_budget=5)
    store = _store(spark, tmp_path, "crash")
    run_crawl(
        spark,
        pages60,
        seeds,
        str(tmp_path / "i"),
        CrawlConfig(max_rounds=2, host_budget=5),
        store=store,
    )
    committed = {n: _table_rows(spark, store, n) for n in ("seen", "vertices")}

    # simulate the crashed round-2 attempt: data appended, no manifest row
    for name in ("seen", "vertices"):
        orphan = store.read_union(spark, name).limit(4)
        store.backend.write(f"sim.crash.{name}", orphan, "append")
    store.backend.write(
        "sim.crash.frontier",
        store.read(spark, 1, "frontier").limit(1),
        "createOrReplace",
    )

    # orphans are invisible to bounded reads even before rollback
    for name in ("seen", "vertices"):
        assert _table_rows(spark, store, name) == committed[name], name
    # frontier read for round 1 time-travels past the orphan overwrite
    assert store.read(spark, 1, "frontier").count() > 1

    # resume: rollback discards the orphans, then the run completes cleanly
    res = run_crawl(spark, pages60, seeds, str(tmp_path / "i"), cfg_full, store=store)
    assert res["start_round"] == 2
    run_crawl(spark, pages60, seeds, str(tmp_path / "p"), cfg_full)

    from fs_crawler_spark.plans.crawl import read_output

    for name in ("vertices", "edges", "seen"):
        got = _table_rows(spark, store, name)
        want = sorted(map(tuple, read_output(spark, str(tmp_path / "p"), name).collect()))
        assert got == want, name


def test_totals_amendment_survives_rollback(spark, pages60, tmp_path):
    """The post-loop crawl_log totals flush is an amendment-manifested append:
    committed state, so rollback_to_committed must NOT discard it."""
    store = _store(spark, tmp_path, "amend")
    run_crawl(
        spark,
        pages60,
        [doc_url(0)],
        str(tmp_path / "i"),
        CrawlConfig(max_rounds=3, host_budget=5),
        store=store,
    )
    log = store.read_union(spark, "crawl_log")
    totals_before = log.filter(F.col("partition_id") == -1).count()
    assert totals_before == 3  # one totals row per round, incl. the flush
    assert store.rollback_to_committed() == []  # nothing uncommitted
    log = store.read_union(spark, "crawl_log")
    assert log.filter(F.col("partition_id") == -1).count() == totals_before
