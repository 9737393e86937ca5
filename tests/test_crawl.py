"""Golden-output crawl tests, mirroring the reference's golden-array style
(tests/util/test_db_reader.py): small corpus -> N rounds -> exact tables."""

import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.functions.urls import url_host
from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.corpus import build_pages, doc_url


def expected_bfs(n: int, seeds: list[int], max_rounds: int) -> dict[int, int]:
    """Pure-python oracle: doc -> BFS round (min depth), capped at max_rounds."""

    def children(d):
        out = []
        if 2 * d + 1 < n:
            out.append(2 * d + 1)
        if 2 * d + 2 < n:
            out.append(2 * d + 2)
        c = (7 * d + 3) % n
        if c != d:
            out.append(c)
        return out

    depth = {s: 0 for s in seeds}
    frontier = list(seeds)
    for it in range(1, max_rounds):
        nxt = []
        for d in frontier:
            for c in children(d):
                if c not in depth:
                    depth[c] = it
                    nxt.append(c)
        frontier = nxt
    return depth


@pytest.fixture(scope="module")
def pages120(spark, sf_dir):
    return build_pages(spark, sf_dir, limit_docs=120).cache()


def test_bfs_crawl_matches_oracle(spark, pages120, tmp_path):
    max_rounds = 5
    res = run_crawl(
        spark,
        pages120,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=max_rounds),
    )
    assert res["rounds"] == max_rounds
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    got = {r["id"]: r["iteration"] for r in vertices.collect()}
    want = {doc_url(d): it for d, it in expected_bfs(120, [0], max_rounds).items()}
    assert got == want


def test_crawl_to_exhaustion(spark, pages120, tmp_path):
    res = run_crawl(
        spark,
        pages120,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=25),
    )
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    # the whole 120-doc universe is reachable from doc 0 and fetched once each
    assert vertices.count() == 120
    assert vertices.select("id").distinct().count() == 120
    assert res["rounds"] < 25  # frontier exhausted before the cap


def test_politeness_budget_respected(spark, sf_dir, tmp_path):
    budget = 3
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    run_crawl(
        spark,
        pages,
        seeds=[doc_url(0)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        cfg=CrawlConfig(max_rounds=40, host_budget=budget),
    )
    vertices = read_output(spark, str(tmp_path / "ckpt"), "vertices")
    per_round_host = (
        vertices.select(url_host(F.col("id")).alias("host"), "iteration")
        .groupBy("host", "iteration")
        .count()
    )
    assert per_round_host.filter(F.col("count") > budget).count() == 0
    # budget defers, never drops: full reachable set still crawled
    assert vertices.count() == 60
    pages.unpersist()


def test_resume_is_identical(spark, pages120, tmp_path):
    full_dir = str(tmp_path / "full")
    resumed_dir = str(tmp_path / "resumed")
    seeds = [doc_url(0)]

    run_crawl(spark, pages120, seeds, full_dir, CrawlConfig(max_rounds=4))
    # killed after round 1, then resumed
    run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=2))
    res2 = run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=4))
    assert res2["start_round"] == 2

    for table in ("vertices", "edges", "seen"):
        a = read_output(spark, full_dir, table)
        b = read_output(spark, resumed_dir, table)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), table


def test_crawl_log_lineage(spark, pages120, tmp_path):
    run_crawl(spark, pages120, [doc_url(0)], str(tmp_path / "c"), CrawlConfig(max_rounds=3))
    log = read_output(spark, str(tmp_path / "c"), "crawl_log")
    totals = log.filter(F.col("partition_id") == -1)
    assert totals.count() == 3  # one total row per round
    # per-partition urls_in sums to the round total
    per_part = (
        log.filter(F.col("partition_id") >= 0)
        .groupBy("iteration")
        .agg(F.sum("urls_in").alias("s"))
    )
    joined = per_part.join(totals.select("iteration", "urls_in"), "iteration")
    assert joined.filter(F.col("s") != F.col("urls_in")).count() == 0
    assert totals.filter(F.col("snapshot_id") <= 0).count() == 0
    # fetched totals equal the vertex count
    vertices = read_output(spark, str(tmp_path / "c"), "vertices")
    fetched_total = totals.agg(F.sum("urls_fetched")).collect()[0][0]
    assert fetched_total == vertices.count()


def test_resume_rederives_lost_totals(spark, pages120, tmp_path):
    """Round r's totals row piggybacks on round r+1's commit; a crash before
    that commit loses it. Resume must re-derive it from committed counts so
    the log export never silently skews cumulative counts."""
    import os
    import shutil

    d = str(tmp_path / "c")
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=2))

    # simulate the crash: strip round 1's own totals row (the clean-stop
    # flush wrote it into round 1's dir; a killed run never would have)
    p = os.path.join(d, "snapshots", "round=1", "crawl_log")
    kept = (
        spark.read.parquet(p)
        .filter(~((F.col("partition_id") == -1) & (F.col("iteration") == 1)))
        .collect()
    )
    schema = spark.read.parquet(p).schema
    shutil.rmtree(p)
    spark.createDataFrame(kept, schema).write.parquet(p)

    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=4))
    log = read_output(spark, d, "crawl_log")
    totals = {r["iteration"]: r for r in log.filter(F.col("partition_id") == -1).collect()}
    assert sorted(totals) == [0, 1, 2, 3]
    # re-derived from committed counts: fetched == round-1 vertex delta
    v1 = spark.read.parquet(os.path.join(d, "snapshots", "round=1", "vertices"))
    assert totals[1]["urls_fetched"] == v1.count()
    assert totals[1]["duration"] == 0.0  # unrecoverable, zeroed


def test_frontier_delta_mode_identical_and_resumable(spark, pages120, tmp_path):
    """Delta-frontier commits (auto under a host budget) must produce
    byte-identical tables and crawl ordering vs full rewrites, and resume
    from the reconstructed frontier."""
    rw = str(tmp_path / "rw")
    dl = str(tmp_path / "dl")
    res = str(tmp_path / "res")
    budget = 7  # defers most of the frontier -> deltas actually differ
    run_crawl(
        spark, pages120, [doc_url(0)], rw,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="rewrite"),
    )
    run_crawl(
        spark, pages120, [doc_url(0)], dl,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="delta"),
    )
    for table in ("vertices", "edges", "seen"):
        a = sorted(map(tuple, read_output(spark, rw, table).collect()))
        b = sorted(map(tuple, read_output(spark, dl, table).collect()))
        assert a == b, table
    # reconstructed frontier == committed full frontier, row for row
    from fs_crawler_spark.plans.crawl import load_frontier

    fa = sorted(map(tuple, load_frontier(spark, rw).collect()))
    fb = sorted(map(tuple, load_frontier(spark, dl).collect()))
    assert fa == fb
    # exact frontier gauge in the log totals at every round
    log_rw = {
        r["iteration"]: r["frontier"]
        for r in read_output(spark, rw, "crawl_log")
        .filter(F.col("partition_id") == -1).collect()
    }
    log_dl = {
        r["iteration"]: r["frontier"]
        for r in read_output(spark, dl, "crawl_log")
        .filter(F.col("partition_id") == -1).collect()
    }
    assert log_rw == log_dl
    # kill/resume through the delta reconstruction path
    run_crawl(
        spark, pages120, [doc_url(0)], res,
        CrawlConfig(max_rounds=3, host_budget=budget, frontier_mode="delta"),
    )
    r2 = run_crawl(
        spark, pages120, [doc_url(0)], res,
        CrawlConfig(max_rounds=6, host_budget=budget, frontier_mode="delta"),
    )
    assert r2["start_round"] == 3
    for table in ("vertices", "edges", "seen"):
        a = sorted(map(tuple, read_output(spark, rw, table).collect()))
        b = sorted(map(tuple, read_output(spark, res, table).collect()))
        assert a == b, f"resume {table}"
