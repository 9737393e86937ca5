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


@pytest.mark.parametrize("rule", [None, ("hub.example.com", "/doc/3")], ids=["no_robots", "robots"])
def test_resume_is_identical(spark, pages120, tmp_path, rule):
    full_dir = str(tmp_path / "full")
    resumed_dir = str(tmp_path / "resumed")
    seeds = [doc_url(0)]
    # with a rule, the resumed rounds' seen deltas carry robots-blocked urls
    robots = None
    if rule is not None:
        robots = spark.createDataFrame([rule], "host string, disallow_prefix string")

    run_crawl(spark, pages120, seeds, full_dir, CrawlConfig(max_rounds=4), robots=robots)
    # killed after round 1, then resumed
    run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=2), robots=robots)
    res2 = run_crawl(spark, pages120, seeds, resumed_dir, CrawlConfig(max_rounds=4), robots=robots)
    assert res2["start_round"] == 2

    for table in ("vertices", "edges", "seen"):
        a = read_output(spark, full_dir, table)
        b = read_output(spark, resumed_dir, table)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect())), table

    # the per-partition lineage rows are keyed on the url, so they match too
    # (snapshot_id is a commit timestamp, so it is left out)
    def lineage(d):
        log = read_output(spark, d, "crawl_log").filter(F.col("partition_id") >= 0)
        return sorted(map(tuple, log.select("iteration", "partition_id", "urls_in").collect()))

    assert lineage(full_dir) == lineage(resumed_dir) != []


def test_crawl_log_lineage(spark, pages120, tmp_path, exact_urls_deduped):
    from fs_crawler_spark.sources.checkpoint import CheckpointStore

    d = str(tmp_path / "c")
    # a budget small enough that later rounds defer part of the frontier
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=6, host_budget=7))
    log = read_output(spark, d, "crawl_log")
    totals = log.filter(F.col("partition_id") == -1)
    assert totals.count() == 6  # one total row per round
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
    vertices = read_output(spark, d, "vertices")
    fetched_total = totals.agg(F.sum("urls_fetched")).collect()[0][0]
    assert fetched_total == vertices.count()
    # the logged frontier gauge is exact: each round's total equals the size
    # of the frontier that round committed
    store = CheckpointStore(d)
    by_round = {r["iteration"]: r for r in totals.collect()}
    for r, row in by_round.items():
        assert row["frontier"] == store.read(spark, r, "frontier").count(), r
    # the logged dedup metric is exact in every round
    for r, row in by_round.items():
        assert row["urls_deduped"] == exact_urls_deduped(pages120, d, r), r
    # the budget deferred rows: some round batched less than the frontier
    # the previous round left behind
    assert any(
        by_round[r]["urls_in"] < by_round[r - 1]["frontier"] for r in range(1, 6)
    )


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


def _mark_delta_frontier(manifest):
    manifest["meta"]["frontier_full"] = False


def _mark_shard_seen(manifest):
    manifest["schemas"]["seen"]["fields"].append(
        {"name": "shard", "type": "integer", "nullable": True, "metadata": {}}
    )


def _mark_compacted_seen(manifest):
    manifest["compacted"] = ["seen"]


@pytest.mark.parametrize(
    "mark_legacy",
    [_mark_delta_frontier, _mark_shard_seen, _mark_compacted_seen],
    ids=["delta_frontier", "shard_seen", "compacted_seen"],
)
def test_delta_frontier_checkpoint_is_refused(spark, pages120, tmp_path, mark_legacy):
    """Checkpoints of older builds that the current reader would misread are
    refused, naming the round:
      * a delta frontier (manifest ``frontier_full: false``) holds only the
        round's new urls; reading it as the whole frontier drops urls;
      * a shard-partitioned seen table (an extra ``shard`` column) does not
        union with the plain seen deltas a resumed run writes;
      * a compacted seen table (manifest ``compacted: ["seen"]``) holds the
        whole seen set, so a union of deltas would repeat its rows. Resume
        and ``read_output`` refuse it; ``load_frontier`` reads only the
        frontier, which stays correct."""
    import json
    import os

    from fs_crawler_spark.plans.crawl import load_frontier

    d = str(tmp_path / "c")
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=2))
    path = os.path.join(d, "snapshots", "round=1", "MANIFEST.json")
    with open(path) as f:
        manifest = json.load(f)
    mark_legacy(manifest)
    with open(path, "w") as f:
        json.dump(manifest, f)

    with pytest.raises(ValueError, match="round 1"):
        run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=4))
    if mark_legacy is _mark_compacted_seen:
        with pytest.raises(ValueError, match="round 1"):
            read_output(spark, d, "seen")
    else:
        with pytest.raises(ValueError, match="round 1"):
            load_frontier(spark, d)


def test_missing_table_dir_of_committed_round_raises(spark, pages120, tmp_path):
    """A committed round's seen delta that is gone must fail loudly: reading
    the remaining rounds instead would re-crawl the lost urls on resume and
    drop them from the output."""
    import os
    import shutil

    d = str(tmp_path / "c")
    run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=2))
    shutil.rmtree(os.path.join(d, "snapshots", "round=0", "seen"))

    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_output(spark, d, "seen")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        run_crawl(spark, pages120, [doc_url(0)], d, CrawlConfig(max_rounds=4))
