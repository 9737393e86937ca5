"""LSM probe-list merges + robots-blocked-enters-seen invariants."""

from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages, doc_url


def test_probe_merge_preserves_output_and_resume(spark, sf_dir, tmp_path):
    """A crawl long enough for the LSM probe list to merge (rounds 3 and 6)
    commits what the same crawl commits when it is resumed after every round,
    where each call builds a single probe part from the checkpoint."""
    pages = build_pages(spark, sf_dir, limit_docs=120).cache()
    pages.count()
    robots = spark.createDataFrame(
        [("hub.example.com", "/doc/3")], "host string, disallow_prefix string"
    )
    seeds = [doc_url(0)]
    whole = str(tmp_path / "whole")
    stepped = str(tmp_path / "stepped")
    persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = run_crawl(
        spark, pages, seeds, whole, CrawlConfig(max_rounds=9, host_budget=7), robots=robots
    )
    # no probe part (merged or replaced) outlives the call
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persistent
    assert res["rounds"] >= 7, res  # the list merged at least twice
    for k in range(1, res["rounds"] + 1):
        run_crawl(
            spark, pages, seeds, stepped, CrawlConfig(max_rounds=k, host_budget=7), robots=robots
        )

    for table, cols in (
        ("vertices", ("id", "iteration")),
        ("edges", ("source", "destination", "type", "id")),
        ("seen", ("url", "url_hash", "host", "discovered_iter")),
    ):
        a = read_output(spark, whole, table).select(*cols).collect()
        b = read_output(spark, stepped, table).select(*cols).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), table
    # the checkpoint only appends: each seen url sits in exactly one delta
    store = CheckpointStore(whole)
    per_round = sum(store.read(spark, r, "seen").count() for r in store.committed_rounds())
    assert per_round == read_output(spark, whole, "seen").select("url").distinct().count()
    pages.unpersist()


def test_robots_blocked_enter_seen(spark, sf_dir, tmp_path, exact_urls_deduped):
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    robots = spark.createDataFrame(
        [("hub.example.com", "/doc/3")], "host string, disallow_prefix string"
    )
    d = str(tmp_path / "ckpt")
    run_crawl(spark, pages, [doc_url(0)], d, CrawlConfig(max_rounds=20), robots=robots)
    seen = read_output(spark, d, "seen")
    vertices = read_output(spark, d, "vertices")
    # blocked urls (hub /doc/3*) are seen but never fetched
    blocked_seen = seen.filter(F.col("url").rlike("hub.example.com/doc/3")).count()
    blocked_fetched = vertices.filter(F.col("id").rlike("hub.example.com/doc/3")).count()
    assert blocked_seen == 5  # docs 3, 30, 33, 36, 39
    assert blocked_fetched == 0
    # seen rows are unique per url
    assert seen.count() == seen.select("url").distinct().count()
    # the logged dedup metric (seen before, fetched or blocked) is exact
    log = read_output(spark, d, "crawl_log").filter(F.col("partition_id") == -1)
    for row in log.collect():
        r = row["iteration"]
        assert row["urls_deduped"] == exact_urls_deduped(pages, d, r), r
    # a blocked seed is gated like a discovered url: never fetched, and
    # seen only once the crawl discovers it
    d3 = str(tmp_path / "ckpt3")
    seeds = [doc_url(0), doc_url(3)]
    run_crawl(spark, pages, seeds, d3, CrawlConfig(max_rounds=20), robots=robots)
    for table in ("vertices", "seen"):
        a = read_output(spark, d, table).collect()
        b = read_output(spark, d3, table).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), table
    pages.unpersist()
