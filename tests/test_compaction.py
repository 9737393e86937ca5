"""Seen compaction + robots-blocked-enters-seen invariants."""

from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages, doc_url


def test_compaction_preserves_seen_and_resume(spark, sf_dir, tmp_path):
    pages = build_pages(spark, sf_dir, limit_docs=120).cache()
    plain = str(tmp_path / "plain")
    comp = str(tmp_path / "comp")
    run_crawl(spark, pages, [doc_url(0)], plain, CrawlConfig(max_rounds=9, compact_every=None))
    run_crawl(spark, pages, [doc_url(0)], comp, CrawlConfig(max_rounds=9, compact_every=3))
    a = sorted(map(tuple, read_output(spark, plain, "seen").collect()))
    b = sorted(map(tuple, read_output(spark, comp, "seen").collect()))
    assert a == b
    # compaction actually happened and read_union starts there
    store = CheckpointStore(comp)
    compacted_rounds = [
        r for r in store.committed_rounds() if "seen" in store.manifest(r)["compacted"]
    ]
    assert compacted_rounds, "no compaction round recorded"
    # resume from a compacted store still works
    res = run_crawl(spark, pages, [doc_url(0)], comp, CrawlConfig(max_rounds=20, compact_every=3))
    v = read_output(spark, comp, "vertices")
    assert v.count() == 120
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
