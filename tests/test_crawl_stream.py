"""Streaming feedback-loop crawl reaches the batch crawl's fixed point.

With host_budget=None micro-batches are 1:1 with BFS rounds, so the
(id, iteration) vertex table must be IDENTICAL to the batch driver's on the
same corpus+seed; under a budget the batch boundaries interleave deferrals,
so iterations differ but the fetched set / seen set / edge set are the same
fixed point.
"""

import tempfile

from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.corpus import build_pages, doc_url
from fs_crawler_spark.streaming.crawl_stream import (
    read_stream_output,
    start_crawl_stream,
)


def _run_stream(spark, pages, seeds, workdir, cfg):
    q = start_crawl_stream(spark, pages, seeds, workdir, cfg)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_stream_equals_batch_unbudgeted(spark, sf_dir, tmp_path):
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    cfg = CrawlConfig(max_rounds=40, host_budget=None)

    bdir = str(tmp_path / "batch")
    run_crawl(spark, pages, [doc_url(0)], bdir, cfg)
    sdir = str(tmp_path / "stream")
    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)

    bv = sorted(
        (r["id"], r["iteration"])
        for r in read_output(spark, bdir, "vertices").collect()
    )
    sv = sorted(
        (r["id"], r["iteration"])
        for r in read_stream_output(spark, sdir, "vertices").collect()
    )
    assert bv == sv and len(bv) == 60

    be = sorted(
        (r["source"], r["destination"])
        for r in read_output(spark, bdir, "edges").collect()
    )
    se = sorted(
        (r["source"], r["destination"])
        for r in read_stream_output(spark, sdir, "edges").collect()
    )
    assert be == se


def test_stream_budgeted_same_fixed_point(spark, sf_dir, tmp_path):
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()

    bdir = str(tmp_path / "batch")
    run_crawl(
        spark, pages, [doc_url(0)], bdir,
        CrawlConfig(max_rounds=60, host_budget=5),
    )
    sdir = str(tmp_path / "stream")
    _run_stream(
        spark, pages, [doc_url(0)], sdir,
        CrawlConfig(max_rounds=60, host_budget=5),
    )

    bset = {r["id"] for r in read_output(spark, bdir, "vertices").collect()}
    sset = {r["id"] for r in read_stream_output(spark, sdir, "vertices").collect()}
    assert bset == sset and len(bset) == 60

    bseen = {r["url"] for r in read_output(spark, bdir, "seen").collect()}
    sseen = {r["url"] for r in read_stream_output(spark, sdir, "seen").collect()}
    assert bseen == sseen


def test_read_optional_missing_vs_error(spark, tmp_path):
    """_read_optional recovers ONLY from 'path not found' (first batch);
    any other read failure must propagate instead of silently yielding
    seen=None (which would skip the seen anti-join and re-crawl)."""
    import pytest as _pytest

    from fs_crawler_spark.streaming.crawl_stream import FRONTIER_DDL, _read_optional

    ddl = FRONTIER_DDL
    assert _read_optional(spark, str(tmp_path / "nope"), ddl) is None
    with _pytest.raises(Exception):
        _read_optional(spark, "", ddl)  # invalid path: not a first-batch case
