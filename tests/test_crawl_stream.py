"""Streaming feedback-loop crawl reaches the batch crawl's fixed point.

With host_budget=None micro-batches are 1:1 with BFS rounds, so the
(id, iteration) vertex table must be IDENTICAL to the batch driver's on the
same corpus+seed; under a budget the batch boundaries interleave deferrals,
so iterations differ but the fetched set / seen set / edge set are the same
fixed point. Micro-batch N commits as round N of the workdir's
CheckpointStore, so both drivers' outputs are read with ``read_output``.
"""

import os

import pytest

from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages, doc_url
from fs_crawler_spark.streaming.crawl_stream import start_crawl_stream


def _run_stream(spark, pages, seeds, workdir, cfg, robots=None):
    q = start_crawl_stream(spark, pages, seeds, workdir, cfg, robots=robots)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _rows(spark, workdir, table, cols):
    return sorted(
        tuple(r) for r in read_output(spark, workdir, table).select(*cols).collect()
    )


def test_stream_equals_batch_unbudgeted(spark, sf_dir, tmp_path):
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    cfg = CrawlConfig(max_rounds=40, host_budget=None)

    bdir = str(tmp_path / "batch")
    run_crawl(spark, pages, [doc_url(0)], bdir, cfg)
    sdir = str(tmp_path / "stream")
    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)

    bv = _rows(spark, bdir, "vertices", ("id", "iteration"))
    sv = _rows(spark, sdir, "vertices", ("id", "iteration"))
    assert bv == sv and len(bv) == 60

    be = _rows(spark, bdir, "edges", ("source", "destination"))
    se = _rows(spark, sdir, "edges", ("source", "destination"))
    assert be == se


def test_stream_budgeted_same_fixed_point(spark, sf_dir, tmp_path):
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    cfg = CrawlConfig(max_rounds=60, host_budget=5)
    robots = spark.createDataFrame(
        [("hub.example.com", "/doc/3")], "host string, disallow_prefix string"
    )

    bdir = str(tmp_path / "batch")
    run_crawl(spark, pages, [doc_url(0)], bdir, cfg, robots=robots)
    sdir = str(tmp_path / "stream")
    _run_stream(spark, pages, [doc_url(0)], sdir, cfg, robots=robots)

    bset = _rows(spark, bdir, "vertices", ("id",))
    sset = _rows(spark, sdir, "vertices", ("id",))
    # hub /doc/3* urls (docs 3, 30, 33, 36, 39) are blocked, never fetched
    assert bset == sset and len(bset) == 55

    # a sorted list, not a set: every url (blocked ones too) is seen once
    bseen = _rows(spark, bdir, "seen", ("url",))
    sseen = _rows(spark, sdir, "seen", ("url",))
    assert bseen == sseen and len(sseen) == 60


def test_replayed_batch_commits_once(spark, sf_dir, tmp_path):
    """A batch that committed its round but not Spark's commit log is re-run
    on restart. It reads only earlier rounds' seen, so it recomputes the same
    rows (it does not anti-join against its own) and its commit overwrites
    the round: the output has no duplicates and equals the output before."""
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    cfg = CrawlConfig(max_rounds=60, host_budget=5)
    sdir = str(tmp_path / "stream")
    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)

    tables = {
        "vertices": ("id", "iteration"),
        "edges": ("source", "destination"),
        "seen": ("url", "url_hash", "host", "discovered_iter"),
    }
    before = {t: _rows(spark, sdir, t, cols) for t, cols in tables.items()}
    store = CheckpointStore(sdir)
    last = store.latest_round()
    last_vertices = store.read(spark, last, "vertices").count()
    assert last_vertices > 0

    # the crash: round `last` committed, Spark's commit log entry lost
    commits = os.path.join(sdir, "_stream_checkpoint", "commits")
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    os.remove(os.path.join(sdir, "snapshots", f"round={last}", "MANIFEST.json"))
    assert store.latest_round() == last - 1

    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)
    # replayed, and it fetched its batch again rather than nothing
    assert last in store.committed_rounds()
    assert store.read(spark, last, "vertices").count() == last_vertices
    after = {t: _rows(spark, sdir, t, cols) for t, cols in tables.items()}
    assert after == before
    assert len(set(r[0] for r in after["vertices"])) == len(after["vertices"]) == 60
    assert len(set(after["edges"])) == len(after["edges"])
    assert len(set(r[0] for r in after["seen"])) == len(after["seen"]) == 60


def test_restarted_finished_stream_commits_nothing(spark, sf_dir, tmp_path):
    """Restarting a stream that crawled to exhaustion writes no second seed
    file, so it runs no micro-batch and commits no empty round."""
    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    cfg = CrawlConfig(max_rounds=40, host_budget=None)
    sdir = str(tmp_path / "stream")
    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)
    store = CheckpointStore(sdir)
    last = store.latest_round()

    _run_stream(spark, pages, [doc_url(0)], sdir, cfg)
    assert store.latest_round() == last


def test_stream_refuses_legacy_workdir(spark, tmp_path):
    """A workdir of the older stream layout (raw append dirs, seen/ among
    them) is refused rather than crawled again from the seeds."""
    os.makedirs(tmp_path / "seen")
    with pytest.raises(ValueError, match="seen/"):
        start_crawl_stream(spark, None, [doc_url(0)], str(tmp_path))
    assert not os.path.exists(tmp_path / "frontier_in")
