"""Pluggable fetch seam (S3): miss vs retry semantics through run_crawl.

The reference's HTTP layer (fscrawler/controller/session.py:109-152) has two
failure classes: permanent (404 warn-and-continue — never retried) and
transient (throttle/520/re-auth — retried). The engine models them at the
``Fetcher`` seam: misses enter the seen-set and are never re-attempted;
``retry_urls`` rows skip the seen-set and stay in the frontier.
"""

import pytest
from pyspark.sql import functions as F

from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
from fs_crawler_spark.sources.corpus import build_pages, doc_url
from fs_crawler_spark.sources.fetcher import CorpusJoinFetcher, Fetcher


@pytest.fixture(scope="module")
def pages60(spark, sf_dir):
    return build_pages(spark, sf_dir, limit_docs=60).cache()


class FlakyOnceFetcher(Fetcher):
    """Every odd-url_hash url fails TRANSIENTLY on its first attempt and
    succeeds on the second. With no politeness budget a url's first batch is
    the round after its discovery, so "first attempt" is exactly
    ``discovered_iter == <rounds seen so far>`` — captured eagerly via
    ``F.lit`` at plan-build time (one plan per round), no lazy state."""

    def __init__(self, pages):
        self.pages = pages
        self.rounds_seen = 0

    def _flaky(self, batch):
        return batch.filter(
            (F.pmod(F.col("url_hash"), F.lit(2)) == 1)
            & (F.col("discovered_iter") == F.lit(self.rounds_seen))
        )

    def fetch(self, batch):
        ok = batch.join(
            self._flaky(batch).select("url_hash", "url"),
            on=["url_hash", "url"],
            how="left_anti",
        )
        return self.pages.join(ok.select("url"), on="url", how="inner")

    def retry_urls(self, batch):
        out = self._flaky(batch)
        self.rounds_seen += 1
        return out


def test_misses_enter_seen_and_never_retry(spark, pages60, tmp_path):
    """A url the fetcher cannot produce (404-analog) still enters the
    seen-set, produces no vertex, and is never re-batched."""
    # corpus missing docs 10..19: their urls get discovered but never fetch
    holes = [doc_url(i) for i in range(10, 20)]
    partial = pages60.filter(~F.col("url").isin(holes))
    ck = str(tmp_path / "ck")
    run_crawl(
        spark,
        pages60,  # crawl_round's `pages` arg is unused when fetcher is given
        seeds=[doc_url(0)],
        checkpoint_dir=ck,
        cfg=CrawlConfig(max_rounds=8),
        fetcher=CorpusJoinFetcher(partial),
    )
    vertex_ids = {r["id"] for r in read_output(spark, ck, "vertices").collect()}
    seen_urls = {r["url"] for r in read_output(spark, ck, "seen").collect()}
    log = read_output(spark, ck, "crawl_log").filter(F.col("partition_id") == -1)
    total_batched = sum(r["urls_in"] for r in log.collect())
    for u in holes:
        assert u not in vertex_ids
        assert u in seen_urls  # miss is terminal: marked seen
    # never re-batched: every seen url was batched exactly once
    assert total_batched == len(seen_urls)


def test_retry_urls_refetched_next_round_exactly_once(spark, pages60, tmp_path):
    """Transient failures re-queue: retried urls stay out of the seen-set for
    the failing round, get fetched on the next attempt, and the final crawl
    covers the same reachable set as a never-failing fetcher."""
    base_ck = str(tmp_path / "base")
    run_crawl(
        spark,
        pages60,
        seeds=[doc_url(0)],
        checkpoint_dir=base_ck,
        cfg=CrawlConfig(max_rounds=16),
    )
    base_vertices = {
        r["id"]: r["iteration"]
        for r in read_output(spark, base_ck, "vertices").collect()
    }

    ck = str(tmp_path / "flaky")
    run_crawl(
        spark,
        pages60,
        seeds=[doc_url(0)],
        checkpoint_dir=ck,
        cfg=CrawlConfig(max_rounds=16),
        fetcher=FlakyOnceFetcher(pages60),
    )
    rows = read_output(spark, ck, "vertices").collect()
    got = {r["id"]: r["iteration"] for r in rows}
    # exactly-once fetch despite retries (no duplicate vertices)
    assert len(rows) == len(got)
    # same reachable set as the never-failing run
    assert set(got) == set(base_vertices)
    # every url fetched at-or-after its failure-free round; odd-hash urls
    # strictly after (their first attempt always fails)
    hash_of = {
        r["url"]: r["url_hash"]
        for r in read_output(spark, ck, "seen").collect()
    }
    for url, it in got.items():
        if hash_of[url] % 2 == 1:
            assert it > base_vertices[url], url
        else:
            assert it >= base_vertices[url], url
    # seen-set ends complete (every retried url eventually marked seen)
    assert set(hash_of) == set(got)
