"""Pluggable fetch seam (SURVEY.md S3): fetch batch -> page rows.

The reference fetches persons over HTTP with login / throttle / retry /
re-auth (fscrawler/controller/session.py:109-152). The sandbox engine models
that layer as a corpus join — a url present in the corpus "fetches" (returns
its page row); a url absent is the 404/permanent-failure analog
(session.py:137-146 warn-and-continue): it produces no page row, and the
crawl loop puts every non-retried batch url into the seen-set, so a miss is
never attempted again. This module makes that modeling an explicit, swappable
seam instead of an inline join in the crawl plan.

A real deployment drops in an HTTP fetcher here: a ``mapInPandas`` over the
batch whose generator issues batched async GETs and yields page-schema rows
(url + html + fetch metadata), with transient failures routed to
``retry_urls``. Everything downstream — extraction, seen-set accounting,
frontier merge, snapshot commit — is unchanged, because the contract is only
"page rows for a subset of the batch, plus an optional retry subset".

Contract (enforced semantics live in ``plans/crawl.py``):
  * ``fetch(batch)``: batch is frontier-schema rows ``(url, url_hash, host,
    priority, discovered_iter)``; the result is page-schema rows — ``url``
    plus whatever columns the extractor consumes (``html``, ...). Every
    returned url must come from the batch (no spontaneous pages).
  * ``retry_urls(batch)``: frontier-schema subset of the batch that FAILED
    TRANSIENTLY (the reference's throttle/520/re-auth path,
    session.py:109-135) and must be re-queued: these urls do NOT enter the
    seen-set and stay in the frontier for a later round. ``None`` means the
    fetcher never retries (the corpus-join model), and the crawl plan adds
    zero extra nodes. Re-queued urls need nothing else from the fetcher:
    every round commits its whole next frontier, retries included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class Fetcher:
    """Base fetch seam: subclass and override ``fetch`` (and optionally
    ``retry_urls``)."""

    def fetch(self, batch: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def retry_urls(self, batch: DataFrame) -> DataFrame | None:
        """Frontier-schema rows to re-queue instead of marking seen.
        Default: never retry."""
        return None

    def close(self) -> None:
        """Release per-run resources (the crawl loop calls this on exit)."""


class CorpusJoinFetcher(Fetcher):
    """The default "fetch": an inner join of the batch against a static page
    corpus. ``url_partitioned=True`` declares the corpus hash-partitioned /
    bucketed by url (an Iceberg ``bucket(N, url)`` table, or a
    ``.repartition(K, "url").persist()`` cache); the join then hints
    SHUFFLE_HASH with the batch as build side so the html-carrying corpus
    never moves — only the batch shuffles (see CrawlConfig
    .pages_url_partitioned for the measured numbers)."""

    def __init__(self, pages: DataFrame, url_partitioned: bool = False):
        self.pages = pages
        self.url_partitioned = url_partitioned

    def fetch(self, batch: DataFrame) -> DataFrame:
        batch_urls = batch.select("url")
        if self.url_partitioned:
            batch_urls = batch_urls.hint("shuffle_hash")
        return self.pages.join(batch_urls, on="url", how="inner")
