"""Batched HTTP fetcher for the fetch seam (SURVEY.md S3, the real thing).

``CorpusJoinFetcher`` models the reference's HTTP session
(fscrawler/controller/session.py:109-152) as a corpus join; this module is
the production-shaped implementation the seam exists for: an Arrow-batched
``mapInPandas`` pass over the politeness batch whose workers issue the GETs,
classify outcomes the way the reference session does —

  * 2xx                  -> page row (url + html), flows into extraction
  * 429/5xx/timeouts     -> TRANSIENT (session.py:109-135 throttle/520/
                            re-auth): re-queued via ``retry_urls``, never
                            marked seen
  * anything else (404…) -> terminal miss (session.py:137-146
                            warn-and-continue): no page row, enters the
                            seen-set, never re-attempted

One HTTP pass per round: ``fetch`` materializes the classified result
(persist) and ``retry_urls`` filters the same materialized frame, so the
seam's two calls never double-fetch; the previous round's frame is
unpersisted on the next ``fetch``.

The transport is injectable (``transport(url) -> (status, body)``) so the
fetcher is fully testable without a network: tests inject a deterministic
fake; production uses the default urllib transport. The transport callable
is pickled to executors — a module-level function pickles BY REFERENCE, so
its module must be importable on workers (ship it via ``spark-submit
--py-files`` / ``sc.addPyFile``); a closure over plain data pickles by
value and needs no shipping. At cluster scale the per-task unit is one Arrow batch of urls
(spark.sql.execution.arrow.maxRecordsPerBatch), and politeness is already
enforced upstream by the per-host budget, so workers never hammer one host:
a batch is at most ``host_budget`` urls per host per round by construction.
"""

from __future__ import annotations

from typing import Callable, Iterator, Tuple

from pyspark.sql import DataFrame

from .fetcher import Fetcher

TRANSIENT_STATUSES = frozenset({408, 425, 429, 500, 502, 503, 504, 520, 522, 524})

# frontier columns pass through the Arrow batch; the fetch adds (status,
# html). html is BINARY — the corpus page schema extraction consumes
# (functions/extract.py decodes utf-8 itself, input_hint: html:binary).
RAW_SCHEMA = (
    "url string, url_hash long, host string, priority double, "
    "discovered_iter int, status int, html binary"
)


def urllib_transport(timeout: float = 10.0) -> Callable[[str], Tuple[int, str]]:
    """Default production transport: plain stdlib GET. Returns (status,
    body); network errors map to 503 (transient) so flaky DNS/conn resets
    re-queue instead of being dropped as terminal misses."""

    def _get(url: str) -> Tuple[int, str]:
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(url, timeout=timeout) as resp:
                return int(resp.status), resp.read().decode("utf-8", "replace")
        except urllib.error.HTTPError as e:  # non-2xx with a real status
            return int(e.code), ""
        except (urllib.error.URLError, OSError, TimeoutError):
            return 503, ""

    return _get


class HttpFetcher(Fetcher):
    """Fetch seam implementation issuing (possibly fake) HTTP GETs.

    ``transport(url) -> (status_code, body_str)`` — injectable, pickled to
    executors. ``fetch``/``retry_urls`` both read ONE materialized per-round
    result frame.
    """

    def __init__(
        self,
        transport: Callable[[str], Tuple[int, str]] | None = None,
        transient_statuses: frozenset[int] = TRANSIENT_STATUSES,
    ) -> None:
        self.transport = transport or urllib_transport()
        self.transient_statuses = transient_statuses
        self._raw: DataFrame | None = None

    def _fetch_raw(self, batch: DataFrame) -> DataFrame:
        transport = self.transport  # pickle the callable, not self

        def run_batches(frames) -> Iterator:
            for pdf in frames:
                statuses, bodies = [], []
                for url in pdf["url"]:
                    status, body = transport(url)
                    statuses.append(int(status))
                    bodies.append(
                        body.encode("utf-8") if 200 <= status < 300 else None
                    )
                out = pdf[
                    ["url", "url_hash", "host", "priority", "discovered_iter"]
                ].copy()
                out["status"] = statuses
                out["html"] = bodies
                yield out

        return batch.mapInPandas(run_batches, schema=RAW_SCHEMA)

    def fetch(self, batch: DataFrame) -> DataFrame:
        if self._raw is not None:  # previous round's frame is dead now
            self._raw.unpersist()
        # persist + EAGER materialize: fetch() and retry_urls() must read ONE
        # network pass. Lazy persist would let the commit's concurrent jobs
        # race on cache population and re-run the GETs — with a flaky real
        # network the re-run can classify a url differently (fetched in one
        # consumer's view, transient in another's), which would both emit its
        # vertex AND re-queue it: a duplicate fetch across rounds. The count
        # is the round's actual HTTP work, not overhead.
        self._raw = self._fetch_raw(batch).persist()
        self._raw.count()
        from pyspark.sql import functions as F

        return self._raw.filter(
            (F.col("status") >= 200) & (F.col("status") < 300)
        ).select("url", "html")

    def retry_urls(self, batch: DataFrame) -> DataFrame:
        assert self._raw is not None, "retry_urls called before fetch"
        from pyspark.sql import functions as F

        statuses = sorted(self.transient_statuses)
        return self._raw.filter(F.col("status").isin(statuses)).select(
            "url", "url_hash", "host", "priority", "discovered_iter"
        )

    def close(self) -> None:
        if self._raw is not None:
            self._raw.unpersist()
            self._raw = None
