"""Continuous crawl as a Structured Streaming feedback loop.

The batch engine runs BFS rounds under a driver loop
(plans/crawl.py:run_crawl). This module runs the SAME round function —
``crawl_round`` is pure — as a ``foreachBatch`` consumer of a file-source
stream whose input directory the crawl itself appends to:

    frontier_dir  --readStream-->  micro-batch (this round's frontier)
         ^                              |
         |   new candidates+deferred    v
         +------- parquet append --- crawl_round -> vertices/edges/seen

Each micro-batch: probe the incoming urls against the accumulated seen-set
(stale feedback copies of an already-fetched url are dropped here — the
batch loop never needs this because it maintains frontier/seen disjointness
structurally), then run one politeness-budgeted round and append the
outputs. New candidates and over-budget deferrals are written back into
``frontier_dir``; the file source picks them up as the next micro-batch, so
the stream quiesces exactly when the reachable set is exhausted —
``query.processAllAvailable()`` IS "crawl to exhaustion". With
``host_budget=None`` micro-batches correspond 1:1 to BFS rounds and the
(id, iteration) vertex table is identical to the batch crawl's (asserted in
tests/test_crawl_stream.py); under a budget, batch boundaries interleave
deferrals so iterations differ but the fetched SET is the same fixed point.

Scale shape: identical to the batch loop per round (same politeness window,
same anti-join, same Arrow extraction) — the stream adds only file listing.
Delivery is Spark's foreachBatch contract: at-least-once on crash/replay
(a replayed batch re-appends the same rows); readers dedup vertices by id —
``read_stream_output`` does — or the sink swaps for an idempotent
(batch_id-keyed) table like the Iceberg backend. Between-batch seen reads
make duplicate fetches impossible across DIFFERENT batches either way.

Reference analog: fs-crawler's single-process iteration driver
(fscrawler/controller/crawler.py:crawl loop); this is the always-on variant
the reference cannot express.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.crawl import CrawlConfig, crawl_round, seed_frontier
from ..operators.frontier import anti_join_seen, dedup_frontier
from ..operators.robots import robots_gate
from ..sources.fetcher import Fetcher

FRONTIER_DDL = (
    "url string, url_hash long, host string, priority double, discovered_iter int"
)


@dataclass
class StreamDirs:
    frontier: str
    seen: str
    vertices: str
    edges: str
    checkpoint: str

    @classmethod
    def under(cls, workdir: str) -> "StreamDirs":
        return cls(
            frontier=os.path.join(workdir, "frontier_in"),
            seen=os.path.join(workdir, "seen"),
            vertices=os.path.join(workdir, "vertices"),
            edges=os.path.join(workdir, "edges"),
            checkpoint=os.path.join(workdir, "_stream_checkpoint"),
        )


def _read_optional(spark: SparkSession, path: str, ddl: str) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(ddl).parquet(path)
    except AnalysisException as e:
        # ONLY "first batch: nothing committed yet" is recoverable. A corrupt
        # or unreadable seen dir must fail loudly — treating it as absent
        # would skip the seen anti-join and silently re-crawl everything.
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None


def start_crawl_stream(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    workdir: str,
    cfg: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    fetcher: Fetcher | None = None,
):
    """Start the feedback-loop crawl; returns the StreamingQuery.

    Drive to exhaustion with ``q.processAllAvailable(); q.stop()`` or leave
    running — urls dropped into ``frontier_dir`` by ANY producer (a kafka
    bridge, another job, a manual seed file) are crawled as they arrive.
    """
    cfg = cfg or CrawlConfig()
    dirs = StreamDirs.under(workdir)
    os.makedirs(dirs.frontier, exist_ok=True)
    # the seed list is just the first frontier file
    seed = robots_gate(seed_frontier(spark, seeds), robots)
    seed.coalesce(1).write.mode("append").parquet(dirs.frontier)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        seen = _read_optional(spark, dirs.seen, FRONTIER_DDL)
        frontier = dedup_frontier(batch_df)
        if seen is not None:
            # stale feedback rows (url fetched by a batch that ran after
            # this row was written) die here, not in the politeness window
            frontier = anti_join_seen(frontier, seen.select("url_hash", "url"))
        # EAGER lineage cut, and load-bearing: the frontier's plan embeds
        # the seen-dir scan, whose file listing is deferred — once this
        # batch appends its own seen_delta below, any re-evaluation of that
        # subtree (cache canonicalization treats the re-listed scan as a
        # different plan, so persist() does not protect it) would anti-join
        # the batch against ITSELF and silently compute an empty candidate
        # set. Checkpointing pins the frontier to its pre-append value.
        # (The probes' own seen scan re-listing is harmless: probing extra
        # just-fetched urls only removes rows that are genuinely seen.)
        frontier = frontier.localCheckpoint(eager=True)
        probes = [] if seen is None else [seen.select("url_hash", "url")]
        plan = crawl_round(
            pages, frontier, probes, robots, int(batch_id), cfg, fetcher=fetcher
        )
        parsed = plan.parsed.persist()
        try:
            # The feedback frontier is appended BEFORE the seen delta: a
            # crash between the two appends then re-queues (not loses) work.
            # If seen landed first, the replayed micro-batch would anti-join
            # all of its own urls against the just-written seen rows, re-run
            # empty, and never write the batch's discovered children —
            # permanent subtree loss. With frontier first, the worst case is
            # a duplicate feedback file, which the next batch's
            # dedup_frontier + seen anti-join neutralize (it re-runs empty
            # and appends nothing). The feedback plan reads the seen dir
            # only as it was BEFORE this batch's append, so evaluating it
            # first is also the order its lineage assumes.
            feedback = plan.new_frontier.persist()
            try:
                # zero-row appends still create files; they would re-trigger
                # the source forever, so quiescence needs the count gate
                if feedback.count() > 0:
                    feedback.write.mode("append").parquet(dirs.frontier)
            finally:
                feedback.unpersist()
            plan.vertices_delta.write.mode("append").parquet(dirs.vertices)
            plan.edges_delta.write.mode("append").parquet(dirs.edges)
            plan.seen_delta.write.mode("append").parquet(dirs.seen)
        finally:
            parsed.unpersist()

    stream = spark.readStream.schema(FRONTIER_DDL).parquet(dirs.frontier)
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", dirs.checkpoint)
        .start()
    )


def read_stream_output(spark: SparkSession, workdir: str, table: str) -> DataFrame:
    """Read a stream-crawl output table, deduped for at-least-once replays:
    vertices keep min(iteration) per id, edges distinct."""
    dirs = StreamDirs.under(workdir)
    if table == "vertices":
        df = spark.read.parquet(dirs.vertices)
        others = [c for c in df.columns if c not in ("id", "iteration")]
        return df.groupBy("id").agg(
            F.min("iteration").alias("iteration"),
            *[F.min(c).alias(c) for c in others],
        ).select(*df.columns)
    if table == "edges":
        return spark.read.parquet(dirs.edges).distinct()
    if table == "seen":
        return spark.read.parquet(dirs.seen)
    raise ValueError(f"unknown table: {table!r}")
