"""Continuous crawl as a Structured Streaming feedback loop.

The batch engine runs BFS rounds under a driver loop
(plans/crawl.py:run_crawl). This module runs the SAME round function —
``crawl_round`` is pure — as a ``foreachBatch`` consumer of a file-source
stream whose input directory the crawl itself appends to:

    frontier_in  --readStream-->  micro-batch N (this round's frontier)
         ^                              |
         |   new candidates+deferred    v
         +------- parquet append --- crawl_round -> commit round N

Each micro-batch: probe the incoming urls against the seen-set committed by
earlier batches (stale feedback copies of an already-fetched url are dropped
here — the batch loop never needs this because it maintains frontier/seen
disjointness structurally), then run one politeness-budgeted round. New
candidates and over-budget deferrals are written back into ``frontier_in``;
the file source picks them up as the next micro-batch, so the stream
quiesces exactly when the reachable set is exhausted —
``query.processAllAvailable()`` IS "crawl to exhaustion". With
``host_budget=None`` micro-batches correspond 1:1 to BFS rounds and the
(id, iteration) vertex table is identical to the batch crawl's (asserted in
tests/test_crawl_stream.py); under a budget, batch boundaries interleave
deferrals so iterations differ but the fetched SET is the same fixed point.

State is the batch driver's: micro-batch N commits its vertices, edges and
seen delta as round N of a parquet ``CheckpointStore`` under ``workdir``, so
``read_output(spark, workdir, table)`` reads the stream's output. Delivery
is exactly-once without read-side dedup: batch N reads only the seen rounds
below N, so a replayed batch (Spark re-runs a batch whose foreachBatch did
not reach its commit log) recomputes the same plan, and its commit
overwrites round N's dir with the same rows. A replay can append a
duplicate feedback file; ``dedup_frontier`` and the seen probe drop it.

Scale shape: identical to the batch loop per round (same politeness window,
same anti-join, same Arrow extraction) — the stream adds only file listing.

Reference analog: fs-crawler's single-process iteration driver
(fscrawler/controller/crawler.py:crawl loop); this is the always-on variant
the reference cannot express.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.frontier import anti_join_seen, dedup_frontier
from ..operators.robots import robots_gate
from ..plans.crawl import CrawlConfig, crawl_round, seed_frontier
from ..schemas import FRONTIER
from ..sources.checkpoint import CheckpointStore
from ..sources.fetcher import Fetcher


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
    running — urls dropped into ``workdir/frontier_in`` by ANY producer (a
    kafka bridge, another job, a manual seed file) are crawled as they
    arrive."""
    if os.path.isdir(os.path.join(workdir, "seen")):
        raise ValueError(
            f"{workdir} holds a raw seen/ dir written by an older build of "
            "the stream; only CheckpointStore workdirs can be resumed"
        )
    cfg = cfg or CrawlConfig()
    store = CheckpointStore(workdir)
    frontier_dir = os.path.join(workdir, "frontier_in")
    os.makedirs(frontier_dir, exist_ok=True)
    # the seed list is just the first frontier file
    seed = robots_gate(seed_frontier(spark, seeds), robots)
    seed.coalesce(1).write.mode("append").parquet(frontier_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        seen = store.read_union(spark, "seen", up_to_round=batch_id - 1)
        probes = [] if seen is None else [seen.select("url_hash", "url")]
        frontier = dedup_frontier(batch_df)
        if probes:
            # stale feedback rows (url fetched by a batch that ran after
            # this row was written) die here, not in the politeness window
            frontier = anti_join_seen(frontier, probes[0])
        plan = crawl_round(
            pages, frontier, probes, robots, batch_id, cfg, fetcher=fetcher
        )
        parsed = plan.parsed.persist()
        feedback = plan.new_frontier.persist()
        try:
            # zero-row appends still create files; they would re-trigger
            # the source forever, so quiescence needs the count gate
            if feedback.count() > 0:
                feedback.write.mode("append").parquet(frontier_dir)
            store.commit(
                batch_id,
                {
                    "vertices": plan.vertices_delta,
                    "edges": plan.edges_delta,
                    "seen": plan.seen_delta,
                },
            )
        finally:
            feedback.unpersist()
            parsed.unpersist()

    return (
        spark.readStream.schema(FRONTIER)
        .parquet(frontier_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(workdir, "_stream_checkpoint"))
        .start()
    )
