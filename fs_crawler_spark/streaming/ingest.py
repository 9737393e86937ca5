"""Structured Streaming ingest (optional surface; SURVEY.md §2.8).

The reference is pure batch-BSP and the engine's crawl loop intentionally maps
rounds to Spark jobs, not streams. This module covers the adjacent production
need: a landing zone where new page captures arrive continuously (e.g. WARC
unpacker output) and must be deduplicated into one pages table and one
seen-set.

Design: `readStream` over the landing directory -> canonicalize/hash ->
`foreachBatch` dedup-append. foreachBatch (not stateful operators) because
dedup is an anti-join against committed state, and each micro-batch commits
through the batch crawl's atomic snapshot path. Event-time analytics
(late-data windows) ride on `warc_ts` with a watermark.

State is the crawl stream's (streaming/crawl_stream.py): micro-batch N
commits its first-seen pages and their (url_hash, url) seen delta as round N
of a parquet ``CheckpointStore`` under ``out_dir``, so
``read_output(spark, out_dir, "pages")`` reads the ingested pages. The seen
delta is the compact probe side: a batch never re-reads the page payloads.
Delivery is exactly-once without read-side dedup: batch N reads only the
seen rounds below N, so a replayed batch (committed or not) recomputes the
same rows and its commit overwrites round N's dir with them.

Out_dir and the streaming checkpoint_dir are a paired unit: resetting the
stream checkpoint without clearing out_dir restarts batch ids at 0, whose
commits overwrite the earlier rounds. (Same contract as Spark's own sinks.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url, url_hash, url_host
from ..operators.frontier import anti_join_seen
from ..schemas import PAGES
from ..sources.checkpoint import CheckpointStore


def read_pages_stream(spark: SparkSession, landing_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream of page captures (schema pinned to PAGES)."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files)
        .parquet(landing_dir)
    )


def ingest_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Commit one micro-batch's first-seen pages as round ``batch_id``.
    Idempotent under foreachBatch replay (same batch_id, same data ⇒ same
    rows, overwriting the round)."""
    if os.path.exists(os.path.join(out_dir, "_ingest_commit.json")):
        raise ValueError(
            f"{out_dir} holds an _ingest_commit.json marker written by an "
            "older build of the ingest; only CheckpointStore dirs can be resumed"
        )
    spark = batch_df.sparkSession
    store = CheckpointStore(out_dir)
    canon = batch_df.withColumn("url", canonicalize_url(F.col("url"))).withColumn(
        "url_hash", url_hash(F.col("url"))
    )
    # within-batch first-write-wins: earliest warc_ts, ties broken on the
    # payload, so the kept capture does not depend on input order
    w = Window.partitionBy("url_hash", "url").orderBy(
        F.col("warc_ts").asc_nulls_last(), "html", "text", "lang"
    )
    fresh = (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    seen = store.read_union(spark, "seen", up_to_round=batch_id - 1)
    if seen is not None:
        fresh = anti_join_seen(fresh, seen)
    fresh = fresh.persist()
    try:
        store.commit(
            batch_id, {"pages": fresh, "seen": fresh.select("url_hash", "url")}
        )
    finally:
        fresh.unpersist()


def start_dedup_ingest(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Continuously commit first-seen pages to ``out_dir``, dropping urls
    already ingested. See module docstring for the replay contract.
    """
    writer = pages_stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: ingest_batch(batch_df, batch_id, out_dir)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_capture_rate(pages_stream: DataFrame, window: str = "1 minute"):
    """Event-time analytics: captures per host per window with a 2-minute
    watermark for late arrivals (the streaming analog of crawl_log A9)."""
    return (
        pages_stream.withWatermark("warc_ts", "2 minutes")
        .groupBy(F.window("warc_ts", window), url_host(F.col("url")).alias("host"))
        .agg(F.count("*").alias("captures"))
    )
