"""Structured Streaming ingest (optional surface; SURVEY.md §2.8).

The reference is pure batch-BSP and the engine's crawl loop intentionally maps
rounds to Spark jobs, not streams. This module covers the adjacent production
need: a landing zone where new page captures arrive continuously (e.g. WARC
unpacker output) and must be deduplicated into the same seen-set/vertices
tables the batch crawl maintains.

Design: `readStream` over the landing directory -> canonicalize/hash ->
`foreachBatch` dedup-append. foreachBatch (not stateful operators) because the
seen-set must be SHARED with the batch crawl — dedup is an anti-join against
the same checkpoint-store tables, and each micro-batch commits through the
same atomic snapshot path. Event-time analytics (late-data windows) ride on
`warc_ts` with a watermark.

Per-batch dedup cost is BOUNDED, not O(total ingested): the ingest maintains
(a) a compact shard-partitioned seen INDEX (url_hash, url) — never re-reads
the page payload table — and (b) the same executor-side bloom blob table the
batch crawl uses. Each micro-batch probes the blobs (constant-size work per
row), and only "maybe seen" rows run the exact anti-join, restricted by
partition pruning to the shards those rows hash into. A mostly-novel stream
therefore reads ~zero index shards per batch; exactness is preserved because
bloom false-positives fall through to the exact probe (round-1 re-read the
ENTIRE output table per batch — the O(ingested)-per-batch scale killer).

Exactness across CRASHES AND REPLAYS (the round-2 advisory):

  * every batch writes its pages/seen deltas to per-batch partition dirs
    (``pages/batch=N``, ``seen/batch=N/shard=K``) in OVERWRITE mode, so a
    replayed foreachBatch (same batch_id, same data — the file-source
    contract) lands byte-identically instead of appending duplicates;
  * a single-file commit marker (``_ingest_commit.json``, written last via
    atomic single-object rename) records the highest fully committed
    batch_id; a replay of a committed batch is a no-op, and dedup state
    (seen, bloom) is always read AS OF the marker — a half-written later
    batch dir is invisible to the probe;
  * cold-start detection keys on the COMMIT MARKER (i.e. the seen index),
    never on bloom presence: if the bloom blob version named by the marker
    is missing or unreadable, it is rebuilt from the seen index before the
    probe (bloom stays advisory; the seen index is the authority);
  * bloom blobs are published as immutable versioned dirs
    (``bloom/v{batch_id}``) named by the marker — the pointer-swap pattern
    the batch CheckpointStore uses, safe on object stores where directory
    rename is not atomic;
  * ``n_shards`` is persisted in the marker and WINS over the caller's value
    on every subsequent batch — the seen index's physical shard layout was
    produced with it, so re-sharding silently would break partition pruning.

Out_dir and the streaming checkpoint_dir are a paired unit: resetting the
stream checkpoint without clearing out_dir restarts batch ids at 0, which the
marker would treat as replays. (Same contract as Spark's own sinks.)
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url, url_hash, url_host, url_shard
from ..operators.bloom import build_bloom_shards, merge_bloom_shards, bloom_prefilter
from ..schemas import PAGES

MARKER = "_ingest_commit.json"


def _read_marker(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, MARKER)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_marker(out_dir: str, marker: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.rename(tmp, os.path.join(out_dir, MARKER))  # single-object atomic swap


def read_pages_stream(spark: SparkSession, landing_dir: str, max_files: int = 16) -> DataFrame:
    """File-source stream of page captures (schema pinned to PAGES)."""
    return (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", max_files)
        .parquet(landing_dir)
    )


def read_ingested(spark: SparkSession, out_dir: str, name: str = "pages") -> DataFrame:
    """Committed view of an ingest table: per-batch partition dirs filtered
    to the marker's high-water batch_id, so half-written batches from a
    crashed attempt are invisible to readers."""
    marker = _read_marker(out_dir)
    if marker is None:
        raise FileNotFoundError(f"no committed ingest batches under {out_dir}")
    df = spark.read.parquet(os.path.join(out_dir, name))
    return df.filter(F.col("batch") <= marker["batch_id"])


def load_bloom(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The bloom blob DataFrame named by the commit marker (None pre-ingest)."""
    marker = _read_marker(out_dir)
    if marker is None:
        return None
    try:
        blobs = spark.read.parquet(
            os.path.join(out_dir, "bloom", marker["bloom_version"])
        )
        blobs.schema  # force resolution now
        return blobs
    except Exception:
        return None


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    n_shards: int = 32,
    bloom_expected_per_shard: int = 100_000,
) -> None:
    """Process one micro-batch: dedup against committed state, commit the
    deltas, publish the marker. Idempotent under foreachBatch replay (same
    batch_id ⇒ no-op if committed, byte-identical overwrite if half-written).
    """
    spark = batch_df.sparkSession
    marker = _read_marker(out_dir)
    if marker is not None and batch_id <= marker["batch_id"]:
        return  # replay of a fully committed batch
    if marker is not None:
        n_shards = int(marker["n_shards"])  # physical layout authority

    canon = batch_df.withColumn("url", canonicalize_url(F.col("url"))).withColumn(
        "url_hash", url_hash(F.col("url"))
    )
    from pyspark.sql import Window

    # within-batch first-write-wins: earliest warc_ts, then url — the same
    # deterministic dedup rule as the batch engine
    w = Window.partitionBy("url_hash", "url").orderBy(
        F.col("warc_ts").asc_nulls_last(), F.col("url").asc()
    )
    canon = (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("shard", url_shard(F.col("url_hash"), n_shards))
    )

    maybe_cached = None
    blobs = None
    if marker is None:
        fresh = canon  # cold start: nothing committed yet (seen-gated, not bloom)
    else:
        seen_committed = (
            spark.read.parquet(os.path.join(out_dir, "seen"))
            .filter(F.col("batch") <= marker["batch_id"])
        )
        blobs = load_bloom(spark, out_dir)
        if blobs is None:
            # bloom missing/corrupt: rebuild from the seen index (the
            # authority) rather than skipping dedup for the whole batch
            blobs = build_bloom_shards(
                seen_committed, n_shards, bloom_expected_per_shard
            )
        flags = bloom_prefilter(canon, blobs, n_shards)
        flagged = canon.join(flags, on=["url_hash", "url"], how="inner")
        definite = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen").persist()
        maybe_cached = maybe
        # tiny driver list (<= n_shards ints) used ONLY as a partition-
        # pruning predicate — not a data collect
        shards_needed = [
            r["shard"] for r in maybe.select("shard").distinct().collect()
        ]
        if shards_needed:
            seen_idx = seen_committed.filter(
                F.col("shard").isin(shards_needed)
            ).select("url_hash", "url")
            maybe = maybe.join(seen_idx, on=["url_hash", "url"], how="left_anti")
        fresh = definite.unionByName(maybe)

    fresh = fresh.persist()
    # per-batch partition dirs, OVERWRITE mode: a replayed half-written batch
    # lands identically instead of appending duplicates
    fresh.drop("shard").write.mode("overwrite").parquet(
        os.path.join(out_dir, "pages", f"batch={batch_id}")
    )
    fresh.select("url_hash", "url", "shard").write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(os.path.join(out_dir, "seen", f"batch={batch_id}"))

    delta = build_bloom_shards(fresh, n_shards, bloom_expected_per_shard)
    # prev blobs = the ALREADY-RESOLVED probe blobs — when the marker-named
    # version was missing they were rebuilt from the seen index above, and a
    # second load_bloom here would return None and publish a merged bloom
    # holding only THIS batch's urls (false negatives for every earlier url,
    # which skip the exact probe and re-ingest duplicates — round-3 advisory)
    merged = delta if blobs is None else merge_bloom_shards(blobs, delta)
    version = f"v{batch_id}"
    merged.write.mode("overwrite").parquet(os.path.join(out_dir, "bloom", version))

    # marker LAST: the batch is committed iff the marker names it
    _write_marker(
        out_dir,
        {"batch_id": batch_id, "bloom_version": version, "n_shards": n_shards},
    )

    # best-effort GC with RETENTION-OF-1: keep the version the PREVIOUS marker
    # named alongside the new one, so a concurrent reader that resolved the
    # old marker just before the swap never loses its blobs mid-read (it
    # would only degrade to a rebuild, but the spurious cost is avoidable)
    keep = {version}
    if marker is not None:
        keep.add(marker["bloom_version"])
    bloom_root = os.path.join(out_dir, "bloom")
    for d in os.listdir(bloom_root):
        if d.startswith("v") and d not in keep:
            shutil.rmtree(os.path.join(bloom_root, d), ignore_errors=True)

    fresh.unpersist()
    if maybe_cached is not None:
        maybe_cached.unpersist()


def start_dedup_ingest(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    n_shards: int = 32,
    bloom_expected_per_shard: int = 100_000,
):
    """Continuously append first-seen pages to ``out_dir``/pages, dropping
    urls already ingested. See module docstring for the crash/replay
    exactness contract.
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            batch_id,
            out_dir,
            n_shards=n_shards,
            bloom_expected_per_shard=bloom_expected_per_shard,
        )

    writer = pages_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
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
