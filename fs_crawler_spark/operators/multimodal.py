"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side mechanics — schema, partitioning, Arrow batch shape, UDF
signatures — are real and tested; the codec kernels (actual JPEG decode,
resampling, frame extraction) are STUBBED behind deterministic fakes because
the image/audio libraries are not in this container. Swapping a fake for a
real codec changes ONE function body, not the plan: each operator is
``mapInPandas`` over batches of binary payloads, which is exactly how the
real decode would run (Arrow transfer, per-batch amortized Python cost,
partition-preserving, no shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(DoubleType()), True),
        StructField("n_bytes", LongType(), True),
    ]
)


def synth_media(spark, docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic fake media table derived from documents: payload =
    utf-8 text bytes (stands in for encoded pixels/samples)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/x-fake").alias("mime"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("n_chars") % 480).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for decode+embed: bucket byte histogram.

    Values are exact micro-unit fractions — floor(count * 1e6 / total) / 1e6 —
    computed in INTEGER arithmetic so a SQL oracle reproduces them
    bit-identically (int -> double conversion and one double division are
    IEEE-exact and engine-independent; naive count/total + round(6) is not:
    numpy rounds half-even on binary floats, DuckDB half-up on decimals).
    """
    if payload is None:
        return [0.0] * dim
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return [0.0] * dim
    hist, _ = np.histogram(arr % dim, bins=dim, range=(0, dim))
    micro = (hist.astype(np.int64) * 1_000_000) // int(arr.size)
    return (micro / 1_000_000.0).tolist()


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """media -> (media_id, feature[dim], n_bytes) via Arrow-batched pandas.

    This is the production plan shape for decode/resize/embed at 100 TB:
    binary column in, fixed-width vector out, partition-preserving.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": [_fake_feature(p, dim) for p in pdf["payload"]],
                    "n_bytes": [0 if p is None else len(p) for p in pdf["payload"]],
                }
            )

    from .dedup import _spread

    # partition-preserving when the input is already parallel; a single-file
    # media table otherwise funnels the whole decode through one Python
    # worker (guide §2.5) — spread it to the session's default parallelism
    return _spread(media, "media_id").select("media_id", "payload").mapInPandas(
        batches, FEATURE_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: one output row per sampled timestamp
    (JVM-side sequence explode — the expensive decode would be a downstream
    mapInPandas per (media_id, frame_ts) batch, same shape as
    extract_features)."""
    return media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
