"""Sharded advisory bloom pre-filter for the seen-set (SURVEY.md §2.9).

north_rule names a "bloom/cuckoo URL-seen filter". In this engine the bloom
filter is a PRE-PRUNE only: candidates that the filter says are definitely
unseen skip the expensive anti-join probe; "maybe seen" candidates go through
the exact anti-join. Correctness NEVER depends on the false-positive rate
(SURVEY.md §7 hard part (e)) — the exact anti-join is always the authority.

The filter state is a DATAFRAME of per-shard bitmap blobs — it never passes
through the driver:

  build:  groupBy(shard).applyInPandas -> one numpy bitmap row per shard
          (the UDAF analog);
  merge:  union + groupBy(shard).applyInPandas bitwise-OR (incremental
          accumulation across rounds);
  probe:  candidates cogrouped with the blob table on shard — each task
          receives one shard's candidates plus that shard's single blob row.
          Shuffle volume = the candidates (which shuffle on the same key for
          the exact anti-join anyway) + each blob once.

At 10^10 URLs / 1% fpp the blobs total ~12 GB ACROSS shards; with 4096
shards that is ~3 MB per task — nothing ever materializes in one place.
(Round 1 collected the dict to the driver and broadcast it back; that
driver round-trip is exactly what this layout removes.)

Hashing: double-hashing over blake2b(url) — pure stdlib, deterministic
across processes (PYTHONHASHSEED-independent).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.urls import url_shard

BLOOM_SCHEMA = StructType(
    [
        StructField("shard", IntegerType(), False),
        StructField("n_items", LongType(), False),
        StructField("m", LongType(), False),
        StructField("k", IntegerType(), False),
        StructField("bits", BinaryType(), False),
    ]
)

_PROBE_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("maybe_seen", BooleanType(), False),
    ]
)


def _params(n_items: int, fpp: float) -> tuple[int, int]:
    n = max(n_items, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _positions(url: str, m: int, k: int) -> list[int]:
    d = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [((h1 + i * h2) % m) for i in range(k)]


def build_bloom_shards(
    seen: DataFrame, n_shards: int, expected_per_shard: int = 100_000, fpp: float = 0.01
) -> DataFrame:
    """One bloom bitmap row per seen-set shard: (shard, n_items, m, k, bits).
    Fully distributed — the blobs stay executor-side as a DataFrame."""
    m, k = _params(expected_per_shard, fpp)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        for url in pdf["url"]:
            for pos in _positions(url, m, k):
                bits[pos >> 3] |= 1 << (pos & 7)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_items": [len(pdf)],
                "m": [m],
                "k": [k],
                "bits": [bits.tobytes()],
            }
        )

    return (
        seen.withColumn("shard", url_shard(F.col("url_hash"), n_shards))
        .select("shard", "url")
        .groupBy("shard")
        .applyInPandas(build, BLOOM_SCHEMA)
    )


def merge_bloom_shards(a: DataFrame | None, b: DataFrame) -> DataFrame:
    """Bitwise-OR per-shard bitmaps (incremental build: OR each round's delta
    into the accumulated filter; blobs must share (m, k))."""
    if a is None:
        return b

    def or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        ms = pdf["m"].unique()
        ks = pdf["k"].unique()
        assert len(ms) == 1 and len(ks) == 1, "bloom params must match to merge"
        acc = np.frombuffer(pdf["bits"].iloc[0], dtype=np.uint8).copy()
        for blob in pdf["bits"].iloc[1:]:
            acc |= np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "n_items": [int(pdf["n_items"].sum())],
                "m": [int(ms[0])],
                "k": [int(ks[0])],
                "bits": [acc.tobytes()],
            }
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(or_merge, BLOOM_SCHEMA)


def bloom_prefilter(
    candidates: DataFrame, bloom: DataFrame, n_shards: int
) -> DataFrame:
    """Add ``maybe_seen`` per candidate; rows with maybe_seen = false can skip
    the exact anti-join (definitely new). Cogroup on shard: each task gets
    one shard's candidates and that shard's blob row — no broadcast, no
    driver round-trip. A shard with no blob row has no seen items, so its
    candidates are all definitely-new."""

    def probe(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if cdf.empty:
            return pd.DataFrame({"url": [], "url_hash": [], "maybe_seen": []}).astype(
                {"url": object, "url_hash": "int64", "maybe_seen": bool}
            )
        if bdf.empty:
            flags = [False] * len(cdf)
        else:
            acc = np.frombuffer(bdf["bits"].iloc[0], dtype=np.uint8).copy()
            for blob in bdf["bits"].iloc[1:]:
                acc |= np.frombuffer(blob, dtype=np.uint8)
            m = int(bdf["m"].iloc[0])
            k = int(bdf["k"].iloc[0])
            flags = [
                all(acc[p >> 3] & (1 << (p & 7)) for p in _positions(url, m, k))
                for url in cdf["url"]
            ]
        return pd.DataFrame(
            {"url": cdf["url"], "url_hash": cdf["url_hash"], "maybe_seen": flags}
        )

    cand = candidates.select(
        "url",
        "url_hash",
        url_shard(F.col("url_hash"), n_shards).alias("shard"),
    )
    return (
        cand.groupBy("shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(lambda left, right: probe(left, right), _PROBE_SCHEMA)
    )
