"""Advisory bloom pre-filter: correctness-neutral by construction."""

from pyspark.sql import functions as F

from fs_crawler_spark.operators.bloom import (
    bloom_prefilter,
    build_bloom_shards,
    merge_bloom_shards,
)


def test_bloom_no_false_negatives(spark):
    seen = spark.createDataFrame(
        [(f"https://h{i % 3}.example.com/p/{i}", i * 7919) for i in range(200)],
        "url string, url_hash long",
    )
    shards = build_bloom_shards(seen, n_shards=8, expected_per_shard=1000)
    flags = bloom_prefilter(seen, shards, n_shards=8)
    # every truly-seen url must probe "maybe seen"
    assert flags.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_is_dataframe_never_collected(spark):
    """The blob state must stay a distributed DataFrame (executor-side
    cogroup distribution), not a driver-side dict."""
    from pyspark.sql import DataFrame

    seen = spark.createDataFrame([("u1", 1)], "url string, url_hash long")
    blobs = build_bloom_shards(seen, n_shards=4, expected_per_shard=100)
    assert isinstance(blobs, DataFrame)
    assert set(blobs.columns) == {"shard", "n_items", "m", "k", "bits"}


def test_bloom_merge(spark):
    a = spark.createDataFrame([("u1", 1)], "url string, url_hash long")
    b = spark.createDataFrame([("u2", 9)], "url string, url_hash long")
    sa = build_bloom_shards(a, n_shards=4, expected_per_shard=100)
    sb = build_bloom_shards(b, n_shards=4, expected_per_shard=100)
    merged = merge_bloom_shards(sa, sb)
    both = spark.createDataFrame([("u1", 1), ("u2", 9)], "url string, url_hash long")
    flags = bloom_prefilter(both, merged, n_shards=4)
    assert flags.filter(~F.col("maybe_seen")).count() == 0
    # unseen urls in shards with no blob row are definitely-new
    fresh = spark.createDataFrame([("u3", 2), ("u4", 3)], "url string, url_hash long")
    fresh_flags = bloom_prefilter(fresh, merged, n_shards=4)
    assert fresh_flags.count() == 2
