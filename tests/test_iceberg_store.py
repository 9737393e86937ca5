"""Iceberg store: manifest codec unconditionally; the full crawl flow only
when an Iceberg catalog is configured (the sandbox image has none — the
end-to-end test skips there and runs on a real cluster)."""

import pytest

from fs_crawler_spark.sources.iceberg_store import (
    IcebergCheckpointStore,
    decode_manifest,
    encode_manifest,
    iceberg_available,
)


def test_manifest_codec_roundtrip():
    manifest = {
        "round": 3,
        "snapshot_id": 123456789,
        "tables": ["vertices", "seen", "edges", "crawl_log", "frontier"],
        "meta": {"urls_in": 42, "settings": {"n_shards": 8}},
        "table_snapshots": {"seen": [10, 11], "frontier": [-1, 2]},
    }
    row_tuple = encode_manifest(manifest)
    # decode expects a Row-like mapping; emulate with a dict keyed like the table
    keys = ("round", "snapshot_id", "tables", "meta", "table_snapshots")
    row = dict(zip(keys, row_tuple))
    out = decode_manifest(row)
    assert out["round"] == 3
    assert out["snapshot_id"] == 123456789
    assert sorted(out["tables"]) == sorted(manifest["tables"])
    assert out["meta"]["settings"]["n_shards"] == 8
    assert out["table_snapshots"]["seen"] == [10, 11]


def test_store_requires_catalog(spark):
    if iceberg_available(spark):
        pytest.skip("catalog configured; covered by the e2e test below")
    with pytest.raises(RuntimeError, match="Iceberg catalog"):
        IcebergCheckpointStore(spark, "nosuch.ns")


def test_crawl_on_iceberg_store(spark, sf_dir, tmp_path):
    """Same resume/equivalence contract as the parquet store — runs only
    where an Iceberg catalog exists."""
    if not iceberg_available(spark):
        pytest.skip("no Iceberg catalog in this session")

    from fs_crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from fs_crawler_spark.sources.corpus import build_pages, doc_url

    pages = build_pages(spark, sf_dir, limit_docs=60).cache()
    store = IcebergCheckpointStore(spark, "iceberg_test.crawl_e2e", n_shards=8)
    res = run_crawl(
        spark,
        pages,
        [doc_url(0)],
        str(tmp_path),
        CrawlConfig(max_rounds=30, host_budget=5),
        store=store,
    )
    assert res["total_fetched"] == 60
    v = store.read_union(spark, "vertices")
    assert v.count() == 60
