"""Unit equivalence tests for the narrow-shuffle frontier/politeness paths.

The round-4 hot-path rewrites (frontier_from_links DISTINCT dedup,
merge_frontier_fww anti-join merge, select_batch three-shape politeness)
must be drop-in equivalent to the generic first-write-wins algebra under
the crawl loop's invariants. These pin that equivalence row-for-row.
"""

from pyspark.sql import functions as F

from fs_crawler_spark.operators.frontier import (
    as_frontier_rows,
    dedup_frontier,
    frontier_from_links,
    merge_frontier,
    merge_frontier_fww,
)
from fs_crawler_spark.operators.politeness import select_batch


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _links(spark):
    urls = [
        "https://A.example.com/x#frag",
        "https://a.example.com/x",
        "  https://a.example.com:443/x ",
        "http://b.example.com:80/y/",
        "http://b.example.com/y",
        "https://c.example.com/z?q=1",
    ]
    return spark.createDataFrame([(u,) for u in urls], "url string")


def test_frontier_from_links_equals_generic_dedup(spark):
    links = _links(spark)
    fast = frontier_from_links(links, discovered_iter=5)
    generic = dedup_frontier(as_frontier_rows(links, discovered_iter=5))
    assert fast.columns == generic.columns
    assert _rows(fast) == _rows(generic)
    # canonicalization actually collapsed the case/port/slash variants
    assert fast.count() == 3


def test_merge_fww_equals_generic_when_fresh_is_younger(spark):
    # crawl-loop invariant: fresh discovered_iter > every deferred row's,
    # priority constant -> deferred always wins the min() tie-break
    deferred = frontier_from_links(
        spark.createDataFrame(
            [("https://a.example.com/x",), ("https://d.example.com/w",)],
            "url string",
        ),
        discovered_iter=2,
    )
    fresh = frontier_from_links(_links(spark), discovered_iter=3)
    fww = merge_frontier_fww(deferred, fresh)
    generic = merge_frontier(deferred, fresh)
    assert _rows(fww) == _rows(generic)
    # the duplicate url kept the deferred row's discovered_iter
    kept = {r["url"]: r["discovered_iter"] for r in fww.collect()}
    assert kept["https://a.example.com/x"] == 2
    assert kept["https://d.example.com/w"] == 2


def _frontier(spark, spec):
    """spec: {host: n_urls} -> frontier rows (priority 0, iter 0)."""
    urls = [
        (f"https://{h}/p/{i}",) for h, n in spec.items() for i in range(n)
    ]
    return frontier_from_links(
        spark.createDataFrame(urls, "url string"), discovered_iter=0
    )


def test_select_batch_all_shapes_agree(spark):
    """The three politeness shapes (bypass / all-over / mixed) must select
    the same batch a single global window would."""
    budget = 3

    def oracle(frontier):
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy(
            F.col("priority").asc(), F.col("url").asc()
        )
        r = frontier.withColumn("_rn", F.row_number().over(w))
        return (
            _rows(r.filter(F.col("_rn") <= budget).drop("_rn")),
            _rows(r.filter(F.col("_rn") > budget).drop("_rn")),
        )

    shapes = {
        "bypass": {"a.com": 2, "b.com": 3},          # nobody over budget
        "all_over": {"a.com": 5, "b.com": 9},        # everybody over
        "mixed": {"a.com": 2, "b.com": 9, "c.com": 4},
    }
    for name, spec in shapes.items():
        frontier = _frontier(spark, spec)
        sel = select_batch(frontier, host_budget=budget, salt_n=4)
        want_batch, want_deferred = oracle(frontier)
        assert _rows(sel.batch) == want_batch, name
        assert _rows(sel.deferred) == want_deferred, name
        # batch ∪ deferred partitions the frontier exactly
        assert sorted(_rows(sel.batch) + _rows(sel.deferred)) == _rows(frontier), name
        if name == "bypass":
            assert sel.spool is None  # no window ran at all


def test_select_batch_empty_frontier(spark):
    frontier = _frontier(spark, {"a.com": 1}).filter(F.lit(False))
    sel = select_batch(frontier, host_budget=2)
    assert sel.batch.count() == 0
    assert sel.deferred.count() == 0


def test_select_batch_host_stats_hint_matches_computed(spark):
    """Passing precomputed (n_hosts, n_over) must reproduce the computed-
    stats selection exactly in every shape (the crawl loop piggybacks these
    two ints on its committed-counts job)."""
    budget = 3
    shapes = {
        "bypass": ({"a.com": 2, "b.com": 3}, (2, 0)),
        "all_over": ({"a.com": 5, "b.com": 9}, (2, 2)),
        "mixed": ({"a.com": 2, "b.com": 9, "c.com": 4}, (3, 2)),
    }
    for name, (spec, stats) in shapes.items():
        frontier = _frontier(spark, spec)
        computed = select_batch(frontier, host_budget=budget, salt_n=4)
        hinted = select_batch(
            frontier, host_budget=budget, salt_n=4, host_stats=stats
        )
        assert _rows(hinted.batch) == _rows(computed.batch), name
        assert _rows(hinted.deferred) == _rows(computed.deferred), name
        assert (hinted.spool is None) == (computed.spool is None), name
