import pytest

from fs_crawler_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fs-crawler-spark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def exact_urls_deduped(spark):
    """Exact value of round r's logged ``urls_deduped``: the distinct
    canonical outlinks of the pages round r fetched that did not enter the
    frontier as new urls — those in the seen-set as committed up to round r
    (seen before, fetched now, or blocked now) or in the frontier round r
    read (already queued). That frontier is round r-1's committed frontier,
    or the seeds for r = 0: a seed the robots gate dropped is not queued,
    but when round 0 links to it, it is blocked into round 0's seen."""
    from pyspark.sql import functions as F

    from fs_crawler_spark.functions.extract import extract_pages
    from fs_crawler_spark.operators.frontier import frontier_from_links
    from fs_crawler_spark.plans.crawl import seed_frontier
    from fs_crawler_spark.sources.checkpoint import CheckpointStore

    def count(pages, checkpoint_dir: str, r: int) -> int:
        store = CheckpointStore(checkpoint_dir)
        fetched = pages.join(
            store.read(spark, r, "vertices").select(F.col("id").alias("url")),
            "url",
            "left_semi",
        )
        links = extract_pages(fetched).select(F.explode("links").alias("url"))
        if r == 0:
            queued = seed_frontier(spark, store.manifest(0)["meta"]["settings"]["seeds"])
        else:
            queued = store.read(spark, r - 1, "frontier")
        known = store.read_union(spark, "seen", up_to_round=r).select("url_hash", "url")
        known = known.unionByName(queued.select("url_hash", "url"))
        return (
            frontier_from_links(links, r + 1)
            .join(known, ["url_hash", "url"], "left_semi")
            .count()
        )

    return count
