"""jobs/crawl_job.py: the spark-submit entry point, driven in-process."""

import json
import os
import sys

from fs_crawler_spark.plans.crawl import read_output
from fs_crawler_spark.sources.checkpoint import CheckpointStore
from fs_crawler_spark.sources.corpus import build_pages, doc_url

JOBS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs")


def test_crawl_job_main(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """Every flag reaches CrawlConfig: a keyword the config no longer has
    would only fail here, at spark-submit time."""
    monkeypatch.syspath_prepend(JOBS_DIR)
    import crawl_job

    pages_dir = str(tmp_path / "pages")
    build_pages(spark, sf_dir, limit_docs=20).write.parquet(pages_dir)
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(
        sys,
        "argv",
        [
            "crawl_job.py",
            "--pages", pages_dir,
            "--seeds", doc_url(0),
            "--checkpoint", ckpt,
            "--max-rounds", "3",
            "--host-budget", "50",
            "--pages-url-partitioned",
        ],
    )
    crawl_job.main()

    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # BFS over the corpus link rule: doc 0 -> {1, 2, 3} -> {4..8, 10, 17}
    assert out == {"rounds": 3, "total_fetched": 11}
    assert read_output(spark, ckpt, "vertices").count() == 11
    settings = CheckpointStore(ckpt).manifest(2)["meta"]["settings"]
    assert (settings["max_rounds"], settings["host_budget"]) == (3, 50)
