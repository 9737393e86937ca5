"""spark-submit entry point (north_rule: `spark-submit --py-files`).

Package and launch:

    python scripts/make_pyfiles_zip.py            # -> dist/fs_crawler_spark.zip
    spark-submit --py-files dist/fs_crawler_spark.zip jobs/crawl_job.py \
        --pages /data/pages_parquet --seeds https://hub.example.com/doc/0 \
        --checkpoint /data/crawl_ckpt --max-rounds 50 --host-budget 1000 \
        --mode web

On a cluster the session comes from spark-submit's conf (master, executors,
memory); this script only adds the engine's AQE/Arrow settings if unset.
Resume is automatic: re-submit with the same --checkpoint.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True, help="parquet/Iceberg path of the pages table")
    p.add_argument("--seeds", nargs="+", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--max-rounds", type=int, default=50)
    p.add_argument("--host-budget", type=int, default=None)
    p.add_argument("--mode", choices=["web", "persons"], default="web")
    p.add_argument("--n-shards", type=int, default=256)
    p.add_argument("--robots", default=None, help="parquet path: (host, disallow_prefix)")
    p.add_argument("--resolve", action="store_true", help="run lazy A4 resolution after the crawl")
    p.add_argument(
        "--frontier-mode", choices=["auto", "rewrite", "delta"], default="auto",
        help="per-round frontier commit: full rewrite vs disjoint new-url delta",
    )
    p.add_argument(
        "--pages-url-partitioned", action="store_true",
        help="declare the pages table bucketed/hash-partitioned by url "
        "(Iceberg bucket(N, url) or a url-repartitioned cache): the fetch "
        "join then streams the corpus and shuffles only the batch",
    )
    args = p.parse_args()

    builder = SparkSession.builder.appName("fs-crawler-spark")
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    from fs_crawler_spark.plans.crawl import CrawlConfig, read_output, run_crawl
    from fs_crawler_spark.plans.resolve import apply_resolution

    pages = spark.read.parquet(args.pages)
    robots = spark.read.parquet(args.robots) if args.robots else None
    cfg = CrawlConfig(
        max_rounds=args.max_rounds,
        host_budget=args.host_budget,
        mode=args.mode,
        n_shards=args.n_shards,
        frontier_mode=args.frontier_mode,
        pages_url_partitioned=args.pages_url_partitioned,
    )
    res = run_crawl(spark, pages, args.seeds, args.checkpoint, cfg, robots=robots)

    if args.resolve:
        edges = read_output(spark, args.checkpoint, "edges")
        vertices = read_output(spark, args.checkpoint, "vertices")
        apply_resolution(edges, vertices).write.mode("overwrite").parquet(
            f"{args.checkpoint}/resolved_edges"
        )

    print(json.dumps({"rounds": res["rounds"], "total_fetched": res["total_fetched"]}))


if __name__ == "__main__":
    main()
