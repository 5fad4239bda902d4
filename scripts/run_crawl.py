"""spark-submit entry point for the crawl engine.

Cluster usage (north rule: "run via spark-submit --py-files on a
multi-executor cluster"):

    cd /root/repo && zip -qr /tmp/engine.zip crawler_german_localpoliticans_spark
    spark-submit --py-files /tmp/engine.zip scripts/run_crawl.py \
        --pages s3://bucket/pages --seeds-csv s3://bucket/seeds.csv \
        --robots s3://bucket/robots --work-dir s3://bucket/crawl-state \
        --max-depth 2 [--resume] [--salt-buckets 64] [--seen-partitions 8192]

Local smoke (what the sandbox runs):

    python scripts/run_crawl.py --pages <dir>/pages.parquet \
        --seeds-csv <dir>/seeds.csv --robots <dir>/robots.parquet \
        --work-dir /tmp/crawl-state

Emits one JSON line per committed round (the checkpoint entry) and a final
summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description="Iterative PySpark crawl")
    p.add_argument("--pages", required=True, help="pages parquet/Iceberg path")
    p.add_argument("--seeds-csv", help="seed CSV path (ignored with --resume)")
    p.add_argument("--seed-column", default="Websites")
    p.add_argument("--robots", required=True, help="robots parquet path")
    p.add_argument("--work-dir", required=True)
    p.add_argument("--max-depth", type=int, default=2)
    p.add_argument("--politeness-ms", type=int, default=2000)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--salt-buckets", type=int, default=1)
    p.add_argument("--seen-partitions", type=int, default=32)
    p.add_argument("--shuffle-partitions", type=int, default=0, help="0 = keep session value")
    p.add_argument("--slice-budget-ms", type=int, default=0)
    p.add_argument("--execute-by-slice", action="store_true")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("crawler-spark")
    if "SPARK_GRAFT_CPUS" in os.environ and "spark.master" not in os.environ.get(
        "SPARK_CONF", ""
    ):
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    spark = builder.getOrCreate()
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    from crawler_german_localpoliticans_spark.config import CrawlConfig
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver
    from crawler_german_localpoliticans_spark.sources.seeds import read_seeds_csv
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    # the distributed seq assignment's range-bucket count follows the
    # session's shuffle partitions (spark-submit --conf or the flag above)
    config = CrawlConfig(
        max_depth=args.max_depth,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        politeness_delay_ms=args.politeness_ms,
        salt_buckets=args.salt_buckets,
        seen_partitions=args.seen_partitions,
        slice_budget_ms=args.slice_budget_ms,
        execute_by_slice=args.execute_by_slice,
    )
    driver = CrawlDriver(spark, args.work_dir, args.pages, read_robots(spark, args.robots), config)
    if args.resume:
        tables = driver.run(resume=True)
    else:
        if not args.seeds_csv:
            p.error("--seeds-csv required without --resume")
        seeds = read_seeds_csv(spark, args.seeds_csv, column_name=args.seed_column)
        tables = driver.run(seeds)

    for m in tables.metrics:
        slim = {k: v for k, v in m.items() if k != "lineage"}
        print(json.dumps({"round_committed": slim}, default=str))
    print(
        json.dumps(
            {
                "crawl_complete": True,
                "rounds": len(tables.metrics),
                "fetched": tables.fetched.count(),
                "url_seen": tables.url_seen.count(),
                "extracted": tables.extracted.count(),
                "work_dir": args.work_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
