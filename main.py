"""spark-submit entry point for the crawl engine (north_rule deployment
path: ``spark-submit --py-files app.zip main.py ...``).

Gets its SparkSession from spark-submit (no master hardcoded) and imports
``__spider_spark`` from whatever --py-files shipped, so the same command
works on a multi-executor cluster. Reference analogue: the cron launcher
/root/reference/start_spider_demo.sh:2-11 + start_ctrip.py:7-15 with its 7
positional args (seed file, line range, date window, task_time) — here:
page store, seed count, rounds, budget, lakehouse dir.

Usage (local demo — scripts/submit_demo.sh runs exactly this):
  spark-submit --master local[8] --py-files /tmp/__spider_spark_pyfiles.zip \
      main.py --pages-parquet /path/pages --n-pages 60000 --seeds 2000 \
      --rounds 3 --lake /path/lake
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages-parquet", required=True)
    ap.add_argument("--n-pages", type=int, required=True)
    ap.add_argument("--seeds", type=int, default=1000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--budget", type=int, default=100)
    ap.add_argument("--lake", required=True)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("__spider_spark-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imported AFTER getOrCreate so the module resolves from --py-files
    from __spider_spark.plans.crawl import CrawlConfig, run_crawl
    from __spider_spark.sources.lakehouse import Lakehouse
    from __spider_spark.sources.pages import seeds_df

    pages = spark.read.parquet(args.pages_parquet)
    lake = Lakehouse(args.lake)
    cfg = CrawlConfig(default_budget=args.budget)
    seeds = seeds_df(spark, args.n_pages, args.seeds, 64)
    metrics = run_crawl(spark, lake, pages, seeds, cfg, args.rounds)
    for row in metrics:
        print(json.dumps(row))
    print(json.dumps({
        "final_round": lake.latest_round(),
        "results_rows": lake.read(spark, "results").count(),
        "seen_rows": lake.read(spark, "seen").count(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
