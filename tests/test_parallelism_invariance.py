"""Crawl output must be byte-identical at different parallelism (north_rule
'matching crawl ordering' at N and 4N executors — here different shuffle
partition counts within one session)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from __spider_spark.plans.crawl import CrawlConfig, run_crawl
from __spider_spark.sources.lakehouse import Lakehouse
from __spider_spark.sources.pages import generate_pages, seeds_df


def _crawl(spark, parts: int):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        lake = Lakehouse(tempfile.mkdtemp(prefix=f"lake_par{parts}_"))
        cfg = CrawlConfig(default_budget=5, budgets={"host0.test": 2})
        run_crawl(spark, lake, generate_pages(spark, 300, 9),
                  seeds_df(spark, 300, 25, 9), cfg, 3)
        res = lake.read(spark, "results")
        waves = [tuple(r.url_hash for r in
                       res.filter(F.col("round") == k)
                       .orderBy("fetch_order").collect())
                 for k in (1, 2, 3)]
        seen = frozenset(r.url_hash for r in
                         lake.read(spark, "seen").collect())
        frontier = frozenset(
            (r.url_hash, r.priority, r.round) for r in
            lake.read(spark, "frontier").collect())
        texts = {r.url: r.text for r in
                 res.filter(F.col("status") == 200).collect()}
        lake.destroy()
        return waves, seen, frontier, texts
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_crawl_identical_across_parallelism(spark):
    a = _crawl(spark, 3)
    b = _crawl(spark, 16)
    assert a[0] == b[0], "fetch order diverged with parallelism"
    assert a[1] == b[1], "seen-set diverged"
    assert a[2] == b[2], "frontier state diverged"
    assert a[3] == b[3], "extracted text diverged"