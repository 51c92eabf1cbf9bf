"""Politeness clip: ≤ budget per host, deterministic, a per-host top-k (SURVEY §5.1);
the wave's global fetch-order rank."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from __spider_spark.operators.order import global_rank
from __spider_spark.operators.politeness import clip_wave
from __spider_spark.operators.robots import allowed_one, parse_robots


def _frontier(spark, n=500, hot_frac=0.6):
    hot = int(n * hot_frac)
    rows = [(f"http://hot.test/p{i}", i * 1_000_003, "hot.test",
             1.0 / (1 + i % 7)) for i in range(hot)]
    rows += [(f"http://cold{i%9}.test/p{i}", i * 999_983 + 1,
              f"cold{i%9}.test", 1.0 / (1 + i % 5)) for i in range(n - hot)]
    return spark.createDataFrame(
        rows, "url string, url_hash long, host string, priority double")


def test_budget_respected_and_deterministic(spark):
    df = _frontier(spark)
    budgets = spark.createDataFrame(
        [("hot.test", 2)], "host string, budget int")
    wave = clip_wave(df, budgets, default_budget=3)
    per_host = {r["host"]: r["n"] for r in
                wave.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host["hot.test"] == 2
    assert all(v <= 3 for h, v in per_host.items() if h != "hot.test")


@pytest.mark.parametrize("default,below,above,limited",
                         [(3, 2, 5, True), (2_000, 150, 2_500, False)])
def test_clip_is_per_host_topk(spark, default, below, above, limited):
    """One host window with the literal bound == a per-host top-k by
    (priority DESC, url_hash ASC) computed in Python, with the bound below
    the group-limit threshold (map-side limit planned) and above it (plain
    window); one budget row above the default and one below."""
    threshold = int(spark.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold"))
    assert (above <= threshold) == limited
    df = _frontier(spark, hot_frac=0.6)
    budget = {"hot.test": below, "cold0.test": above}
    budgets = spark.createDataFrame(list(budget.items()),
                                    "host string, budget int")
    wave = clip_wave(df, budgets, default, max_budget=above)
    got = sorted(r.url_hash for r in wave.select("url_hash").collect())
    by_host = {}
    for r in df.collect():
        by_host.setdefault(r.host, []).append((-r.priority, r.url_hash))
    want = sorted(h for host, rows in by_host.items()
                  for _, h in sorted(rows)[:budget.get(host, default)])
    assert got == want
    assert len(by_host["hot.test"]) > below  # the hot host is clipped


def test_selection_is_topk_by_priority_then_hash(spark):
    df = _frontier(spark, n=100, hot_frac=1.0)
    wave = clip_wave(df, None, default_budget=4)
    got = sorted(((r.priority, r.url_hash) for r in wave.collect()),
                 key=lambda t: (-t[0], t[1]))
    rows = sorted(((r.priority, r.url_hash) for r in df.collect()),
                  key=lambda t: (-t[0], t[1]))
    assert got == rows[:4]


def test_robots_parse_and_match():
    rules = parse_robots(
        "User-agent: googlebot\nDisallow: /secret\n\n"
        "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        "Disallow: /tmp\n# comment\nDisallow:\nCrawl-delay: 2\n")
    assert rules.disallow == ["/private", "/tmp"]
    assert rules.allow == ["/private/ok"]
    assert rules.crawl_delay == 2.0
    assert allowed_one(rules, "/public")
    assert not allowed_one(rules, "/private/x")
    assert allowed_one(rules, "/private/ok/x")  # longest match wins
    assert not allowed_one(rules, "/tmp")
    assert allowed_one(None, "/anything")


def test_robots_wildcards_and_anchors():
    rules = parse_robots(
        "User-agent: *\nDisallow: /*.pdf$\nDisallow: /cgi/*/run\n"
        "Allow: /cgi/safe/run\n")
    assert not allowed_one(rules, "/docs/file.pdf")
    assert allowed_one(rules, "/docs/file.pdf.html")  # $ anchors the end
    assert not allowed_one(rules, "/cgi/x/run")
    assert allowed_one(rules, "/cgi/safe/run")  # allow more specific
    assert allowed_one(rules, "/cgi/run")


def test_crawl_delay_budgets():
    from __spider_spark.operators.robots import robots_budgets
    b = robots_budgets(
        {"slow.test": "User-agent: *\nCrawl-delay: 10\n",
         "fast.test": "User-agent: *\nDisallow: /x\n",
         "verys.test": "User-agent: *\nCrawl-delay: 120\n"},
        round_seconds=60)
    assert b == {"slow.test": 6, "verys.test": 1}


@pytest.mark.parametrize("parts", [3, 16])
def test_global_rank_matches_single_task_row_number(spark, parts):
    """The parallel rank is the single-task row_number, row for row:
    compared as an exact url_hash -> rank map (never by sorting on the
    rank, which would hide duplicate or shifted ranks)."""
    df = spark.range(10_000).select(
        F.xxhash64("id").alias("url_hash"),  # negative and positive
        (F.lit(1.0) / (1 + F.col("id") % 3)).alias("priority"),
    ).cache()
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        ranked = global_rank(df, order, rank_col="r").select("url_hash", "r")
        got = dict(ranked.collect())
        plan = ranked._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    want = dict(df.select("url_hash", F.row_number().over(
        Window.orderBy(*order))).collect())
    df.unpersist()
    assert min(want) < 0 < max(want)
    assert got == want
    assert "rangepartitioning" not in plan  # no sampled range exchange
