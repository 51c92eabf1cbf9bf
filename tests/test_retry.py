"""Retry pyramid + error quarantine + robots dimension (VERDICT r1 #3/#4/#6).

Reference semantics: a transient failure is retried 2-3 times with backoff
(/root/reference/middlewares/YlSpiderMiddleware.py:80-109), failed raw
bodies are persisted per key (/root/reference/spiders/ctripSpider.py:318-332),
and session state refreshes between batches (get_ctrip_cookie.py:40-67).
Engine form: 503s re-enter the frontier with decayed priority and
attempts+1 up to MAX_ATTEMPTS, then quarantine into the ``errors`` table
(same atomic commit); robots rules are a distributed (host, rules) dim.
Everything is pinned against the single-process reference simulator.
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from __spider_spark.functions.urls import canonicalize_one
from __spider_spark.plans.crawl import CrawlConfig, run_crawl
from __spider_spark.reference_sim import simulate_crawl
from __spider_spark.sources.lakehouse import Lakehouse

# tiny site: s0 links to flaky1/flaky2/dead; flaky1 recovers after one 503,
# flaky2 503s forever (gives up at MAX_ATTEMPTS), dead 404s
SITE = {
    "http://r.test/": """<html><body><h1>home</h1>
        <p><a href="/flaky1">f1</a></p>
        <p><a href="/flaky2">f2</a></p>
        <p><a href="/dead">d</a></p>
        <p><a href="/ok">ok</a></p>
        <p><a href="mailto:someone@r.test">mail</a></p>
        <p><a href="javascript:void(0)">js</a></p></body></html>""",
    "http://r.test/flaky1": "<html><body><h1>flaky one</h1></body></html>",
    "http://r.test/flaky2": "<html><body><h1>flaky two</h1></body></html>",
    "http://r.test/ok": "<html><body><h1>fine</h1></body></html>",
}
SEEDS = ["http://r.test/"]
FLAKY = {"http://r.test/flaky1": 1,   # one 503, then 200
         "http://r.test/flaky2": 9}   # always 503 -> gives up
ROUNDS = 6


def _spark_inputs(spark):
    pages_df = spark.createDataFrame(
        [(u, h.encode()) for u, h in SITE.items()], "url string, html binary")
    seeds_df = spark.createDataFrame(
        [(1, SEEDS[0])], "seed_index long, url string")
    return pages_df, seeds_df


@pytest.fixture(scope="module")
def retry_sim():
    pages = {canonicalize_one(u): h.encode() for u, h in SITE.items()}
    return simulate_crawl(pages, SEEDS, ROUNDS, default_budget=10,
                          flaky=FLAKY)


@pytest.fixture(scope="module")
def retry_crawled(spark):
    pages_df, seeds_df = _spark_inputs(spark)
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_retry_"))
    cfg = CrawlConfig(default_budget=10, flaky=dict(FLAKY))
    metrics = run_crawl(spark, lake, pages_df, seeds_df, cfg, ROUNDS)
    yield lake, metrics
    lake.destroy()


def test_retry_metrics_match_sim(retry_crawled, retry_sim):
    _, metrics = retry_crawled
    assert metrics == retry_sim.metrics
    # the scenario actually exercises the pyramid
    assert sum(m["retried_503"] for m in metrics) > 0
    assert sum(m["failed_gave_up"] for m in metrics) == 1


def test_retry_waves_match_sim(spark, retry_crawled, retry_sim):
    lake, metrics = retry_crawled
    res = lake.read(spark, "results")
    got = [
        [r.url_hash for r in res.filter(F.col("round") == k)
         .orderBy("fetch_order").collect()]
        for k in range(1, len(metrics) + 1)
    ]
    assert got == retry_sim.waves[: len(metrics)]


def test_flaky_page_eventually_fetched(spark, retry_crawled):
    lake, _ = retry_crawled
    res = lake.read(spark, "results")
    f1 = res.filter(F.col("url") == "http://r.test/flaky1") \
            .orderBy("round").collect()
    assert [r.status for r in f1] == [503, 200]
    assert "flaky one" in f1[-1].text
    # retried attempt carries decayed priority -> later order, never seen
    # until terminal
    seen = {r.url: r.outcome for r in lake.read(spark, "seen").collect()}
    assert seen["http://r.test/flaky1"] == "fetched"
    assert seen["http://r.test/flaky2"] == "failed_gave_up"


def test_error_quarantine_table(spark, retry_crawled, retry_sim):
    lake, _ = retry_crawled
    err = lake.read(spark, "errors")
    got = {(r.url, r.round, r.status, r.attempts, r.error)
           for r in err.collect()}
    want = {(e["url"], e["round"], e["status"], e["attempts"], e["error"])
            for e in retry_sim.errors}
    assert got == want
    # the gave-up transient keeps its raw body for forensics; 404s have none
    rows = {r.url: r.html for r in err.collect()}
    assert rows["http://r.test/flaky2"] is not None
    assert b"flaky two" in bytes(rows["http://r.test/flaky2"])
    assert rows["http://r.test/dead"] is None


def test_non_fetchable_schemes_never_enter_frontier(spark, retry_crawled):
    lake, _ = retry_crawled
    res = lake.read(spark, "results")
    bad = res.filter(F.col("url").contains("mailto")
                     | F.col("url").contains("javascript")
                     | F.col("url").contains("void(0)")).count()
    assert bad == 0
    seen_bad = lake.read(spark, "seen").filter(
        F.col("url").contains("r.test/someone")).count()
    assert seen_bad == 0


def test_restart_equivalence_covers_errors(spark, retry_sim):
    """Crash after round 2, resume — errors table converges to the same
    final content (quarantine is part of the atomic snapshot)."""
    pages_df, seeds_df = _spark_inputs(spark)
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_retry_rst_"))
    cfg = CrawlConfig(default_budget=10, flaky=dict(FLAKY))
    run_crawl(spark, lake, pages_df, seeds_df, cfg, 2)
    run_crawl(spark, lake, pages_df, seeds_df, cfg, ROUNDS)
    got = {(r.url, r.round, r.status, r.attempts, r.error)
           for r in lake.read(spark, "errors").collect()}
    want = {(e["url"], e["round"], e["status"], e["attempts"], e["error"])
            for e in retry_sim.errors}
    assert got == want
    lake.destroy()


# -- robots as a distributed dimension -----------------------------------

QUERY_SITE = {
    "http://q.test/": """<html><body><h1>q home</h1>
        <p><a href="/page?sessionid=abc">session link</a></p>
        <p><a href="/page?id=1">plain link</a></p></body></html>""",
    "http://q.test/page?sessionid=abc": "<html><body><h1>s</h1></body></html>",
    "http://q.test/page?id=1": "<html><body><h1>p</h1></body></html>",
}
# the Crawl-delay (budget 3 at 60 s rounds) never clips this 3-page site;
# it gives the budget dim a row
QUERY_ROBOTS = {"q.test": "User-agent: *\nDisallow: /*?sessionid=\n"
                          "Crawl-delay: 20"}


def test_robots_query_string_rule(spark, monkeypatch):
    """Google REP matches path+query: Disallow: /*?sessionid= must block
    the session URL and allow the plain one — engine AND sim agree. Every
    round reads the rules and budget dims persisted once by run_crawl,
    and they hold exactly what the uncached derivation does. The budget
    dim is cached as one partition, so its per-round broadcast is one
    task, not one per shuffle partition."""
    from pyspark import StorageLevel

    from __spider_spark.operators.robots import robots_rules_df
    from __spider_spark.plans import crawl

    def rows(df):
        return sorted(map(repr, df.collect()))

    dims, budget_parts = [], []
    run_round = crawl.run_round

    def spy(*a, rules_df=None, budgets_df=None, **kw):
        dims.append([(df.is_cached, df.storageLevel != StorageLevel.NONE,
                      rows(df)) for df in (rules_df, budgets_df)])
        budget_parts.append(budgets_df.rdd.getNumPartitions())
        return run_round(*a, rules_df=rules_df, budgets_df=budgets_df, **kw)

    monkeypatch.setattr(crawl, "run_round", spy)
    pages = {canonicalize_one(u): h.encode() for u, h in QUERY_SITE.items()}
    sim = simulate_crawl(pages, ["http://q.test/"], 3, default_budget=10,
                         robots=dict(QUERY_ROBOTS))
    assert any(s == 200 for u, s in sim.statuses.items() if "id=1" in u)
    assert not any("sessionid" in u and s == 200
                   for u, s in sim.statuses.items())

    pages_df = spark.createDataFrame(
        [(u, h.encode()) for u, h in QUERY_SITE.items()],
        "url string, html binary")
    seeds_df = spark.createDataFrame(
        [(1, "http://q.test/")], "seed_index long, url string")
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_qrob_"))
    cfg = CrawlConfig(default_budget=10, robots=dict(QUERY_ROBOTS))
    run_crawl(spark, lake, pages_df, seeds_df, cfg, 3)
    rules = robots_rules_df(spark, dict(QUERY_ROBOTS))
    want = [(True, True, rows(rules)),
            (True, True, rows(crawl._budgets_df(spark, cfg, rules)))]
    assert len(dims) >= 2 and all(d == want for d in dims), dims
    assert want[1][2] == ["Row(host='q.test', budget=3)"]
    assert set(budget_parts) == {1}, budget_parts
    seen = {r.url: r.outcome for r in lake.read(spark, "seen").collect()}
    assert seen["http://q.test/page?sessionid=abc"] == "robots_blocked"
    assert seen["http://q.test/page?id=1"] == "fetched"
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} == sim.seen
    lake.destroy()


@pytest.mark.parametrize("round_k", [None, 2])
def test_explicit_budget_overrides_robots_budget(spark, round_k):
    """The budget dim holds one row per host: an explicit config budget
    wins over the Crawl-delay budget of the same host, and a host with
    only one of them keeps it — plain, and schedule-aware (round_k, the
    budget_carry dim). The clip's bound is the largest budget in force."""
    from __spider_spark.operators.robots import robots_rules_df
    from __spider_spark.plans import crawl

    robots = {"robots.test": "User-agent: *\nCrawl-delay: 24",
              "both.test": "User-agent: *\nCrawl-delay: 20"}
    cfg = CrawlConfig(default_budget=10, robots=dict(robots),
                      budgets={"both.test": 7, "explicit.test": 50})
    budgets = crawl._budgets_df(spark, cfg, robots_rules_df(spark, robots),
                                round_k=round_k)
    # 60 s rounds at a 24 s delay: rate 2.5, so floor 2 per round plain,
    # and floor(2 * 2.5) - floor(2.5) = 3 in round 2 with the carry
    assert sorted(map(tuple, budgets.collect())) == [
        ("both.test", 7), ("explicit.test", 50),
        ("robots.test", 2 if round_k is None else 3)]
    assert crawl._max_budget(cfg, budgets) == 50


def test_robots_dim_scales_without_driver_parsing(spark):
    """10^5-host rules dimension built AND parsed distributed — the gate
    joins it onto a frontier without any driver-side dict (VERDICT #6)."""
    from __spider_spark.operators.robots import (
        budgets_from_rules, robots_gate, robots_rules_df)
    n = 100_000
    bodies = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".test")).alias("host"),
        F.when(F.col("id") % 2 == 0,
               F.lit("User-agent: *\nDisallow: /private\nCrawl-delay: 5"))
         .otherwise(F.lit("User-agent: *\nDisallow:")).alias("body"),
    )
    rules = robots_rules_df(spark, bodies)
    frontier = spark.range(100).select((F.col("id") * 999).alias("id")) \
        .select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".test")).alias("host"),
        F.concat(F.lit("http://h"), F.col("id"),
                 F.lit(".test/private/x")).alias("url"),
    )
    gated = robots_gate(frontier, rules)
    counts = {r["__allowed"]: r["n"] for r in
              gated.groupBy("__allowed").agg(F.count("*").alias("n"))
              .collect()}
    assert counts[False] == 50  # even hosts disallow /private
    assert counts[True] == 50
    budgets = budgets_from_rules(rules, round_seconds=60.0)
    assert budgets.count() == n // 2
    assert budgets.agg(F.min("budget"), F.max("budget")).first() == (12, 12)


def test_per_round_robots_refresh(spark):
    """S14/S15 analogue: a robots_refresh hook swaps rules between rounds —
    round 1 allows everything, round 2 blocks /p*."""
    pages_df, seeds_df = _spark_inputs(spark)
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_refresh_"))

    def refresh(spark_, k):
        if k >= 2:
            return {"r.test": "User-agent: *\nDisallow: /"}
        return {"r.test": "User-agent: *\nDisallow:"}

    cfg = CrawlConfig(default_budget=10, robots_refresh=refresh)
    # ids, not a count: the context cleaner may drop RDDs that earlier
    # tests leaked while this crawl runs
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    run_crawl(spark, lake, pages_df, seeds_df, cfg, 3)
    seen = {r.url: r.outcome for r in lake.read(spark, "seen").collect()}
    assert seen["http://r.test/"] == "fetched"          # round 1: open
    assert seen["http://r.test/ok"] == "robots_blocked"  # round 2: closed
    # every refreshed rules/budget pair was released, the last one too
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               ) <= persisted
    lake.destroy()
