"""Refresh (re-crawl) policy: recrawl_ttl_rounds unsees stale pages so
they are re-fetched on cadence, the seen table always carries the LATEST
fetch round, kill-and-resume replays the policy identically, and the
cuckoo filter absorbs the unsee as a bounded edit (routing stays exact —
the same crawl under Bloom commits identical tables)."""

from __future__ import annotations

import os
import sys
import tempfile

from pyspark.sql import functions as F

from __spider_spark.plans.crawl import (CrawlConfig, resolve_seen,
                                        run_crawl)
from __spider_spark.sources.lakehouse import Lakehouse
from __spider_spark.sources.pages import generate_pages, seeds_df


def _tables(spark, lake):
    out = {}
    for t in ("seen", "results", "frontier"):
        df = lake.read(spark, t)
        out[t] = sorted(map(tuple, df.select(sorted(df.columns)).collect()),
                        key=repr)
    return out


def _run(spark, pages, seeds, rounds, filt):
    cfg = CrawlConfig(default_budget=50, recrawl_ttl_rounds=2,
                      seen_filter=filt, bloom_min_seen=0)
    lake = Lakehouse(tempfile.mkdtemp(prefix=f"lake_rc_{filt}_"))
    run_crawl(spark, lake, pages, seeds, cfg, rounds)
    return cfg, lake


def test_recrawl_refetches_on_cadence_and_resumes(spark, monkeypatch):
    N, HOSTS, SEEDS, ROUNDS = 60, 4, 60, 5
    pages = generate_pages(spark, N, HOSTS)
    seeds = seeds_df(spark, N, SEEDS, HOSTS)

    # the crawl loop persists (lineage kept), never localCheckpoints: a
    # local checkpoint does not survive executor loss
    crawl_checkpoints = []
    df_class = type(pages)   # the session's concrete DataFrame class
    local_checkpoint = df_class.localCheckpoint

    def spy(self, *a, **kw):
        caller = sys._getframe(1).f_code.co_filename
        if caller.endswith(os.path.join("plans", "crawl.py")):
            crawl_checkpoints.append(caller)
        return local_checkpoint(self, *a, **kw)

    monkeypatch.setattr(df_class, "localCheckpoint", spy)
    # ids, not a count: the context cleaner may drop RDDs that earlier
    # tests leaked while this crawl runs
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    cfg, lake = _run(spark, pages, seeds, ROUNDS, "cuckoo")
    assert crawl_checkpoints == []
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               ) <= persisted
    results = lake.read(spark, "results").filter(F.col("status") == 200)
    rounds_per_url = {
        r["url_hash"]: sorted(r["rs"])
        for r in results.groupBy("url_hash")
        .agg(F.collect_set("round").alias("rs")).collect()
    }
    multi = {h: rs for h, rs in rounds_per_url.items() if len(rs) > 1}
    assert multi, "no page was ever re-fetched; ttl policy inert"
    # cadence: consecutive successful fetches of the same url are at
    # least ttl rounds apart (a due URL may be clipped and land later,
    # never earlier)
    for rs in multi.values():
        assert all(b - a >= cfg.recrawl_ttl_rounds
                   for a, b in zip(rs, rs[1:])), rs
    # the RESOLVED seen view carries exactly one row per url, stamped
    # with the LATEST round (raw rows are an append-only history: the
    # unsee is a tombstone append, never a table rewrite)
    seen = resolve_seen(lake.read(spark, "seen"))
    assert (seen.groupBy("url_hash").count()
            .filter(F.col("count") > 1).count()) == 0
    latest = {r["url_hash"]: r["round_seen"]
              for r in seen.filter(F.col("outcome") == "fetched")
              .select("url_hash", "round_seen").collect()}
    for h, rs in rounds_per_url.items():
        assert latest[h] == rs[-1]

    # kill-and-resume replays the refresh policy identically
    lake2 = Lakehouse(tempfile.mkdtemp(prefix="lake_rc_resume_"))
    run_crawl(spark, lake2, pages, seeds, cfg, 3)
    run_crawl(spark, lake2, pages, seeds, cfg, ROUNDS)
    assert _tables(spark, lake2) == _tables(spark, lake)
    lake.destroy()
    lake2.destroy()


def test_recrawl_identical_under_bloom_and_cuckoo(spark):
    """The filter only routes; the refresh policy's exactness comes from
    the seen-table arithmetic — Bloom (no deletes, stale bits cost FP
    routing) and cuckoo (bounded unsee edit) commit identical tables."""
    N, HOSTS, SEEDS, ROUNDS = 60, 4, 60, 4
    pages = generate_pages(spark, N, HOSTS)
    seeds = seeds_df(spark, N, SEEDS, HOSTS)
    _, lake_b = _run(spark, pages, seeds, ROUNDS, "bloom")
    _, lake_c = _run(spark, pages, seeds, ROUNDS, "cuckoo")
    assert _tables(spark, lake_b) == _tables(spark, lake_c)
    lake_b.destroy()
    lake_c.destroy()


def test_recrawl_with_mor_frontier_matches_cow(spark):
    """mor mode appends refresh rows to the frontier delta (a clipped due
    URL must survive the next fold); the crawl's committed seen/results
    equal the cow run's."""
    N, HOSTS, SEEDS, ROUNDS = 60, 4, 60, 5
    pages = generate_pages(spark, N, HOSTS)
    seeds = seeds_df(spark, N, SEEDS, HOSTS)
    lakes = {}
    for mode in ("cow", "mor"):
        cfg = CrawlConfig(default_budget=3, recrawl_ttl_rounds=2,
                          frontier_mode=mode, use_bloom=False)
        lake = Lakehouse(tempfile.mkdtemp(prefix=f"lake_rc_{mode}_"))
        run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
        lakes[mode] = lake
    for t in ("seen", "results"):
        a = lakes["cow"].read(spark, t)
        b = lakes["mor"].read(spark, t)
        assert (sorted(map(tuple, a.select(sorted(a.columns)).collect()),
                       key=repr)
                == sorted(map(tuple, b.select(sorted(b.columns)).collect()),
                          key=repr)), t
    for lake in lakes.values():
        lake.destroy()


def test_recrawl_all_clipped_round_commits_and_resumes(spark):
    """Corner: every due page politeness-clipped in its refresh round
    (wave == 0). The round must COMMIT (seen subtraction + frontier
    re-injection) instead of terminating — a later round with budget
    fetches them."""
    N, HOSTS = 40, 4
    pages = generate_pages(spark, N, HOSTS)
    seeds = seeds_df(spark, N, 40, HOSTS)
    cfg = CrawlConfig(default_budget=50, recrawl_ttl_rounds=2,
                      use_bloom=False)
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_rc_clip_"))
    run_crawl(spark, lake, pages, seeds, cfg, 2)  # fetch all r1, tick r2
    n_fetched = (resolve_seen(lake.read(spark, "seen"))
                 .filter(F.col("outcome") == "fetched").count())
    assert n_fetched > 0
    clip = CrawlConfig(default_budget=0, recrawl_ttl_rounds=2,
                       use_bloom=False)
    run_crawl(spark, lake, pages, seeds, clip, 3)  # r3: all due, all clipped
    assert lake.latest_round() == 3, "all-clipped refresh round must commit"
    seen = resolve_seen(lake.read(spark, "seen"))
    assert seen.filter(F.col("outcome") == "fetched").count() == 0
    run_crawl(spark, lake, pages, seeds, cfg, 4)  # r4: budget back -> refetch
    refetched = (lake.read(spark, "results")
                 .filter((F.col("status") == 200) & (F.col("round") == 4))
                 .count())
    assert refetched == n_fetched
    lake.destroy()


def test_resolve_seen_shuffles_tombstones_only(spark):
    """r6 VERDICT #3: a refresh round's seen resolution must shuffle
    O(tombstoned keys), not O(corpus). Value check: the split
    semi/anti form equals the old full-table max_by aggregate. Plan
    check: the corpus-sized seen side crosses no shuffle — both the
    semi and anti joins broadcast the tombstone key set, and the only
    hash exchanges are the tombstone-slice distinct + max_by (each
    O(tombstones))."""
    rows = [(i, f"http://h{i % 7}.test/p{i}", "fetched", 1 + i % 3)
            for i in range(5000)]
    # 10 tombstoned keys, of which 5 were re-fetched afterwards
    rows += [(i, f"http://h{i % 7}.test/p{i}", "unseen", 5)
             for i in range(10)]
    rows += [(i, f"http://h{i % 7}.test/p{i}", "fetched", 6)
             for i in range(5)]
    # parquet-backed like the real seen table (a LocalRelation carries
    # no runtime stats, so AQE cannot prove the tombstone side small)
    path = tempfile.mkdtemp(prefix="resolve_seen_") + "/seen"
    spark.createDataFrame(
        rows, "url_hash long, url string, outcome string, round_seen int"
    ).write.parquet(path)
    seen = spark.read.parquet(path)
    got = resolve_seen(seen)
    got_rows = {tuple(r) for r in got.collect()}

    # reference: the old O(corpus) aggregate over every key
    key = F.struct(
        F.col("round_seen").alias("k1"),
        (F.col("outcome") != "unseen").cast("int").alias("k2"))
    cols = [c for c in seen.columns if c != "url_hash"]
    want = (seen.groupBy("url_hash")
            .agg(F.max_by(F.struct(*cols), key).alias("__r"))
            .select("url_hash", "__r.*")
            .filter(F.col("outcome") != "unseen"))
    want_rows = {tuple(r) for r in want.select(got.columns).collect()}
    assert got_rows == want_rows
    # 4990 untouched + 5 re-fetched survive; 5 stale-unseen keys drop
    assert len(got_rows) == 4995

    plan = got._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in plan, (
        "seen side shuffled for the tombstone join — the O(corpus) "
        "exchange resolve_seen exists to avoid")
    assert plan.count("BroadcastHashJoin") >= 2  # semi + anti, both bcast
    n_hash_exchange = plan.count("Exchange hashpartitioning")
    assert n_hash_exchange <= 2, (
        f"{n_hash_exchange} hash exchanges — only the tombstone-slice "
        f"distinct and max_by aggregate may shuffle")


def test_content_dedup_with_recrawl_refused():
    """ADVICE r6 (medium): the combination corrupts the incremental dedup
    state (re-fetched doc_ids re-enter the band index) — must refuse."""
    import pytest
    with pytest.raises(ValueError, match="recrawl-safe"):
        CrawlConfig(content_dedup=True, recrawl_ttl_rounds=2)
