"""End-to-end crawl rounds: reference equivalence (north_rule), restart
equivalence, lakehouse atomicity (SURVEY §5.2/.4)."""

from __future__ import annotations

import json
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from __spider_spark.functions.urls import canonicalize_one
from __spider_spark.plans.crawl import CrawlConfig, run_crawl
from __spider_spark.reference_sim import simulate_crawl
from __spider_spark.sources.lakehouse import Lakehouse
from __spider_spark.sources.pages import build_page, generate_pages, seed_urls
from __spider_spark.sources.pages import seeds_df as make_seeds

N, HOSTS, SEEDS, ROUNDS = 400, 12, 30, 4

ROBOTS = {
    "host1.test": "User-agent: *\nDisallow: /p1",  # blocks p1*, p10..p19* etc
    "host2.test": "User-agent: *\nDisallow: /",
}
BUDGETS = {"host0.test": 3}  # hot host gets a tighter budget


def _cfg(use_bloom=True):
    return CrawlConfig(default_budget=4, budgets=dict(BUDGETS),
                       robots=dict(ROBOTS), use_bloom=use_bloom,
                       bloom_parts=4, bloom_bits_per_part=1 << 16)


def _pages_dict():
    return {
        canonicalize_one(build_page(i, N, HOSTS)["url"]):
            build_page(i, N, HOSTS)["html"]
        for i in range(N)
    }


@pytest.fixture(scope="module")
def sim():
    return simulate_crawl(_pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
                          default_budget=4, budgets=dict(BUDGETS),
                          robots=dict(ROBOTS))


@pytest.fixture(scope="module")
def crawled(spark):
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_"))
    pages = generate_pages(spark, N, HOSTS)
    metrics = run_crawl(spark, lake, pages, make_seeds(spark, N, SEEDS, HOSTS),
                        _cfg(), ROUNDS)
    yield lake, metrics
    lake.destroy()


def test_crawl_order_matches_reference(spark, crawled, sim):
    lake, _ = crawled
    res = lake.read(spark, "results")
    got = [
        [r.url_hash for r in res.filter(F.col("round") == k)
         .orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got == sim.waves


def test_seen_membership_matches_reference(spark, crawled, sim):
    lake, _ = crawled
    got = {r.url_hash for r in lake.read(spark, "seen").collect()}
    assert got == sim.seen


def test_extracted_text_byte_identical(spark, crawled, sim):
    lake, _ = crawled
    rows = lake.read(spark, "results").filter(F.col("status") == 200) \
        .select("url", "text").collect()
    assert len(rows) == len(sim.texts)
    for r in rows:
        assert r.text.encode("utf-8") == sim.texts[r.url].encode("utf-8"), r.url


def test_metrics_match_reference(spark, crawled, sim):
    _, metrics = crawled
    assert metrics == sim.metrics


def test_robots_actually_blocked(spark, crawled):
    lake, _ = crawled
    seen = lake.read(spark, "seen")
    blocked = seen.filter(F.col("outcome") == "robots_blocked")
    assert blocked.count() > 0
    assert blocked.filter(~F.col("url").startswith("http://host1.test/p1")
                          & ~F.col("url").startswith("http://host2.test/")
                          ).count() == 0
    res = lake.read(spark, "results")
    assert res.filter(F.col("url").startswith("http://host2.test/")).count() == 0


def test_restart_equivalence(spark, sim):
    """Kill after round 2, resume → identical final state (north_rule)."""
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_rst_"))
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    run_crawl(spark, lake, pages, seeds, _cfg(), 2)   # "crash" after round 2
    assert lake.latest_round() == 2
    run_crawl(spark, lake, pages, seeds, _cfg(), ROUNDS)  # resume
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} == sim.seen
    lake.destroy()


@pytest.mark.parametrize("seen_filter,bloom_inline_max",
                         [("bloom", 65_536), ("cuckoo", 0)])
def test_bloom_forced_on_same_result(spark, sim, seen_filter,
                                     bloom_inline_max):
    """bloom_min_seen=0 forces the sketch prefilter into every round (incl.
    a resume-rebuild) — results must be identical to the plain anti-join.
    bloom_inline_max=0 sends every round's newly-seen keys through the
    big-wave fold (an executor-built sketch delta merged on the driver)
    instead of the inline observed collect."""
    cfg = _cfg()
    cfg.bloom_min_seen = 0
    cfg.seen_filter = seen_filter
    cfg.bloom_inline_max = bloom_inline_max
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_fb_"))
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    run_crawl(spark, lake, pages, seeds, cfg, 2)
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)  # resume -> rebuild()
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} == sim.seen
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves
    lake.destroy()


def test_bloom_off_same_result(spark, sim):
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_nb_"))
    run_crawl(spark, lake, generate_pages(spark, N, HOSTS),
              make_seeds(spark, N, SEEDS, HOSTS), _cfg(use_bloom=False),
              ROUNDS)
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} == sim.seen
    lake.destroy()


def test_lakehouse_atomic_commit(spark):
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_atom_"))
    df1 = spark.range(5).select(F.col("id").alias("x"))
    lake.commit(1, append={"t": df1})
    # orphan data written but no manifest published == invisible
    lake._write_data(spark.range(99).select(F.col("id").alias("x")), "t")
    assert lake.read(spark, "t").count() == 5
    lake.commit(2, append={"t": df1})
    assert lake.read(spark, "t").count() == 10
    assert lake.latest_round() == 2
    lake.destroy()


def test_unpublished_manifest_is_not_a_version(spark):
    """A crash after vN.json is written but before LATEST is replaced
    leaves an unpublished manifest: versions() ends at the published one,
    retention keeps the snapshot LATEST names, and the orphan sweep reaps
    the unpublished manifest's data dir."""
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_crash_"))
    df = spark.range(5).select(F.col("id").alias("x"))
    lake.commit(1, append={"t": df})
    lake.commit(2, append={"t": df})
    lost = lake._write_data(spark.range(99).select(F.col("id").alias("x")),
                            "t")
    manifest = lake.snapshot()
    manifest["tables"]["t"].append(lost)
    lake._manifest_path(3).write_text(json.dumps({**manifest, "round": 3}))
    assert lake.versions() == [1, 2]
    assert lake.remove_orphans()["data_dirs"] == 1
    assert not (lake.root / lost).exists()
    lake.expire_snapshots(1)
    assert lake.versions() == [2]
    assert lake.latest_round() == 2
    assert lake.read(spark, "t").count() == 10
    # the sweep deleted the unpublished v3, so the next commit can take it
    assert not lake._manifest_path(3).exists()
    lake.commit(3, append={"t": pa.table({"x": pa.array([7], pa.int64())})})
    assert lake.versions() == [2, 3]
    assert lake.read(spark, "t").count() == 11
    lake.destroy()


def test_second_writer_is_refused(tmp_path):
    """Two writers that pick the same manifest version: the second one
    raises and the first one's snapshot stays byte-identical."""
    first = Lakehouse(tmp_path)
    first.commit(1, append={"t": pa.table({"x": [1]})})
    manifest = first._manifest_path(1).read_bytes()
    stale = Lakehouse(tmp_path)
    stale._latest_version = lambda: 0     # read LATEST before the commit
    with pytest.raises(FileExistsError):
        stale.commit(1, append={"t": pa.table({"x": [2]})})
    assert first._manifest_path(1).read_bytes() == manifest
    assert first.versions() == [1]
    assert first.snapshot()["tables"]["t"] == json.loads(manifest)[
        "tables"]["t"]


def test_lakehouse_time_travel(spark, crawled):
    """Iceberg VERSION-AS-OF parity: every committed snapshot stays
    readable exactly as it was — across appends, replaces, and
    compaction (manifests immutable, data dirs never rewritten)."""
    lake, _ = crawled
    versions = lake.versions()
    assert len(versions) >= 3 and versions == sorted(versions)
    # seen grows monotonically across snapshots
    sizes = []
    for v in versions:
        df = lake.read(spark, "seen", version=v)
        sizes.append(0 if df is None else df.count())
    assert sizes == sorted(sizes) and sizes[-1] > sizes[0]
    # a historical frontier is the pre-round state, not the latest
    hist = {r["url_hash"]
            for r in lake.read(spark, "frontier", version=versions[1])
            .select("url_hash").collect()}
    seen_after = {r["url_hash"]
                  for r in lake.read(spark, "seen").select("url_hash")
                  .collect()}
    assert hist & seen_after, \
        "later-crawled URLs must still be pending in the old snapshot"
    # compaction publishes a NEW snapshot; the old one still reads intact
    before = lake.read(spark, "seen").count()
    v_before = lake.versions()[-1]
    lake.compact_many(spark, ["seen"])
    assert lake.read(spark, "seen").count() == before
    assert lake.read(spark, "seen", version=v_before).count() == before
    assert lake.versions()[-1] > v_before


def test_everything_on_matches_sim(spark):
    """Feature-interaction pin: robots + custom budgets + Bloom (forced)
    + transient-failure retries + PageRank blend + inline curation +
    auto-compaction, all enabled in ONE crawl — order and seen membership
    must still match the simulator exactly (features must compose, not
    just pass their individual tests)."""
    import tempfile as _tf
    from __spider_spark.sources.pages import canonical_url
    flaky = {canonical_url(2, HOSTS): 1}
    cfg = CrawlConfig(
        default_budget=4, budgets=dict(BUDGETS), robots=dict(ROBOTS),
        use_bloom=True, bloom_parts=4, bloom_bits_per_part=1 << 16,
        bloom_min_seen=0, flaky=dict(flaky),
        blend_pagerank_every=2, blend_iters=3,
        curate=True, compact_every=2,
    )
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_all_"))
    run_crawl(spark, lake, generate_pages(spark, N, HOSTS),
              make_seeds(spark, N, SEEDS, HOSTS), cfg, ROUNDS)
    s = simulate_crawl(
        _pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
        default_budget=4, budgets=dict(BUDGETS), robots=dict(ROBOTS),
        flaky=dict(flaky), blend_pagerank_every=2, blend_iters=3,
    )
    res = lake.read(spark, "results")
    got = [
        [r.url_hash for r in res.filter(F.col("round") == k)
         .orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got == s.waves
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} \
        == s.seen
    # curation stamped alongside everything else
    assert lake.read(spark, "results").filter(
        (F.col("status") == 200) & F.col("lang_guess").isNull()
    ).count() == 0
    lake.destroy()


def test_curate_stamps_match_and_order_unchanged(spark, sim):
    """curate=True (the production 100 TB shape) stamps lang/quality/
    token/fingerprint per fetched row in the crawl pass, without touching
    the crawl order; each stamp equals the same Column expr applied to
    that row's own text (catches row-misalignment in the fused select)."""
    import tempfile as _tf
    from __spider_spark.functions.textstats import (
        fingerprint, lang_guess_from, quality_score_from, token_count_from,
        tokens)
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_cur_"))
    cfg = _cfg()
    cfg.curate = True
    run_crawl(spark, lake, generate_pages(spark, N, HOSTS),
              make_seeds(spark, N, SEEDS, HOSTS), cfg, ROUNDS)
    res = lake.read(spark, "results")
    for c in ("lang_guess", "quality", "n_tokens", "fingerprint"):
        assert c in res.columns
    got_waves = [
        [r.url_hash for r in res.filter(F.col("round") == k)
         .orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves  # curation must not perturb scheduling
    t, toks = F.col("text"), tokens(F.col("text"))
    bad = res.filter(F.col("status") == 200).filter(
        ~(
            (F.col("lang_guess") == lang_guess_from(t, toks))
            & (F.col("quality") == F.round(quality_score_from(toks), 6))
            & (F.col("n_tokens") == token_count_from(toks))
            & (F.col("fingerprint") == fingerprint(t))
        )
    ).count()
    assert bad == 0
    lake.destroy()


def test_curate_tokenizes_once(spark, monkeypatch):
    """The curation stamps share ONE projected token split per page: the
    optimized plan of the staged wave holds a single ``split(``."""
    plans = []
    stage = Lakehouse.stage

    def recording_stage(self, df, table):
        if table == "results":
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return stage(self, df, table)

    monkeypatch.setattr(Lakehouse, "stage", recording_stage)
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_tok_"))
    cfg = CrawlConfig(default_budget=3, use_bloom=False, curate=True)
    run_crawl(spark, lake, generate_pages(spark, 60, 3),
              make_seeds(spark, 60, 6, 3), cfg, 1)
    lake.destroy()
    assert [p.count("split(") for p in plans] == [1]


def test_pagerank_blend_order_matches_sim(spark):
    """Frontier re-prioritization by link structure (graph.py) wired into
    the crawl loop: with a PageRank blend every round, the engine's crawl
    order must still match the simulator's (which mirrors the blend with
    a scalar twin), AND differ from the unblended order (the blend must
    actually change scheduling, not be a no-op)."""
    import tempfile as _tf
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    cfg = CrawlConfig(default_budget=4, use_bloom=False,
                      blend_pagerank_every=1, blend_iters=3)
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_pr_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
    got = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    blended_sim = simulate_crawl(
        _pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
        default_budget=4, blend_pagerank_every=1, blend_iters=3)
    assert got == blended_sim.waves
    plain_sim = simulate_crawl(
        _pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
        default_budget=4)
    assert got != plain_sim.waves, "blend must actually reorder the crawl"
    lake.destroy()


def test_auto_compaction_preserves_crawl(spark):
    """compact_every rewrites every append-heavy table's fragments
    mid-crawl in ONE atomic maintenance commit, without changing any row
    the crawl produces (and fragment counts drop across the board)."""
    import tempfile as _tf
    from __spider_spark.sources.pages import canonical_url
    pages = generate_pages(spark, N, HOSTS)
    # error-free rounds no longer write empty error fragments at all, so
    # seed errors in TWO rounds: a dead seed (404, round 1) and a flaky
    # page that exhausts MAX_ATTEMPTS (gave-up, round 3)
    seeds = make_seeds(spark, N, SEEDS, HOSTS).unionByName(
        spark.createDataFrame(
            [(9001, "http://host0.test/p990001")],
            "seed_index long, url string"))
    flaky = {canonical_url(1, HOSTS): 5}

    def run(compact_every):
        lake = Lakehouse(_tf.mkdtemp(prefix="lake_cmp_"))
        run_crawl(spark, lake, pages, seeds,
                  CrawlConfig(default_budget=4, use_bloom=False,
                              flaky=flaky,
                              compact_every=compact_every), ROUNDS)
        res = sorted(
            (r["url_hash"], r["round"], r["fetch_order"], r["status"])
            for r in lake.read(spark, "results").collect())
        seen = sorted(r["url_hash"]
                      for r in lake.read(spark, "seen").collect())
        dirs = {t: len(lake.snapshot()["tables"].get(t, []))
                for t in ("seen", "results", "errors", "metrics")}
        snaps = [lake.snapshot(v).get("props", {}).get("compacted")
                 for v in lake.versions()]
        lake.destroy()
        return res, seen, dirs, snaps

    res_a, seen_a, dirs_a, _ = run(None)
    res_b, seen_b, dirs_b, snaps_b = run(2)
    assert res_a == res_b and seen_a == seen_b
    for t in ("seen", "results", "errors", "metrics"):
        assert dirs_b[t] < dirs_a[t], f"{t} fragments not merged"
    # each maintenance pass is ONE commit covering all swept tables
    # (errors may not exist yet at the first sweep — error-free rounds
    # write no error fragments)
    sweeps = [s for s in snaps_b if s]
    assert sweeps and all("seen" in s and "results" in s
                          and "metrics" in s for s in sweeps)
    assert "errors" in sweeps[-1]


def test_expire_snapshots_reclaims_and_preserves_latest(spark):
    """Iceberg expire_snapshots + remove_orphan_files parity: dropping
    history reclaims the superseded pre-compaction fragments (disk
    actually shrinks) while the live snapshot reads bit-identically and
    expired versions raise the missing-snapshot error."""
    import tempfile as _tf
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_exp_"))
    pages = generate_pages(spark, N, HOSTS)
    run_crawl(spark, lake, pages, make_seeds(spark, N, SEEDS, HOSTS),
              _cfg(), ROUNDS)
    lake.compact_many(spark, ["seen", "results", "metrics"])
    before = {t: lake.read(spark, t).count()
              for t in ("seen", "results", "metrics")}
    res_before = sorted(
        (r["url_hash"], r["round"], r["fetch_order"], r["status"])
        for r in lake.read(spark, "results").collect())
    versions = lake.versions()
    rec = lake.expire_snapshots(keep_last=1)
    assert rec["manifests"] == len(versions) - 1
    assert rec["data_dirs"] > 0 and rec["bytes"] > 0
    for t, n in before.items():
        assert lake.read(spark, t).count() == n
    assert sorted(
        (r["url_hash"], r["round"], r["fetch_order"], r["status"])
        for r in lake.read(spark, "results").collect()) == res_before
    with pytest.raises(ValueError):
        lake.snapshot(versions[0])
    # on-disk fragment dirs are EXACTLY the kept manifest's references
    refd = {Lakehouse._entry_dir(e)
            for dirs in lake.snapshot()["tables"].values() for e in dirs}
    on_disk = {f"{t.name}/{f.name}" for t in lake.root.iterdir()
               if t.is_dir() and t.name != "_manifests"
               for f in t.iterdir()}
    assert on_disk == refd
    lake.destroy()


def test_crawl_with_expiry_matches_reference(spark, sim):
    """Retention wired into the crawl maintenance pass must not change
    crawl behavior: waves match the simulator exactly, and the lakehouse
    ends with only keep_last manifests on disk."""
    import tempfile as _tf
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_expw_"))
    cfg = _cfg()
    cfg.compact_every = 2
    cfg.expire_keep_last = 1
    pages = generate_pages(spark, N, HOSTS)
    run_crawl(spark, lake, pages, make_seeds(spark, N, SEEDS, HOSTS),
              cfg, ROUNDS)
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves
    # last sweep ran at round 4 = ROUNDS, so exactly 1 manifest remains
    # plus the post-sweep... (no commits after the final sweep)
    assert len(lake.versions()) <= 2
    lake.destroy()


def test_mor_frontier_matches_reference_and_restart(spark, sim):
    """Merge-on-read frontier (append round deltas + read-side dedup)
    must be observationally identical to copy-on-write: waves match the
    simulator exactly, restart resumes identically, and the frontier
    table really is delta-appended (fragments accumulate between folds)."""
    import tempfile as _tf
    cfg = _cfg()
    cfg.frontier_mode = "mor"
    cfg.frontier_fold_every = 3
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)

    lake = Lakehouse(_tf.mkdtemp(prefix="lake_mor_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves
    assert {r.url_hash
            for r in lake.read(spark, "seen").collect()} == sim.seen

    # delta-append really happened: before the round-3 fold the frontier
    # manifest lists base + per-round delta fragments
    frags_by_version = [
        len(lake.snapshot(v)["tables"].get("frontier", []))
        for v in lake.versions()
    ]
    assert max(frags_by_version) > 1, "mor never appended a delta"
    # the fold collapses the list back to one fragment
    assert 1 in frags_by_version[2:], "fold cadence never materialized"

    # restart equivalence in mor mode
    lake2 = Lakehouse(_tf.mkdtemp(prefix="lake_mor2_"))
    run_crawl(spark, lake2, pages, seeds, cfg, 2)
    run_crawl(spark, lake2, pages, seeds, cfg, ROUNDS)
    a = sorted((r["url_hash"], r["round"], r["fetch_order"], r["status"])
               for r in lake.read(spark, "results").collect())
    b = sorted((r["url_hash"], r["round"], r["fetch_order"], r["status"])
               for r in lake2.read(spark, "results").collect())
    assert a == b
    lake.destroy()
    lake2.destroy()


def test_mor_with_retries_and_blend_matches_sim(spark):
    """mor × the risky interactions: transient-failure retries (the
    attempts-ranked dedup must resolve base-vs-delta duplicates so a
    rediscovery can't reset a retry counter) and PageRank blend rounds
    (which force folds mid-crawl)."""
    import tempfile as _tf
    from __spider_spark.sources.pages import canonical_url
    flaky = {canonical_url(2, HOSTS): 1}
    cfg = CrawlConfig(
        default_budget=4, budgets=dict(BUDGETS), robots=dict(ROBOTS),
        use_bloom=True, bloom_parts=4, bloom_bits_per_part=1 << 16,
        bloom_min_seen=0, flaky=dict(flaky),
        blend_pagerank_every=2, blend_iters=3,
        frontier_mode="mor",
    )
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_morb_"))
    run_crawl(spark, lake, generate_pages(spark, N, HOSTS),
              make_seeds(spark, N, SEEDS, HOSTS), cfg, ROUNDS)
    s = simulate_crawl(
        _pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
        default_budget=4, budgets=dict(BUDGETS), robots=dict(ROBOTS),
        flaky=dict(flaky), blend_pagerank_every=2, blend_iters=3,
    )
    got = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got == s.waves
    assert {r.url_hash for r in lake.read(spark, "seen").collect()} \
        == s.seen
    lake.destroy()


def test_crawl_config_validation_and_mor_fold_default():
    """ADVICE r5: an unknown frontier_mode must raise (not silently fall
    back to cow), and a plain mor config with no fold trigger gets a
    default fold cadence so fragments/garbage stay bounded."""
    with pytest.raises(ValueError, match="frontier_mode"):
        CrawlConfig(frontier_mode="merge-on-read")
    with pytest.raises(ValueError, match="frontier_mode"):
        CrawlConfig(frontier_mode="MOR")
    assert CrawlConfig(frontier_mode="mor").frontier_fold_every is not None
    # an explicit trigger is respected, not overridden
    assert CrawlConfig(frontier_mode="mor",
                       frontier_fold_every=7).frontier_fold_every == 7
    assert CrawlConfig(frontier_mode="mor",
                       blend_pagerank_every=2).frontier_fold_every is None
    assert CrawlConfig().frontier_fold_every is None  # cow untouched


def test_expire_snapshots_empty_lake_is_noop(spark):
    """ADVICE r5: expire on a lake with ZERO committed manifests must not
    reap dirs (they can only be fragments staged for a first commit)."""
    import tempfile as _tf
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_empty_"))
    frag = lake.stage(spark.range(5).toDF("x"), "results")
    rec = lake.expire_snapshots(keep_last=1)
    assert rec == {"manifests": 0, "data_dirs": 0, "bytes": 0}
    assert (lake.root / frag.path).exists()
    # and the age threshold protects young dirs even with commits present
    lake.commit(0, replace={"seen": spark.range(3).toDF("url_hash")})
    lake.commit(1, replace={"seen": spark.range(4).toDF("url_hash")})
    rec = lake.expire_snapshots(keep_last=1, min_age_seconds=3600)
    assert rec["data_dirs"] == 0  # everything is seconds old
    rec = lake.expire_snapshots(keep_last=1)
    assert rec["data_dirs"] > 0  # without the threshold the sweep reaps
    lake.destroy()


def test_resume_sweeps_orphaned_staged_fragment(spark, sim):
    """ADVICE r5: a crash between stage() and commit() leaves a wave-sized
    orphan dir; resume must sweep it (no manifest references it and
    nothing is in flight at resume), while committed fragments and crawl
    behavior stay untouched."""
    import tempfile as _tf
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_orph_"))
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    run_crawl(spark, lake, pages, seeds, _cfg(), 2)
    # simulate the crash: a staged-but-never-committed wave artifact
    orphan = lake.stage(spark.range(10).toDF("x"), "results")
    assert (lake.root / orphan.path).exists()
    run_crawl(spark, lake, pages, seeds, _cfg(), ROUNDS)  # resume
    assert not (lake.root / orphan.path).exists(), "orphan not swept"
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves  # sweep changed nothing observable
    lake.destroy()


def test_budget_carry_matches_reference_and_restart(spark):
    """Schedule-aware politeness (r4 VERDICT #9): fractional Crawl-delay
    budgets carry across rounds — budget(k) = floor(k*rate) -
    floor((k-1)*rate) — identically in engine and simulator, including a
    rate < 1 host that is only fetched every other round, and resume
    mid-crawl is exact (the budget is a pure function of the round
    number, no carry state)."""
    import tempfile as _tf
    robots = {
        # 60s rounds: rate 2.5 -> budgets 2,3,2,3 (5 every 2 rounds)
        "host0.test": "User-agent: *\nCrawl-delay: 24",
        # rate 0.5 -> budgets 0,1,0,1 (fetched every OTHER round)
        "host1.test": "User-agent: *\nCrawl-delay: 120",
    }
    cfg = CrawlConfig(default_budget=3, robots=dict(robots),
                      budget_carry=True, use_bloom=True, bloom_parts=4,
                      bloom_bits_per_part=1 << 16)
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    sim = simulate_crawl(_pages_dict(), seed_urls(N, SEEDS, HOSTS), ROUNDS,
                         default_budget=3, robots=dict(robots),
                         budget_carry=True)
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_carry_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in range(1, ROUNDS + 1)
    ]
    assert got_waves == sim.waves
    assert {r.url_hash
            for r in lake.read(spark, "seen").collect()} == sim.seen
    # the carry is observable: host0 wave sizes alternate 2,3,2,3
    by_round_host0 = [
        lake.read(spark, "results")
        .filter((F.col("round") == k) & (F.col("host") == "host0.test"))
        .count() for k in range(1, ROUNDS + 1)
    ]
    assert by_round_host0 == [2, 3, 2, 3]
    # restart equivalence: budgets are a pure function of round number
    lake2 = Lakehouse(_tf.mkdtemp(prefix="lake_carry2_"))
    run_crawl(spark, lake2, pages, seeds, cfg, 2)
    run_crawl(spark, lake2, pages, seeds, cfg, ROUNDS)
    a = sorted((r["url_hash"], r["round"], r["fetch_order"])
               for r in lake.read(spark, "results").collect())
    b = sorted((r["url_hash"], r["round"], r["fetch_order"])
               for r in lake2.read(spark, "results").collect())
    assert a == b
    lake.destroy()
    lake2.destroy()


def test_budget_carry_all_zero_round_commits_and_continues(spark):
    """A round where EVERY host accrued budget 0 (all delays > round
    length) must commit an empty round and keep crawling — not terminate
    with a stranded frontier."""
    import tempfile as _tf
    robots = {f"host{i}.test": "User-agent: *\nCrawl-delay: 120"
              for i in range(HOSTS)}
    cfg = CrawlConfig(default_budget=3, robots=dict(robots),
                      budget_carry=True, use_bloom=False)
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    sim = simulate_crawl(_pages_dict(), seed_urls(N, SEEDS, HOSTS), 2,
                         default_budget=3, robots=dict(robots),
                         budget_carry=True)
    assert sim.waves[0] == []       # round 1: everyone at budget 0
    assert len(sim.waves[1]) == 8   # round 2: 1 fetch per seeded host
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_zero_"))
    run_crawl(spark, lake, pages, seeds, cfg, 2)
    assert lake.latest_round() == 2
    got_waves = [
        [r.url_hash for r in lake.read(spark, "results")
         .filter(F.col("round") == k).orderBy("fetch_order").collect()]
        for k in (1, 2)
    ]
    assert got_waves == sim.waves
    lake.destroy()


def test_inline_repetition_sidecar(spark):
    """curate_repetition=True: each round stamps the Gopher repetition
    battery over ITS wave into a ``repetition`` sidecar table (same
    atomic commit, keyed by url_hash) — accumulated rows equal a batch
    recompute over the final corpus, with no second corpus scan."""
    import tempfile as _tf

    from __spider_spark.operators.curation import repetition_stats
    cfg = _cfg()
    cfg.curate_repetition = True
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)
    lake = Lakehouse(_tf.mkdtemp(prefix="lake_rep_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
    rep = lake.read(spark, "repetition")
    assert rep is not None
    # one stats row per fetched-200 page, stamped with its fetch round
    ok = lake.read(spark, "results").filter(F.col("status") == 200)
    assert rep.count() == ok.count()
    rounds_match = rep.alias("r").join(
        ok.select("url_hash", F.col("round").alias("ok_round")),
        "url_hash").filter(F.col("round") != F.col("ok_round")).count()
    assert rounds_match == 0
    # per-wave accumulation == batch recompute over the final corpus
    got = sorted(map(tuple, rep.drop("round").collect()))
    want = sorted(map(tuple, repetition_stats(
        ok.select("url_hash", "text"), id_col="url_hash").collect()))
    assert got == want
    lake.destroy()


def test_crawl_that_raises_releases_its_caches(spark, monkeypatch):
    """A crawl whose round-2 commit raises releases every frame it
    persisted: the page store index, the rules and budget dims and the
    round's own caches."""
    commit = Lakehouse.commit

    def failing_commit(self, round_id, *a, **kw):
        if round_id == 2:
            raise RuntimeError("injected commit failure")
        return commit(self, round_id, *a, **kw)

    monkeypatch.setattr(Lakehouse, "commit", failing_commit)
    # ids, not a count: the context cleaner may drop RDDs that earlier
    # tests leaked while this crawl runs
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_raise_"))
    with pytest.raises(RuntimeError, match="injected"):
        run_crawl(spark, lake, generate_pages(spark, 60, 4),
                  make_seeds(spark, 60, 8, 4), _cfg(), 3)
    assert lake.latest_round() == 1
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
               ) <= persisted
    lake.destroy()


# Spark jobs each round of the 3-round crawl below launches with the
# one-window politeness clip (counted the same way, identical on two runs).
JOBS_PER_ROUND = {"robots": [26, 26, 26], "no_robots": [22, 22, 22]}


@pytest.mark.parametrize("variant", sorted(JOBS_PER_ROUND))
def test_jobs_per_round_pinned(spark, monkeypatch, variant):
    """A structural guard box load cannot make flaky: no round of a small
    crawl launches more Spark jobs than the pinned counts. Jobs are the
    diff of all known job ids around each run_round call; the commit
    pool's threads carry no job group, so ungrouped ids are counted too."""
    from __spider_spark.plans import crawl
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"jobs-per-round-{variant}"

    def known():
        return {j for g in (None, "", group)
                for j in tracker.getJobIdsForGroup(g)}

    per_round = []
    run_round = crawl.run_round

    def counted(*a, **kw):
        before = known()
        try:
            return run_round(*a, **kw)
        finally:
            per_round.append(len(known() - before))

    monkeypatch.setattr(crawl, "run_round", counted)
    n = 200
    cfg = _cfg()
    if variant == "no_robots":
        cfg.robots = {}
    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_jobs_"))
    sc.setJobGroup(group, "count crawl jobs per round")
    try:
        run_crawl(spark, lake, generate_pages(spark, n, HOSTS),
                  make_seeds(spark, n, SEEDS, HOSTS), cfg, 3)
    finally:
        sc.setJobGroup("", "")
    lake.destroy()
    pinned = JOBS_PER_ROUND[variant]
    assert len(per_round) == len(pinned)
    assert all(got <= cap for got, cap in zip(per_round, pinned)), (
        per_round, pinned)
