"""Round-based crawl driver: frontier → seen-anti-join → robots → politeness
→ fetch → extract → discover → atomic commit.

This is the Spark-native re-expression of the reference's whole crawl loop
(SURVEY.md §3.1): ``start_requests`` frontier generation
(/root/reference/spiders/ctripSpider.py:117-229), scheduler throttling
(settings.py:32-41), download + sentinel errors
(YlSpiderMiddleware.py:186-195), parse callbacks (ctripSpider.py:231-332)
and the batch sink (YlTwistPipeline.py:153-176) — as ONE declarative
DataFrame DAG per scheduling round, committed atomically to the lakehouse.

Batch rounds (not Structured Streaming) were chosen deliberately: the
reference is batch-per-``task_time`` (start_spider_demo.sh:2-11) and rounds
give deterministic replay + trivial restart equivalence (SURVEY.md §2.9).

Determinism contract (north_rule "matching crawl ordering"):
  * wave selection is a pure function of (round, priority, url_hash) —
    politeness clip orders by (priority DESC, url_hash ASC) per host;
  * ``fetch_order`` is a total order within the round by the same key;
  * frontier merges resolve duplicates by a fixed rule:
    (priority DESC, round ASC, parent_url ASC NULLS FIRST);
  * nothing reads wall-clock or partition iteration order; lineage columns
    (partition_id) are provenance, excluded from equivalence comparison.

Scale notes (the 100 TB / 10^10-URL case):
  * scheduling never touches ``html`` — the fetch join reads it only for
    the politeness-clipped wave (column-pruning discipline, SURVEY.md §4);
  * every join/agg keys on ``url_hash`` (long), never on url strings;
  * the hot-host frontier skew is neutralized in the politeness clip
    (salted two-phase top-k), and the seen anti-join is Bloom-prefiltered;
  * on a real cluster the pages store and seen table are bucketed by
    ``url_hash`` so the fetch join and anti-join co-locate without a
    full shuffle of the big side.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ..functions.text import extract_page
from ..functions.urls import (
    canonicalize_url,
    resolve_link,
    url_hash_col,
    url_host,
)
from ..operators.aliases import aliases_df, apply_host_aliases
from ..operators.order import global_rank
from ..operators.politeness import clip_wave
from ..operators.robots import (
    budgets_from_rules,
    robots_gate,
    robots_rules_df,
)
from ..operators.seen import SeenBloom, filter_unseen
from ..sources.lakehouse import Lakehouse, StagedFragment
from .detail import detail_index, fetch_details


# optional machine-readable sink for per-phase timings: set to a list and
# _prof appends (label, seconds) tuples — bench.py aggregates these into
# BENCH_r{N}.json so round-over-round driver-cost progress is checkable
PROFILE_ACC: list[tuple[str, float]] | None = None


def _prof(label: str, t0: float) -> float:
    """Opt-in stage timing (SPIDER_SPARK_PROFILE=1 prints; PROFILE_ACC
    collects)."""
    env_on = os.environ.get("SPIDER_SPARK_PROFILE") == "1"
    if not env_on and PROFILE_ACC is None:
        return t0
    t = time.perf_counter()
    if PROFILE_ACC is not None:
        PROFILE_ACC.append((label, t - t0))
    if env_on:
        print(f"    [crawl-prof] {label}: {t - t0:.2f}s", flush=True)
    return t

FRONTIER_COLS = ["url", "url_hash", "host", "priority", "round",
                 "parent_url", "seed_index", "attempts"]


@dataclass
class CrawlConfig:
    default_budget: int = 4
    budgets: dict[str, int] = field(default_factory=dict)  # host -> budget
    robots: dict[str, str] = field(default_factory=dict)   # host -> robots.txt
    priority_decay: float = 0.5
    salt_buckets: int = 8
    # scheduling-round wall budget used to turn robots Crawl-delay
    # directives into per-host budgets (reference analogue: DOWNLOAD_DELAY)
    round_seconds: float = 60.0
    # schedule-aware budgets: carry the fractional remainder of
    # round_seconds / Crawl-delay across rounds — a host allowed 2.5
    # fetches/round gets 5 every 2 rounds (2,3,2,3,...) instead of a
    # truncated 2 every round, and a slower-than-round host (rate < 1)
    # is fetched only every ⌈1/rate⌉-th round instead of once every
    # round. budget(k) = ⌊k·rate⌋ − ⌊(k−1)·rate⌋ is a pure function of
    # the round number, so no carry state is persisted and resume is
    # exact by construction. Off by default (the plain floor matches the
    # reference's coarse DOWNLOAD_DELAY semantics).
    budget_carry: bool = False
    # lakehouse maintenance: every N rounds rewrite the append-heavy
    # tables' fragments into one dir (Iceberg rewrite_data_files
    # analogue) — a year-long crawl otherwise unions thousands of
    # per-round dirs on every seen read. None disables.
    compact_every: int | None = None
    # retention paired with compaction: after each sweep, keep only the
    # newest N snapshots and delete fragments no kept snapshot references
    # (Iceberg expire_snapshots + remove_orphan_files) — without it the
    # pre-compaction fragments compaction supersedes are retained forever
    # and disk grows as if compaction never ran. None keeps all history.
    expire_keep_last: int | None = None
    # frontier storage strategy. "cow" (copy-on-write): every round
    # rewrites the whole frontier — read-optimal, but at a 10^10-URL
    # frontier that is ~1 TB of parquet written PER ROUND for a wave that
    # touched a fraction of it. "mor" (merge-on-read, the Iceberg/Delta
    # equality-delete analogue): rounds APPEND only their delta (that
    # round's discoveries + retries, deduped within the round) and the
    # read view applies the same deterministic dedup lazily; entries that
    # left the frontier need no tombstones because they are exactly the
    # seen set, which the round's Bloom-routed anti-join already removes
    # read-side. Writes become O(wave), not O(frontier). Dedup is an
    # argmin over a total-order key, so read-time dedup over base ∪ adds
    # composes to the identical logical frontier (pinned by the
    # simulator-equivalence test in both modes). Folds (full rewrites)
    # happen on PageRank-blend rounds (blend needs the materialized
    # frontier) and every frontier_fold_every rounds to bound fragment
    # count and garbage — the same cadence trade as compact_every.
    frontier_mode: str = "cow"
    frontier_fold_every: int | None = None
    # retry pyramid (reference: YlSpiderMiddleware.py:80-109 retries a
    # transient failure 2-3 times before giving up): total tries per URL
    # including the first; a transient (503) failure re-enters the frontier
    # with priority * retry_decay until max_attempts, then quarantines.
    max_attempts: int = 3
    retry_decay: float = 0.5
    # transient-failure injection for the simulated network: canonical
    # url -> number of 503s served before the fetch succeeds
    flaky: dict[str, int] = field(default_factory=dict)
    # per-round session-state refresh (reference: get_ctrip_cookie.py:40-67
    # hourly cookie/proxy refresh with TTL): called as f(spark, round_k) and
    # may return a new robots source (dict or (host, body) DataFrame); None
    # keeps the current rules.
    robots_refresh: object = None
    # inline curation (the production 100 TB shape): stamp each fetched
    # page's results row with lang-ID, quality score, token count, and
    # fingerprint IN the crawl pass — pure JVM Column exprs over the
    # extracted text (functions/textstats.py), no extra scan of the
    # corpus later. Reference analogue: the parse callback computes row
    # fields at fetch time (ctripSpider.py:252-292), not in a second job.
    curate: bool = False
    # incremental content near-dedup (the 10 TB/day crawl shape, VERDICT
    # r5 #2): each round computes MinHash band keys for the WAVE's fetched
    # docs only, equi-joins them against the persisted ``content_bands``
    # index (the content analogue of the durable URL seen-set,
    # YlTwistPipeline.py:66-89), exact-Jaccard-verifies only the colliding
    # pairs (old texts read candidate-restricted from ``results`` — with
    # the corpus bucketed by url_hash on a real lakehouse this is a pruned
    # lookup, never a re-shingle), and appends band rows + verified pairs
    # (``content_dups``) in the round's atomic commit. The accumulated
    # pair set equals a full near_dedup recompute over the final corpus
    # (pinned by tests/test_dedup_incremental.py).
    content_dedup: bool = False
    # live duplicate clusters (requires content_dedup): each round folds
    # the wave's verified dup pairs into a ``content_components``
    # (node, component=min doc id) table via label contraction
    # (graph.delta_connected_components) — the O(wave) star loop never
    # sees the corpus, and the table rides the round's atomic commit, so
    # the canonical-representative mapping is queryable mid-crawl without
    # ever running batch CC over every pair found. The table holds only
    # docs that appear in some dup pair (a few % of the corpus), so its
    # per-round rewrite is pair-nodes-sized, not corpus-sized.
    content_components: bool = False
    # inline Gopher repetition battery (r5 VERDICT next-round #8): every
    # round computes repetition_stats over the WAVE's fetched texts (the
    # line/para gates are scan-stage exprs; the gram shuffles are
    # wave-sized) and appends a ``repetition`` sidecar table keyed by
    # url_hash in the round's atomic commit — the flag is stamped at
    # fetch time like the other four curation stats, with no second
    # corpus scan ever. A sidecar rather than extra results columns on
    # purpose: the gram stats need a doc-keyed shuffle + join, and
    # folding that into the results rows would re-cross the page-text
    # payload the staged-write design just removed (BENCH.md §Round-5
    # S-term attack); readers join on url_hash when they need the flag.
    curate_repetition: bool = False
    # link-structure frontier re-prioritization (graph.py): every N rounds
    # blend PageRank over the discovered edge relation into frontier
    # priorities (priority' = (1-w)p + w·rank/max_rank). None disables —
    # and then no edges table is accumulated (zero cost when off).
    blend_pagerank_every: int | None = None
    blend_weight: float = 0.5
    blend_iters: int = 5
    blend_damping: float = 0.85
    # host-alias dimension (reference: two-airport aliasing map,
    # ctripSpider.py:56-70 applied at :141-146; ylSpider06.py:465-468):
    # host -> canonical host, applied to every frontier insert BEFORE
    # hashing so aliased hosts share one identity/budget/seen entry.
    aliases: dict[str, str] = field(default_factory=dict)
    use_bloom: bool = True
    bloom_parts: int = 8
    bloom_bits_per_part: int = 1 << 18
    bloom_hashes: int = 7
    # below this many seen keys the anti-join alone is cheaper than an
    # extra Python-UDF prefilter stage
    bloom_min_seen: int = 20_000
    # newly-seen hashes up to this count ride back inline on the metrics
    # job (a bounded collect_list per outcome group) and fold into the
    # driver Bloom with NO extra Spark job; a larger round falls back to
    # the distributed partitioned-bitmap build. Waves are budget-bounded
    # (default_budget × hosts), so the inline path is the common case.
    bloom_inline_max: int = 65_536
    # which seen-set sketch routes rows around the anti-join: "bloom"
    # (operators/seen.py) or "cuckoo" (operators/cuckoo.py — same
    # no-false-negative routing contract, plus DELETION: a refresh
    # policy can unsee a wave of stale URLs as a bounded filter edit
    # instead of a full bitmap rebuild). Exactness always comes from
    # the anti-join, so crawl output is byte-identical either way
    # (pytest-pinned).
    seen_filter: str = "bloom"
    cuckoo_buckets_per_part: int = 1 << 13
    # refresh policy: re-fetch pages whose successful fetch is at least
    # this many rounds old (None = never recrawl — the reference's
    # behavior; its hourly cron re-runs the WHOLE frontier instead,
    # start_spider_demo.sh:2-3). Due URLs leave the seen set (durable +
    # filter edit when the sketch supports deletion) and re-enter the
    # frontier at recrawl_priority; politeness clips them like any rows.
    recrawl_ttl_rounds: int | None = None
    recrawl_priority: float = 1.0

    def __post_init__(self) -> None:
        if self.seen_filter not in ("bloom", "cuckoo"):
            raise ValueError(
                f"seen_filter must be 'bloom' or 'cuckoo', got "
                f"{self.seen_filter!r}")
        # an unknown mode string ("MOR", "merge-on-read", a typo) must not
        # silently fall back to cow full rewrites — that negates the whole
        # O(wave)-writes design with no error anywhere (ADVICE r5)
        if self.frontier_mode not in ("cow", "mor"):
            raise ValueError(
                f"frontier_mode must be 'cow' or 'mor', got "
                f"{self.frontier_mode!r}")
        if (self.frontier_mode == "mor"
                and self.frontier_fold_every is None
                and self.blend_pagerank_every is None):
            # with no fold trigger at all, mor accumulates one fragment per
            # round forever (plus all dead/seen entries, re-deduped in full
            # on every read) and compact_many doesn't cover the frontier —
            # default a cadence so a plain mor config stays bounded
            # (ADVICE r5). Callers that want a different trade set it
            # explicitly.
            self.frontier_fold_every = 32
        if self.content_components and not self.content_dedup:
            raise ValueError(
                "content_components folds the dup pairs content_dedup "
                "produces — enable content_dedup too")
        if self.content_dedup and self.recrawl_ttl_rounds:
            # ADVICE r6 (medium): a refreshed page's second 200 fetch
            # re-enters the wave while its url_hash is already in the
            # content_bands index and the results corpus — violating
            # delta_near_dedup's disjoint-id contract (duplicate band
            # rows, doc_a==doc_b self-pairs, double-counted shingles in
            # the Jaccard verify). Refuse the combination loudly until
            # the delta path is made recrawl-safe (anti-join the wave
            # against the index's doc_ids + latest-row text resolution).
            raise ValueError(
                "content_dedup is not recrawl-safe: a re-fetched page "
                "would re-enter the band index under its existing doc_id "
                "and corrupt the incremental dedup state — disable one "
                "of content_dedup / recrawl_ttl_rounds")


def resolve_seen(seen: DataFrame) -> DataFrame:
    """Merge-on-read view of the seen table under a refresh policy: the
    refresh unsee is an APPENDED tombstone row (outcome="unseen"), never
    a table rewrite — at steady state every round has due pages, and a
    replace-based unsee would rewrite the O(corpus) seen table every
    round (the same hazard frontier_mode="mor" removes for the
    frontier). Resolution: per url_hash keep the row with the highest
    (round_seen, outcome != "unseen") — a re-fetch in the SAME round as
    its tombstone outranks it — then drop resolved tombstones. Identity
    on a tombstone-free table; only applied when recrawl is configured,
    so non-refresh crawls keep the exact current plan.

    Shuffle shape (r6 VERDICT "what's wrong" #3 — the old form aggregated
    EVERY url_hash, an O(corpus) shuffle per refresh round): only keys
    that actually carry a tombstone can resolve to anything other than
    their single row, so the max_by aggregate is restricted to the
    tombstone key set (a semi-join the optimizer serves as a broadcast —
    the tombstone side is O(accumulated due), wave-scale) and the
    untouched remainder streams through an anti-join with no shuffle at
    all. Between tombstones a key has exactly one live row (the anti-join
    blocks re-fetch while seen), so pass-through ≡ aggregate on the
    untouched slice — equivalence pinned by tests/test_recrawl.py and the
    shuffle bound by test_resolve_seen_shuffles_tombstones_only."""
    tomb_keys = (seen.filter(F.col("outcome") == "unseen")
                 .select("url_hash").distinct())
    untouched = seen.join(tomb_keys, "url_hash", "left_anti")
    key = F.struct(
        F.col("round_seen").alias("k1"),
        (F.col("outcome") != "unseen").cast("int").alias("k2"),
    )
    cols = [c for c in seen.columns if c != "url_hash"]
    resolved = (
        seen.join(tomb_keys, "url_hash", "left_semi")
        .groupBy("url_hash")
        .agg(F.max_by(F.struct(*cols), key).alias("__r"))
        .select("url_hash", "__r.*")
        .filter(F.col("outcome") != "unseen")
    )
    return untouched.select(seen.columns).unionByName(
        resolved.select(seen.columns))


def _dedup_frontier(df: DataFrame) -> DataFrame:
    """Deterministic duplicate resolution on url_hash: keep
    (attempts DESC, priority DESC, round ASC, parent_url ASC NULLS FIRST,
    seed_index ASC NULLS LAST). attempts ranks first so a rediscovered
    link can never reset a URL's retry counter (which would un-bound the
    retry pyramid).

    Implemented as ``min_by`` over a lexicographic key struct, NOT a
    row_number window: the aggregate gets map-side partial aggregation
    (each input partition pre-collapses its duplicates before the
    shuffle) and no sort — on a 10^8-row frontier the window form
    shuffles and sorts every row. Null ordering is made explicit with
    (is-not-null, coalesce) pairs so the key mirrors the simulator's
    tuple exactly (reference_sim._frontier_entry_key)."""
    key = F.struct(
        (-F.col("attempts")).alias("k1"),
        (-F.col("priority")).alias("k2"),
        F.col("round").alias("k3"),
        F.col("parent_url").isNotNull().cast("int").alias("k4"),
        F.coalesce(F.col("parent_url"), F.lit("")).alias("k5"),
        F.col("seed_index").isNull().cast("int").alias("k6"),
        F.coalesce(F.col("seed_index"), F.lit(0)).alias("k7"),
    )
    return (
        df.groupBy("url_hash")
        .agg(F.min_by(F.struct(*[c for c in FRONTIER_COLS
                                 if c != "url_hash"]), key).alias("__r"))
        .select("url_hash", "__r.*")
        .select(*FRONTIER_COLS)
    )


def init_crawl(spark: SparkSession, lake: Lakehouse, seeds: DataFrame,
               cfg: CrawlConfig) -> None:
    """Round-0 commit: canonicalized, deduped seed frontier.

    Reference analogue: seed scan + line-slice + canonicalize
    (ctripSpider.py:125-146); seed_index mirrors the 1-based line number
    used for resume sharding (ctripSpider.py:131-134)."""
    frontier = (
        seeds.filter(F.col("url").isNotNull() & (F.trim(F.col("url")) != ""))
        .withColumn("url", canonicalize_url(F.col("url")))
        .withColumn("host", url_host(F.col("url")))
    )
    # alias rewrite must precede hashing: the frontier key is the
    # *post-alias* canonical URL (P2/J3 graft form)
    frontier = apply_host_aliases(
        frontier, aliases_df(spark, cfg.aliases))
    frontier = (
        frontier
        .withColumn("url_hash", url_hash_col(F.col("url")))
        .withColumn("priority", F.lit(1.0))
        .withColumn("round", F.lit(1))
        .withColumn("parent_url", F.lit(None).cast("string"))
        .withColumn("attempts", F.lit(0))
        .select(*FRONTIER_COLS)
    )
    lake.commit(0, replace={"frontier": _dedup_frontier(frontier)})


def _budgets_df(spark: SparkSession, cfg: CrawlConfig,
                rules_df: DataFrame | None,
                round_k: int | None = None) -> DataFrame | None:
    """Per-host budget dimension: Crawl-delay-derived budgets from the
    rules dim, overridden by explicit config budgets. Stays a DataFrame
    end-to-end — no driver-side parsing or dict merge. ``round_k`` (set
    when cfg.budget_carry) makes the robots-derived budgets schedule-
    aware — see budgets_from_rules; explicit config budgets are per-round
    constants either way."""
    parts = []
    if rules_df is not None:
        parts.append(
            budgets_from_rules(rules_df, cfg.round_seconds, round_k)
            .withColumn("__prec", F.lit(0)))
    if cfg.budgets:
        parts.append(
            spark.createDataFrame(list(cfg.budgets.items()),
                                  "host string, budget int")
            .withColumn("__prec", F.lit(1)))
    if not parts:
        return None
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    w = Window.partitionBy("host").orderBy(F.col("__prec").desc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prec")
    )


def _flaky_df(spark: SparkSession, cfg: CrawlConfig) -> DataFrame | None:
    """(url_hash, fail_times) dimension for the simulated transient
    failures; at scale this would be the real network's behavior."""
    if not cfg.flaky:
        return None
    from ..functions.hashing import spark_xxhash64_str
    from ..functions.urls import canonicalize_one
    rows = [(spark_xxhash64_str(canonicalize_one(u)), int(n))
            for u, n in cfg.flaky.items()]
    return spark.createDataFrame(rows, "url_hash long, fail_times int")


def pages_index(pages: DataFrame) -> DataFrame:
    """Fetchable index of the page store: (url_hash, html) keyed by the
    canonical URL. Stands in for the network (SURVEY.md §2.1 S5); reads
    only the columns fetching needs."""
    return pages.select(
        url_hash_col(canonicalize_url(F.col("url"))).alias("url_hash"),
        F.col("html"),
    )


def run_round(spark: SparkSession, lake: Lakehouse, pages_idx: DataFrame,
              cfg: CrawlConfig, bloom: "SeenBloom | object | None" = None,
              rules_df: DataFrame | None = None,
              budgets_df: DataFrame | None = None,
              flaky_df: DataFrame | None = None,
              alias_df: DataFrame | None = None,
              detail_idx: DataFrame | None = None) -> dict | None:
    """Execute one scheduling round; returns the committed metrics row
    (None when the frontier is exhausted — crawl done)."""
    t0 = time.perf_counter()
    k = lake.latest_round() + 1
    frontier = lake.read(spark, "frontier")
    if frontier is None:
        return None
    if cfg.frontier_mode == "mor":
        # merge-on-read view: the table holds base + per-round delta
        # fragments; apply the deterministic dedup lazily (same rule the
        # cow mode applies at write time — see CrawlConfig.frontier_mode)
        frontier = _dedup_frontier(frontier)
    seen = lake.read(spark, "seen")
    refreshed = None
    if cfg.recrawl_ttl_rounds and seen is not None:
        # refresh policy: successfully-fetched URLs older than ttl rounds
        # are UNSEEN (subtracted from this round's anti-join side; made
        # durable as APPENDED tombstone rows resolved read-side — never a
        # rewrite of the O(corpus) seen table, see resolve_seen) and
        # re-injected into the frontier at recrawl_priority. Deterministic:
        # the due set is a pure function of (seen table, k), so
        # kill-and-resume replays it identically. Politeness clips the
        # re-fetches like any other wave rows; a clipped due URL stays in
        # the frontier (and out of seen) until a later round fetches it.
        # At steady state the due set per round ≈ the pages fetched
        # exactly ttl rounds ago — wave-sized, not corpus-sized.
        seen = resolve_seen(seen)
        due = (seen.filter(
                   (F.col("outcome") == "fetched")
                   & (F.col("round_seen") <= k - cfg.recrawl_ttl_rounds))
               .select("url_hash", "url").localCheckpoint())
        n_due = due.count()
        if n_due:
            seen = seen.join(due.select("url_hash"), "url_hash",
                             "left_anti")
            refreshed = (
                due
                .withColumn("host", url_host(F.col("url")))
                .withColumn("priority",
                            F.lit(float(cfg.recrawl_priority)))
                .withColumn("round", F.lit(k))
                .withColumn("parent_url", F.lit(None).cast("string"))
                .withColumn("seed_index", F.lit(None).cast("long"))
                .withColumn("attempts", F.lit(0))
                .select(*FRONTIER_COLS)
            )
            # the refresh row REPLACES any stale frontier entry for the
            # url (mor keeps fetched entries physically until a fold;
            # letting the old row win the dedup would fork lineage and
            # crawl order between cow and mor — pinned by
            # test_recrawl_with_mor_frontier_matches_cow)
            frontier = _dedup_frontier(
                frontier.join(due.select("url_hash"), "url_hash",
                              "left_anti")
                .unionByName(refreshed))
            if bloom is not None and hasattr(bloom, "delete"):
                if n_due <= max(int(cfg.bloom_inline_max), 0):
                    # cuckoo: unsee as a bounded filter EDIT (the count
                    # gate above proves the collect is bounded). The Bloom
                    # filter can't delete — stale bits there just cost
                    # false-positive routing through the anti-join, which
                    # stays exact either way.
                    bloom.delete([r["url_hash"] for r in
                                  due.select("url_hash").collect()])
    t0 = _prof("read state", t0)

    # 1+2. candidates = frontier ∖ seen (Bloom-prefiltered anti-join, J6),
    #      then the robots gate (reference disables robots, settings.py:21;
    #      we don't): rules DIM broadcast-joined on host + one Arrow-batched
    #      predicate over path?query. Flag once, cache, filter twice.
    bloom_udf = None
    if (cfg.use_bloom and seen is not None and bloom is not None
            and bloom.n_keys >= cfg.bloom_min_seen):
        bloom_udf = bloom.udf(spark)
    candidates = filter_unseen(frontier, seen, bloom_udf)
    # (an observed blocked-count on the flagged cache was tried in r7 and
    # reverted: CollectMetrics under .cache() yields a schemaless metrics
    # row when the cache materializes through a non-SQL sub-job — the
    # blocked count stays a branch of the metrics job instead)
    from pyspark.sql import Observation
    if rules_df is None:
        # no robots dim: every candidate is allowed and ``blocked`` is
        # empty BY CONSTRUCTION. The generic path can't exploit that —
        # the lit(True) gate column loses its literal-ness through the
        # cache boundary, so every blocked branch (seen union, metrics
        # aggregate, bloom collect input) stayed a real scan+filter.
        # Specialize: no gate column, no cache (the clipped-wave persist
        # downstream is the only multi-consumer materialization point),
        # blocked = None prunes every downstream branch at plan-build
        # time.
        flagged = candidates
        allowed = candidates
        blocked = None
        flagged_cached = False
    else:
        flagged = robots_gate(candidates, rules_df).cache()
        allowed = flagged.filter(F.col("__allowed")).drop("__allowed")
        blocked = flagged.filter(~F.col("__allowed")).drop("__allowed")
        flagged_cached = True

    # 3. politeness clip → this round's wave, with a deterministic total
    #    fetch order (O3 invariant). The clipped wave is persisted because
    #    global_rank consumes it twice — the per-bucket counts and the
    #    ranked rows — so an unpersisted clip chain (two windows + the
    #    Bloom-routed anti-join, Python UDF included on Bloom rounds)
    #    would execute TWICE per round (guide §2.4: remove recomputed
    #    subtrees). The wave is budget-bounded (≤ budget × hosts) by
    #    construction, so the cache is wave-sized, never frontier-sized;
    #    released right after the staged write materializes.
    clipped = clip_wave(allowed, budgets_df, cfg.default_budget,
                        cfg.salt_buckets).persist()
    # total fetch order in parallel (a bare Window.orderBy would funnel the
    # whole wave through one task); identical ranks at any parallelism
    wave = global_rank(
        clipped, [F.col("priority").desc(), F.col("url_hash").asc()],
        rank_col="fetch_order")

    # 4+5. simulated fetch: wave ⋈ pages (url_hash); missing page -> 404
    #      (the reference's sentinel response, YlSpiderMiddleware.py:186-195,
    #      becomes a status column, never a magic URL); a flaky page serves
    #      503 until its fail_times is exhausted (transient-failure class,
    #      YlSpiderMiddleware.py:80-109). Text + outlinks come from ONE
    #      fused parse (extract_page); html is read exactly once, and only
    #      failed fetches keep their raw body (err_html) for the quarantine
    #      table — the staged wave artifact never holds happy-path payloads.
    fetched = wave.join(pages_idx, "url_hash", "left")
    if flaky_df is not None:
        fetched = fetched.join(F.broadcast(flaky_df), "url_hash", "left")
    else:
        fetched = fetched.withColumn("fail_times", F.lit(None).cast("int"))

    # every attempt is logged (503s included — the reference logs failed
    # tries too), so fetch_order stays gap-free within the round
    curation_names: list[str] = []
    curation_cols = []
    if cfg.curate:
        from ..functions.textstats import (
            fingerprint,
            lang_guess,
            quality_score,
            token_count,
        )
        t = F.col("text")
        curation_names = ["lang_guess", "quality", "n_tokens", "fingerprint"]
        curation_cols = [
            lang_guess(t).alias("lang_guess"),
            F.round(quality_score(t), 6).alias("quality"),
            token_count(t).alias("n_tokens"),
            fingerprint(t).alias("fingerprint"),
        ]
    # the round's wave artifact: ONE distributed pass does fetch join +
    # fused extract + curation and WRITES the fragment (staged); every
    # downstream consumer is a column-pruned read of that parquet, and the
    # ``results`` table publishes the same files through a manifest
    # projection (StagedFragment.cols) — the page text crosses memory once
    # per round instead of three times (wide in-memory cache materialize +
    # cache re-read + results rewrite in the commit). This is also the
    # 100 TB shape: a full wave's payloads never sit in executor cache.
    # err_html (raw body kept for the quarantine table) can only be
    # non-null when a transient-failure (503) serves a real body — a 404
    # has no body at all — so without a flaky dim the column is provably
    # all-null and is not even written.
    keep_err_html = flaky_df is not None
    status_expr = (
        F.when(F.col("html").isNull(), F.lit(404))
         .when(F.col("attempts") < F.coalesce(F.col("fail_times"),
                                              F.lit(0)), F.lit(503))
         .otherwise(F.lit(200)))
    wide = (
        fetched
        .select("*", status_expr.alias("status"))
        .select("*", extract_page(
            F.when(F.col("status") == 200, F.col("html"))).alias("page"))
        .select(
            "url", "url_hash", "host",
            F.lit(k).alias("round"), "fetch_order", "status",
            F.col("page.text").alias("text"),
            *curation_cols,
            F.struct(
                F.col("parent_url"),
                F.spark_partition_id().alias("partition_id"),
                F.col("seed_index"),
            ).alias("lineage"),
            F.col("page.links").alias("links"),
            F.col("page.detail_href").alias("detail_href"),
            "priority", "attempts",
            *([F.when(F.col("status") != 200, F.col("html"))
               .alias("err_html")] if keep_err_html else []),
        )
    )
    results_cols = ("url", "url_hash", "host", "round", "fetch_order",
                    "status", "text", *curation_names, "lineage")
    # wave outcome counts ride the staged write as observed metrics
    # (CollectMetrics — a free driver-side accumulator on the job that
    # runs anyway), so the metrics job below no longer re-reads the
    # fragment to group by outcome. Blocked rides the flagged cache's
    # observation; only the discovered count needs its own aggregate.
    gave_up_now = F.col("attempts") + 1 >= F.lit(cfg.max_attempts)
    obs = Observation()
    wide = wide.observe(
        obs,
        F.count(F.when(F.col("status") == 200, 1)).alias("n_ok"),
        F.count(F.when(F.col("status") == 404, 1)).alias("n_404"),
        F.count(F.when((F.col("status") == 503) & gave_up_now, 1))
        .alias("n_gave_up"),
        F.count(F.when((F.col("status") == 503) & ~gave_up_now, 1))
        .alias("n_retried"),
    )
    t0 = _prof("plan building", t0)
    frag = lake.stage(wide, "results")
    clipped.unpersist()
    wave_counts = obs.get
    t0 = _prof("stage wave artifact (fetch, extract, write)", t0)
    extracted = lake.read_fragment(spark, frag)
    if not keep_err_html:
        extracted = extracted.withColumn(
            "err_html", F.lit(None).cast("binary"))

    # 5b. retry pyramid: a transient failure with tries left re-enters the
    #     frontier with decayed priority and attempts+1 (never marked seen);
    #     one that exhausted max_attempts is quarantined below.
    gave_up_cond = F.col("attempts") + 1 >= F.lit(cfg.max_attempts)
    retries = (
        extracted.filter((F.col("status") == 503) & ~gave_up_cond)
        .select(
            "url", "url_hash", "host",
            (F.col("priority") * F.lit(cfg.retry_decay)).alias("priority"),
            F.lit(k + 1).alias("round"),
            F.col("lineage.parent_url").alias("parent_url"),
            F.col("lineage.seed_index").alias("seed_index"),
            (F.col("attempts") + 1).alias("attempts"),
        )
    )

    # 5c. error/artifact quarantine (reference persists failed raw bodies,
    #     ctripSpider.py:318-332, ylSpider06.py:422-435): permanent 404s and
    #     gave-up transients land in the ``errors`` table WITH the raw html
    #     payload, in the same atomic commit.
    errors = (
        extracted.filter(
            (F.col("status") == 404)
            | ((F.col("status") == 503) & gave_up_cond))
        .select(
            "url", "url_hash", "host", F.lit(k).alias("round"),
            "status",
            (F.col("attempts") + 1).alias("attempts"),
            F.when(F.col("status") == 404, F.lit("http_404"))
             .otherwise(F.lit("gave_up_transient")).alias("error"),
            F.col("err_html").alias("html"),
        )
    )

    # 6. discover outlinks → next-round frontier entries
    discovered = (
        extracted.filter(F.col("status") == 200)
        .select(
            F.explode("links").alias("raw_link"),
            F.col("priority").alias("parent_priority"),
            F.col("url").alias("parent_url"),
            F.col("lineage.seed_index").alias("seed_index"),
        )
        # hrefs may be relative / scheme-relative / fragment-only — resolve
        # against the parent page (RFC 3986 §5) before canonicalizing;
        # non-fetchable schemes (mailto:, javascript:) resolve to NULL
        .select(resolve_link(F.col("parent_url"),
                             F.col("raw_link")).alias("url"),
                "parent_priority", "parent_url", "seed_index")
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .select("*", url_host(F.col("url")).alias("host"))
    )
    # discovered links pass the alias dim too — a link to an aliased
    # mirror must collapse to the canonical host's identity
    discovered = apply_host_aliases(discovered, alias_df)
    # cached: discovery (link resolve + canonicalize + hash, the round's
    # other Arrow-UDF pass) feeds the distinct-discovered metric, the
    # frontier merge, and (blend mode) the edges append — without the
    # cache each consumer re-ran the Python resolve/hash work.
    # (one select, not a withColumn chain: each withColumn is a separate
    # py4j round-trip + analysis pass, and run_round builds this plan
    # every scheduling round — driver plan-building is a measured phase)
    discovered = (
        discovered
        .select(
            "url",
            url_hash_col(F.col("url")).alias("url_hash"),
            "host",
            (F.col("parent_priority") * F.lit(cfg.priority_decay))
            .alias("priority"),
            F.lit(k + 1).alias("round"),
            "parent_url", "seed_index",
            F.lit(0).alias("attempts"),
        )
        .select(*FRONTIER_COLS)
        .cache()
    )

    # 7. state transition: terminal outcomes (fetched / 404 / gave-up /
    #    robots-blocked) become seen; retries do NOT. frontier' =
    #    ((frontier ∪ discovered) ∖ waved ∖ seen) ∪ retries, deduped with
    #    attempts ranked first so rediscovery can't reset a retry counter.
    newly_seen = (
        extracted.filter(F.col("status") != 503)
        .select(
            "url_hash", "url",
            F.when(F.col("status") == 200, "fetched")
             .otherwise("fetched_404").alias("outcome"))
        .unionByName(
            extracted.filter((F.col("status") == 503) & gave_up_cond)
            .select("url_hash", "url",
                    F.lit("failed_gave_up").alias("outcome")))
    )
    if blocked is not None:
        newly_seen = newly_seen.unionByName(
            blocked.select("url_hash", "url")
            .withColumn("outcome", F.lit("robots_blocked")))
    newly_seen = newly_seen.withColumn("round_seen", F.lit(k))
    removal_keys = newly_seen.select("url_hash").unionByName(
        extracted.select("url_hash"))
    if seen is not None:
        removal_keys = removal_keys.unionByName(seen.select("url_hash"))
    new_frontier = _dedup_frontier(
        frontier.unionByName(discovered)
        .join(removal_keys, "url_hash", "left_anti")
        .unionByName(retries)
    )

    # 8. metrics (reference analogue: running counters A1,
    #    ctripSpider.py:51,234-250). All distributed — only per-outcome
    #    counts and P small Bloom bitmaps ever reach the driver, so waves of
    #    any size scale (never collect() wave rows).
    t0 = _prof("plan building", t0)
    # ONE counts-only metrics job: outcome counts + retried + distinct-
    # discovered as a union of aggregates over the staged wave artifact +
    # cached discovery (3 separate actions previously -> 2 extra
    # job-scheduling round-trips per round). Counts stay counts — an
    # earlier form piggybacked a sliced collect_list of newly-seen hashes
    # here, which bounded the DRIVER payload but not the aggregation
    # buffers: every hash of the round funneled into <=4 reduce tasks (one
    # per outcome group) before truncation was detectable. The Bloom fold
    # below instead gates on the count this job already produced and runs
    # its own bounded collect.
    # the discovery cache (link resolve + canonicalize + hash — the
    # round's second Arrow-UDF pass) materializes inside the metrics job
    # below. Wave outcome counts arrived free with the staged write
    # (observed metrics above), so this job only aggregates the two
    # relations the wave artifact can't see: robots-blocked rows (cached
    # flagged) and the distinct-discovered count (must be exact — the
    # metrics table is simulator-pinned — and distinct aggregates are
    # not allowed in observations).
    metrics_agg = (discovered.agg(F.count_distinct("url_hash").alias("n"))
                   .select(F.lit("discovered").alias("outcome"), "n"))
    if blocked is not None:
        metrics_agg = metrics_agg.unionByName(
            blocked.agg(F.count("*").alias("n"))
            .select(F.lit("robots_blocked").alias("outcome"), "n"))
    metric_rows = metrics_agg.collect()
    outcome_counts = {r["outcome"]: r["n"] for r in metric_rows}
    t0 = _prof("metrics counts (incl discovery materialize)", t0)
    n_ok = int(wave_counts["n_ok"])
    n_404 = int(wave_counts["n_404"])
    n_gave_up = int(wave_counts["n_gave_up"])
    n_blocked = int(outcome_counts.get("robots_blocked", 0))
    n_retried = int(wave_counts["n_retried"])
    n_discovered = int(outcome_counts.get("discovered", 0))
    metrics_row = {
        "round": k, "wave": n_ok + n_404 + n_gave_up + n_retried,
        "fetched_200": n_ok, "fetched_404": n_404,
        "retried_503": n_retried, "failed_gave_up": n_gave_up,
        "robots_blocked": n_blocked, "discovered": n_discovered,
    }
    import pyarrow as pa
    metrics = pa.table({k: [v] for k, v in metrics_row.items()})

    if metrics_row["wave"] == 0 and n_blocked == 0 and n_discovered == 0:
        # distinguish "frontier exhausted" from "every host accrued a
        # zero budget THIS round" (only possible with budget_carry and
        # rate < 1 hosts): the latter must commit an empty round so the
        # round counter advances and the host is fetched when its budget
        # accrues to 1 — terminating would strand a slow-host frontier.
        # a refresh crawl must TICK through empty rounds, not terminate:
        # pages become due only when the round counter reaches their
        # fetch round + ttl, so "nothing fetchable right now" is the
        # steady state between refresh waves, not exhaustion
        # `refreshed is not None` matters on its own: if EVERY due page
        # was politeness-clipped this round (wave == 0), terminating here
        # would discard the uncommitted refresh — the empty round must
        # commit the seen subtraction + frontier re-injection so a later
        # round fetches them when budget accrues
        recrawl_pending = bool(
            cfg.recrawl_ttl_rounds
            and (refreshed is not None
                 or (seen is not None
                     and seen.filter(F.col("outcome") == "fetched")
                             .limit(1).count() > 0)))
        if not recrawl_pending and not (
                cfg.budget_carry and flagged.limit(1).count() > 0):
            if flagged_cached:
                flagged.unpersist()
            discovered.unpersist()
            lake.discard_staged(frag)
            return None  # frontier exhausted; nothing to commit

    # results publish = manifest projection of the already-written wave
    # artifact (zero extra write; see the staged-write comment above).
    # In the common bounded-wave case the driver Bloom's newly-seen keys
    # ride the seen WRITE as an observed collect_list — no dedicated
    # collect job at all. The count gate runs BEFORE any job: every term
    # of n_new_seen came from observations on jobs already finished, so
    # the collect buffer is provably ≤ bloom_inline_max keys when the
    # write launches (a strictly earlier gate than the old post-metrics
    # collect). The observed copy feeds ONLY the seen append; all other
    # consumers (removal_keys, the metrics that were here before) keep
    # the unobserved plan, so the observation fires exactly once, on the
    # committed write.
    n_new_seen = n_ok + n_404 + n_gave_up + n_blocked
    obs_seen = None
    seen_append = newly_seen
    if (bloom is not None and 0 < n_new_seen
            <= max(int(cfg.bloom_inline_max), 0)):
        obs_seen = Observation()
        seen_append = newly_seen.observe(
            obs_seen, F.collect_list("url_hash").alias("h"))
    appends = {"seen": seen_append,
               "results": StagedFragment(frag.path, results_cols),
               "errors": errors, "metrics": metrics}
    # the metrics counts are already on the driver — drop writes that are
    # provably empty (each one is a full Spark job + py4j round-trip; an
    # error-free round was paying for an empty `errors` fragment)
    if n_404 + n_gave_up == 0:
        del appends["errors"]
    discard_after_round = False
    if metrics_row["wave"] == 0:          # blocked-only round
        del appends["results"]
        # the fragment is still read by this commit's frontier write
        # (removal_keys) AND by the post-commit Bloom fold (newly_seen):
        # discard it only once the round is fully done with it
        discard_after_round = True
    if n_ok + n_404 + n_gave_up + n_blocked == 0:  # all-retry round
        del appends["seen"]
    if cfg.curate_repetition and n_ok > 0:
        from ..operators.curation import repetition_stats
        appends["repetition"] = repetition_stats(
            extracted.filter(F.col("status") == 200)
            .select("url_hash", "text"), id_col="url_hash",
        ).withColumn("round", F.lit(k))
    replace_components = None
    if cfg.content_dedup and n_ok > 0:
        # per-wave delta dedup against the persisted band index; both
        # tables ride the round's atomic commit, so index and corpus can
        # never desynchronize across a crash (same guarantee seen gets)
        from ..operators.dedup import delta_near_dedup
        wave_docs = extracted.filter(F.col("status") == 200).select(
            F.col("url_hash").alias("doc_id"), "text")
        corpus = lake.read(spark, "results")
        texts = wave_docs
        if corpus is not None:
            texts = texts.unionByName(
                corpus.filter(F.col("status") == 200)
                .select(F.col("url_hash").alias("doc_id"), "text"))
        wave_bands, new_pairs = delta_near_dedup(
            wave_docs, texts, lake.read(spark, "content_bands"))
        appends["content_bands"] = wave_bands
        appends["content_dups"] = new_pairs
        if cfg.content_components:
            # fold the wave's pairs into the live cluster assignment:
            # O(wave) contracted star + ONE relabel join over the
            # pair-nodes-sized table; rides the same atomic commit, so
            # clusters can never desynchronize from the pair log.
            # new_pairs is consumed twice (append above + fold here) —
            # pin it so the band join doesn't recompute
            new_pairs = new_pairs.localCheckpoint()
            appends["content_dups"] = new_pairs
            from ..operators.graph import (
                connected_components_star,
                delta_connected_components,
            )
            edges = new_pairs.select(F.col("doc_a").alias("src"),
                                     F.col("doc_b").alias("dst"))
            assign = lake.read(spark, "content_components")
            if new_pairs.limit(1).count() > 0:
                folded = (connected_components_star(edges)
                          if assign is None
                          else delta_connected_components(assign, edges))
                replace_components = folded.localCheckpoint()
    # mor rounds append their delta instead of rewriting the frontier;
    # blend rounds and the fold cadence still materialize (see config)
    fold_frontier = (
        cfg.frontier_mode != "mor"
        or (cfg.blend_pagerank_every
            and k % cfg.blend_pagerank_every == 0)
        or (cfg.frontier_fold_every
            and k % cfg.frontier_fold_every == 0)
    )
    if cfg.blend_pagerank_every:
        # discovered-link edge relation for the PageRank blend: one row per
        # resolved outlink occurrence (duplicates carry out-degree weight)
        round_edges = discovered.select(
            url_hash_col(F.col("parent_url")).alias("src"),
            F.col("url_hash").alias("dst"),
        )
        appends["edges"] = round_edges
        if k % cfg.blend_pagerank_every == 0:
            # PageRank blend applied INSIDE this round's atomic snapshot
            # (previously a second commit after the round's — a crash in
            # that window resumed with an unblended frontier, silently
            # diverging from an uninterrupted run's crawl order). The
            # blended frontier and the round's appends now publish in ONE
            # snapshot, so resume-determinism holds through blend rounds.
            # The simulator mirrors the same arithmetic (10-dp rounding
            # pins parallel-sum noise), so order equivalence still holds.
            prior_edges = lake.read(spark, "edges")
            if prior_edges is not None or n_discovered > 0:
                all_edges = (round_edges if prior_edges is None
                             else prior_edges.unionByName(round_edges))
                from ..operators.graph import reprioritize_frontier
                new_frontier = reprioritize_frontier(
                    new_frontier, all_edges, cfg.blend_iters,
                    cfg.blend_damping, cfg.blend_weight)
    if detail_idx is not None and n_ok > 0:
        # S6 keyed second-stage fetch: detail enrichment for this round's
        # successful listing fetches, committed in the SAME atomic snapshot
        # (the reference's detail callback writes into the same row batch)
        appends["details"] = fetch_details(
            extracted.filter(F.col("status") == 200), detail_idx
        ).withColumn("round", F.lit(k))
    if fold_frontier:
        replace = {"frontier": new_frontier}
    else:
        replace = {}
        delta_parts = []
        if n_discovered + n_retried > 0:
            delta_parts.append(discovered.unionByName(retries))
        if refreshed is not None:
            # re-injected refresh rows must be durable in the mor delta
            # too: the base may drop them at the next fold, and they are
            # already subtracted from seen — losing the delta would strand
            # a politeness-clipped due URL forever
            delta_parts.append(refreshed)
        if delta_parts:
            # round delta only — O(wave) write; dedup scoped to the round
            # (cross-round resolution happens in the read view). An
            # all-terminal round appends nothing: the frontier shrinks
            # logically via the read-side seen anti-join alone.
            d = delta_parts[0]
            for extra in delta_parts[1:]:
                d = d.unionByName(extra)
            appends["frontier"] = _dedup_frontier(d)
    if replace_components is not None:
        # no-dup rounds skip the rewrite entirely (the table is only as
        # stale as the last round that actually found a pair)
        replace["content_components"] = replace_components
    if refreshed is not None:
        # the unsee is an O(due) tombstone APPEND in the same atomic
        # snapshot (a crash can never leave a URL both unseen and
        # unfetched); resolve_seen folds it at read time. Never a
        # rewrite: at steady state every round has due pages, and a
        # seen replace would be an O(corpus) write per round.
        tombstones = due.select(
            "url_hash", "url",
            F.lit("unseen").alias("outcome"),
            F.lit(k).alias("round_seen"))
        appends["seen"] = (
            tombstones if "seen" not in appends
            else appends["seen"].unionByName(tombstones))
    lake.commit(k, append=appends, replace=replace)
    t0 = _prof("commit (5 table writes)", t0)
    if bloom is not None and n_new_seen > 0:
        if obs_seen is not None:
            # the keys were collected by the seen write inside the commit
            # (observed metric, bounded by the pre-job count gate above);
            # folding them is a pure driver-side numpy OR — zero jobs.
            bloom.update(obs_seen.get["h"])
            t0 = _prof("bloom fold (observed, no job)", t0)
        else:
            # big-wave fallback: executor-built sketch delta over this
            # round's newly-seen keys, merged into the driver filter (no
            # row collect) — dispatched through the filter object so
            # Bloom and cuckoo share the crawl plan
            bloom.merge_raw(bloom.delta_raw(newly_seen), n_new_seen)
            t0 = _prof("bloom delta build+merge", t0)
    if flagged_cached:
        flagged.unpersist()
    discovered.unpersist()
    if discard_after_round:
        lake.discard_staged(frag)
    return metrics_row


def build_pages_index(spark: SparkSession, pages: DataFrame,
                      n_part: int | None = None) -> DataFrame:
    """Hash-partition the page store ON the fetch-join key and persist —
    the local analogue of bucketing the Iceberg pages table by url_hash.
    Built once per crawl (amortized over its whole lifetime); callers that
    measure steady-state rounds can pre-materialize it (``.count()``) and
    pass it to :func:`run_crawl` via ``pages_idx``."""
    if n_part is None:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return pages_index(pages).repartition(n_part, "url_hash").persist()


def run_crawl(spark: SparkSession, lake: Lakehouse, pages: DataFrame,
              seeds: DataFrame, cfg: CrawlConfig, n_rounds: int,
              detail_pages: DataFrame | None = None,
              pages_idx: DataFrame | None = None) -> list[dict]:
    """Run/resume a crawl for up to n_rounds (idempotent across restarts:
    picks up from the last committed snapshot — SURVEY.md §2.9 resume)."""
    if lake.latest_round() < 0:
        init_crawl(spark, lake, seeds, cfg)
    else:
        # resume: sweep fragments orphaned by a crash between stage() and
        # commit() in the previous process (a wave-sized leak per crash
        # otherwise). Safe here by construction: this process hasn't
        # staged anything yet, so nothing can be legitimately in flight.
        lake.remove_orphans()
    bloom = None
    if cfg.use_bloom:
        if cfg.seen_filter == "cuckoo":
            from ..operators.cuckoo import SeenCuckoo
            bloom = SeenCuckoo(cfg.bloom_parts,
                               cfg.cuckoo_buckets_per_part)
        else:
            bloom = SeenBloom(cfg.bloom_parts, cfg.bloom_bits_per_part,
                              cfg.bloom_hashes)
        seen = lake.read(spark, "seen")
        if seen is not None:  # resume: rebuild derived state from the table
            if cfg.recrawl_ttl_rounds:
                # fold refresh tombstones first: an unseen URL must not
                # re-enter the rebuilt filter (it would only cost FP
                # routing, but the resolve is one map-side agg)
                seen = resolve_seen(seen)
            bloom.rebuild(seen)
    # hash-partition the page store ON the join key once and persist: every
    # round's fetch join then only shuffles the (small) wave side — the
    # local analogue of bucketing the Iceberg pages table by url_hash.
    # Measured 3.4x on the 3-round bench vs an unpartitioned cache.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    own_idx = pages_idx is None
    idx = build_pages_index(spark, pages, n_part) if own_idx else pages_idx
    detail_idx = None
    if detail_pages is not None:
        # same bucketing discipline as the listing store: partition the
        # detail index ON its join key once, so each round's detail fetch
        # only shuffles the (small) wave side
        detail_idx = (detail_index(detail_pages)
                      .repartition(n_part, "detail_hash").persist())
    alias_df = aliases_df(spark, cfg.aliases)
    # session-state dims, parsed distributed; robots_refresh (S14/S15
    # analogue) may swap in fresh rules between rounds
    rules_df = robots_rules_df(spark, cfg.robots or None)
    budgets_df = _budgets_df(spark, cfg, rules_df)
    flaky_df = _flaky_df(spark, cfg)
    out = []
    while lake.latest_round() < n_rounds:
        if cfg.robots_refresh is not None:
            refreshed = cfg.robots_refresh(spark, lake.latest_round() + 1)
            if refreshed is not None:
                rules_df = robots_rules_df(spark, refreshed)
                budgets_df = _budgets_df(spark, cfg, rules_df)
        if cfg.budget_carry:
            # the budget dim is a pure function of the round number — a
            # tiny per-round recompute of the host dimension, no state
            budgets_df = _budgets_df(spark, cfg, rules_df,
                                     round_k=lake.latest_round() + 1)
        row = run_round(spark, lake, idx, cfg, bloom,
                        rules_df=rules_df, budgets_df=budgets_df,
                        flaky_df=flaky_df, alias_df=alias_df,
                        detail_idx=detail_idx)
        if row is None:
            break
        out.append(row)
        k = lake.latest_round()
        # (PageRank blend happens INSIDE run_round's atomic commit —
        # see the blend block there for the crash-window rationale.)
        if cfg.compact_every and k > 0 and k % cfg.compact_every == 0:
            # ONE atomic maintenance commit over every append-heavy table:
            # readers keep the old snapshot until the manifest rename,
            # time-travel to pre-compaction versions still works, and a
            # crash mid-sweep can't leave the tables asymmetrically
            # compacted (single snapshot published per pass)
            lake.compact_many(
                spark, ["seen", "results", "errors", "details", "metrics",
                        "edges", "content_bands", "content_dups",
                        "repetition"])
            if cfg.expire_keep_last:
                # safe point: the round's commit landed and no staged
                # fragment is in flight (expire reaps unreferenced dirs)
                lake.expire_snapshots(cfg.expire_keep_last)
    if own_idx:
        idx.unpersist()
    if detail_idx is not None:
        detail_idx.unpersist()
    return out
