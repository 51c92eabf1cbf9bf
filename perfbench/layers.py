"""Traced replay of one crawl round, layer by layer.

The replay starts from the lakehouse snapshot the last timed round started
from (read with ``Lakehouse.read(..., version=)``) and calls each layer's
public function the way ``plans.crawl.run_round`` chains them. Every timed
call gets its input from a cached, already materialized DataFrame and
forces its output through the ``noop`` sink or one aggregate, so its span
holds that layer's work only. Ratios (routed, blocked, kept, collisions)
are counted outside the timed spans.
"""

from __future__ import annotations

import pyarrow as pa
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from __spider_spark.functions.text import extract_page
from __spider_spark.functions.urls import resolve_link, url_hash_col, url_host
from __spider_spark.operators.cuckoo import SeenCuckoo
from __spider_spark.operators.order import global_rank
from __spider_spark.operators.politeness import clip_wave
from __spider_spark.operators.robots import (
    budgets_from_rules,
    robots_gate,
    robots_rules_df,
)
from __spider_spark.operators.seen import SeenBloom, filter_unseen

# the tables run_crawl's maintenance pass compacts
COMPACTED = ["seen", "results", "errors", "details", "metrics", "edges",
             "content_bands", "content_dups", "repetition"]


@pandas_udf(StringType())
def arrow_identity(s: pd.Series) -> pd.Series:
    """The Python/Arrow boundary with no work on either side of it."""
    return s


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _sketch(cfg):
    if cfg.seen_filter == "cuckoo":
        return SeenCuckoo(cfg.bloom_parts, cfg.cuckoo_buckets_per_part)
    return SeenBloom(cfg.bloom_parts, cfg.bloom_bits_per_part,
                     cfg.bloom_hashes)


def _budgets(spark, cfg, rules):
    """Crawl-delay budgets overridden by the configured per-host ones."""
    explicit = (spark.createDataFrame(list(cfg.budgets.items()),
                                      "host string, budget int")
                if cfg.budgets else None)
    derived = (budgets_from_rules(rules, cfg.round_seconds)
               if rules is not None else None)
    if derived is None:
        return explicit
    if explicit is None:
        return derived
    return (derived.join(explicit.select("host"), "host", "left_anti")
            .unionByName(explicit))


def _merged_frontier(frontier):
    """One entry per URL from a merge-on-read frontier (base plus round
    deltas). The engine's read view resolves duplicates by (attempts DESC,
    priority DESC, round ASC, ...); the leading keys are enough here, where
    only the frontier's size and key set feed the replayed layers."""
    cols = [c for c in frontier.columns if c != "url_hash"]
    key = F.struct(F.col("attempts"), F.col("priority"), -F.col("round"))
    return (frontier.groupBy("url_hash")
            .agg(F.max_by(F.struct(*cols), key).alias("__r"))
            .select("url_hash", "__r.*"))


class Replay:
    def __init__(self, tracer, counter, round_k: int) -> None:
        self.tracer = tracer
        self.counter = counter
        self.round_k = round_k
        self.metrics: dict[str, tuple[float, str]] = {}
        self._cached = []

    def timed(self, name: str, fn):
        """Run one layer call in its own span and job group."""
        with self.counter.region(name) as jobs, \
                self.tracer.span(name, self.round_k) as s:
            out = fn()
        self.put(f"{name}_s", s.end - s.start, "s")
        for key in ("jobs", "stages", "tasks"):
            self.put(f"{name}.{key}", jobs[key], "count")
        return out

    def put(self, name: str, value, unit: str) -> None:
        self.metrics[name] = (value, unit)

    def hold(self, df):
        """Persist ``df`` until the replay ends."""
        self._cached.append(df.persist())
        return df

    def cache(self, df, *aggs):
        """Cache ``df``; one job fills the cache and returns its row count
        followed by ``aggs``."""
        df = self.hold(df)
        return df, df.agg(F.count("*"), *aggs).first()

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()


def replay_round(spark, tracer, counter, lake, version: int, cfg, idx,
                 round_k: int) -> dict[str, tuple[float, str]]:
    """Replay round ``round_k`` from snapshot ``version`` of ``lake`` (a
    copy the replay may write to). Returns metric name -> (value, unit)."""
    r = Replay(tracer, counter, round_k)
    with tracer.span("replay", round_k):
        try:
            _replay(r, spark, lake, version, cfg, idx, round_k)
        finally:
            r.release()
    return r.metrics


def _replay(r, spark, lake, version, cfg, idx, k) -> None:
    # sources.lakehouse: the round's state read
    def read_state():
        _noop(lake.read(spark, "frontier", version=version))
        _noop(lake.read(spark, "seen", version=version))
    r.timed("lakehouse.read", read_state)
    frontier = lake.read(spark, "frontier", version=version)
    if cfg.frontier_mode == "mor":
        frontier = _merged_frontier(frontier)
    seen = lake.read(spark, "seen", version=version)

    # operators.seen / operators.cuckoo
    sketch = _sketch(cfg)
    r.timed("seen.rebuild", lambda: sketch.rebuild(seen))
    r.put("seen.keys", sketch.n_keys, "count")
    routed = (cfg.use_bloom and sketch.n_keys >= cfg.bloom_min_seen)
    udf = sketch.udf(spark) if routed else None
    r.timed("seen.filter", lambda: _noop(filter_unseen(frontier, seen, udf)))
    seen_keys = seen.select("url_hash").withColumn("__seen", F.lit(True))
    flags = frontier.select(
        "url_hash",
        (udf(F.col("url_hash")) if routed else F.lit(True)).alias("__m"))
    n, n_routed, n_false = flags.join(seen_keys, "url_hash", "left").agg(
        F.count("*"), F.count(F.when(F.col("__m"), 1)),
        F.count(F.when(F.col("__m") & F.col("__seen").isNull(), 1)),
    ).first()
    r.put("seen.routed_frac", n_routed / max(n, 1), "ratio")
    r.put("seen.false_route_frac", n_false / max(n_routed, 1), "ratio")
    cands, _ = r.cache(filter_unseen(frontier, seen, udf))

    # operators.robots
    rules = robots_rules_df(spark, cfg.robots or None)
    r.timed("robots.gate", lambda: _noop(robots_gate(cands, rules)))
    flagged, (n_in, n_blocked) = r.cache(
        robots_gate(cands, rules), F.count(F.when(~F.col("__allowed"), 1)))
    r.put("robots.blocked_frac", n_blocked / max(n_in, 1), "ratio")
    allowed = flagged.filter(F.col("__allowed")).drop("__allowed")

    # operators.politeness
    budgets = _budgets(spark, cfg, rules)

    def clip():
        return clip_wave(allowed, budgets, cfg.default_budget,
                         cfg.salt_buckets)
    r.timed("politeness.clip", lambda: _noop(clip()))
    rows_in = n_in - n_blocked
    r.put("politeness.rows_in", rows_in, "count")

    # operators.order: over the persisted, not yet materialized clip, as
    # the round ranks it
    clipped = r.hold(clip())
    ranked = global_rank(
        clipped, [F.col("priority").desc(), F.col("url_hash").asc()],
        rank_col="fetch_order")
    n_wave, n_ranks = r.timed("order.rank", lambda: ranked.agg(
        F.count("*"), F.count_distinct("fetch_order")).first())
    r.put("order.rank_collisions", n_wave - n_ranks, "count")
    r.put("politeness.keep_frac", n_wave / max(rows_in, 1), "ratio")

    # functions.text
    wave, (_, html_bytes) = r.cache(
        clipped.select("url", "url_hash").join(idx, "url_hash")
        .filter(F.col("html").isNotNull()), F.sum(F.length("html")))
    r.put("text.html_mb", html_bytes / 1e6, "MB")
    page = extract_page(F.col("html"))
    r.timed("text.extract", lambda: _noop(wave.select(page.alias("page"))))

    # functions.urls
    pages, (_, n_links) = r.cache(
        wave.select("url", "url_hash", page.alias("page")),
        F.sum(F.size("page.links")))
    r.put("urls.links", n_links, "count")
    links = pages.select(F.col("url").alias("parent_url"),
                         F.explode("page.links").alias("raw_link"))

    def discover():
        u = (links.select(resolve_link(F.col("parent_url"),
                                       F.col("raw_link")).alias("url"))
             .filter(F.col("url").isNotNull() & (F.col("url") != "")))
        _noop(u.select("url", url_host(F.col("url")).alias("host"),
                       url_hash_col(F.col("url")).alias("url_hash")))
    r.timed("urls.discover", discover)
    r.timed("urls.arrow_identity",
            lambda: _noop(links.select(arrow_identity(F.col("raw_link")))))

    # sources.lakehouse: the round's writes, then upkeep, on the copy
    extracted = pages.select("url", "url_hash", "page.text")
    frag = r.timed("lakehouse.stage",
                   lambda: lake.stage(extracted, "replay_results"))
    newly_seen = extracted.select(
        "url_hash", "url", F.lit("fetched").alias("outcome"),
        F.lit(k).alias("round_seen"))
    r.timed("lakehouse.commit", lambda: lake.commit(k, append={
        "replay_results": frag, "replay_seen": newly_seen,
        "replay_metrics": pa.table({"round": [k], "wave": [n_wave]})}))
    r.timed("lakehouse.compact", lambda: lake.compact_many(spark, COMPACTED))
    r.timed("lakehouse.expire",
            lambda: lake.expire_snapshots(cfg.expire_keep_last or 2))
