"""robots.txt gate: per-host rules DIMENSION + vectorized allow check.

The reference crawls with ``ROBOTSTXT_OBEY = False``
(/root/reference/settings.py:21) — the engine makes compliance a first-class
operator instead (north_star requirement). Robots bodies live in a per-host
rules *DataFrame* (host, disallow[], allow[], crawl_delay) — parsed
DISTRIBUTED by a pandas UDF, storable in the lakehouse, refreshable per
round, and joined onto the frontier (broadcast- or bucket-join). Nothing is
parsed on the driver and no driver dict is broadcast, so 10^8 hosts work
the same way 10 hosts do; only the rules for hosts actually present in the
wave flow through the join.

Semantics (Google's documented robots rules):
  * ``*`` in a pattern matches any character sequence; ``$`` anchors the
    pattern end; otherwise prefix match;
  * patterns match against path + '?query' when a query string is present
    (Google REP matches the full path-and-query, so ``Disallow: /*?sid=``
    works);
  * most-specific (longest pattern) wins between Allow and Disallow,
    Allow wins ties;
  * empty Disallow value = allow-all; unknown host = allowed;
  * ``Crawl-delay`` maps onto the engine's politeness budget:
    budget_per_round = round_seconds / delay (the declarative form of the
    reference's DOWNLOAD_DELAY throttle, settings.py:37).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.worker import pandas_udf


@dataclass
class RobotsRules:
    disallow: list[str] = field(default_factory=list)
    allow: list[str] = field(default_factory=list)
    crawl_delay: float | None = None


def _pattern_regex(pattern: str) -> re.Pattern[str]:
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in body.split("*"))
    return re.compile("^" + rx + ("$" if anchored else ""))


def parse_robots(body: str) -> RobotsRules:
    """Parse one robots.txt body for User-agent ``*``."""
    rules = RobotsRules()
    applies = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            applies = val == "*"
        elif applies and key == "disallow":
            if val:
                rules.disallow.append(val)
        elif applies and key == "allow":
            if val:
                rules.allow.append(val)
        elif applies and key == "crawl-delay":
            try:
                rules.crawl_delay = float(val)
            except ValueError:
                pass
    return rules


def _best_match(patterns: list[str], path: str) -> int:
    """Length of the most specific matching pattern; -1 if none match."""
    best = -1
    for p in patterns:
        if _pattern_regex(p).match(path) and len(p) > best:
            best = len(p)
    return best


def allowed_one(rules: RobotsRules | None, path: str) -> bool:
    if rules is None:
        return True
    best_dis = _best_match(rules.disallow, path)
    best_allow = _best_match(rules.allow, path)
    return best_allow >= best_dis


def robots_budgets(robots_bodies: dict[str, str],
                   round_seconds: float = 60.0) -> dict[str, int]:
    """Crawl-delay directives → per-host politeness budgets
    (budget = how many polite fetches fit in one scheduling round)."""
    out = {}
    for host, body in robots_bodies.items():
        delay = parse_robots(body).crawl_delay
        if delay and delay > 0:
            out[host] = max(1, int(round_seconds / delay))
    return out


def robots_budgets_carry(robots_bodies: dict[str, str], round_k: int,
                         round_seconds: float = 60.0) -> dict[str, int]:
    """Schedule-aware variant of :func:`robots_budgets`: the fractional
    remainder of ``round_seconds / crawl_delay`` carries across rounds, so
    a host allowed 2.5 polite fetches per round gets 5 every 2 rounds
    (2, 3, 2, 3, ...) instead of a truncated 2 every round — and a host
    whose delay exceeds the round (rate < 1) is correctly fetched only
    every ⌈1/rate⌉-th round instead of once EVERY round (the ``max(1, …)``
    floor in the plain form over-fetches such hosts).

    Stateless by construction: budget(k) = ⌊k·rate⌋ − ⌊(k−1)·rate⌋ is a
    pure function of the round number, so restart/resume needs no carry
    state column and any round's budget can be recomputed exactly. The
    float expression is evaluated as ``(k · round_seconds) / delay`` in
    one IEEE-double division — the engine's Column twin uses the same
    op order, so both sides floor the identical bits."""
    out = {}
    for host, body in robots_bodies.items():
        delay = parse_robots(body).crawl_delay
        if delay and delay > 0:
            out[host] = int(math.floor((round_k * round_seconds) / delay)
                            - math.floor(((round_k - 1) * round_seconds)
                                         / delay))
    return out


# -- distributed rules dimension ---------------------------------------

RULES_SCHEMA = StructType([
    StructField("disallow", ArrayType(StringType())),
    StructField("allow", ArrayType(StringType())),
    StructField("crawl_delay", DoubleType()),
])


@pandas_udf(RULES_SCHEMA)
def parse_robots_udf(bodies: pd.Series) -> pd.DataFrame:
    """Vectorized robots.txt parse (Arrow-batched) — runs on executors."""
    parsed = [parse_robots(b) for b in bodies]
    return pd.DataFrame({
        "disallow": [r.disallow for r in parsed],
        "allow": [r.allow for r in parsed],
        "crawl_delay": [r.crawl_delay for r in parsed],
    })


def robots_rules_df(spark: SparkSession,
                    robots: dict[str, str] | DataFrame | None) -> DataFrame | None:
    """Per-host rules dimension: (host, disallow, allow, crawl_delay).

    Accepts either a (host, body) DataFrame — the web-scale path, e.g. a
    lakehouse robots table refreshed per round — or a small dict (test /
    config convenience). Parsing always runs distributed; the driver never
    holds parsed rules. The frame is lazy: every plan that reads it runs
    ``parse_robots_udf`` again, so a caller that reads it more than once
    persists it (``run_crawl`` does, once per rules version)."""
    if robots is None:
        return None
    if isinstance(robots, dict):
        if not robots:
            return None
        bodies = spark.createDataFrame(
            list(robots.items()), "host string, body string")
    else:
        bodies = robots
    return bodies.select(
        "host", parse_robots_udf(F.col("body")).alias("r")
    ).select("host", "r.disallow", "r.allow", "r.crawl_delay")


@pandas_udf(BooleanType())
def _allowed_joined(pathq: pd.Series, disallow: pd.Series,
                    allow: pd.Series) -> pd.Series:
    """(path?query, disallow[], allow[]) -> allowed. Null rule arrays mean
    'no robots row for this host' -> allowed."""
    out = []
    for p, dis, alw in zip(pathq, disallow, allow):
        if dis is None and alw is None:
            out.append(True)
            continue
        rules = RobotsRules(list(dis or []), list(alw or []), None)
        out.append(allowed_one(rules, p if p else "/"))
    return pd.Series(out)


def pathq_col(url_col):
    """Robots match target: path plus '?query' when a query is present
    (Google REP matches path-and-query, not the bare path)."""
    path = F.coalesce(F.parse_url(url_col, F.lit("PATH")), F.lit("/"))
    query = F.parse_url(url_col, F.lit("QUERY"))
    return F.when(query.isNotNull() & (query != ""),
                  F.concat(path, F.lit("?"), query)).otherwise(path)


def robots_gate(df: DataFrame, rules_df: DataFrame | None,
                url_col: str = "url", host_col: str = "host",
                flag_col: str = "__allowed") -> DataFrame:
    """Attach the robots verdict as ``flag_col`` via a broadcast join of the
    rules dimension on host (bucket-join it instead at 10^8 hosts) + one
    Arrow-batched predicate over (path?query, rules)."""
    if rules_df is None:
        return df.withColumn(flag_col, F.lit(True))
    joined = df.join(
        F.broadcast(rules_df.withColumnRenamed("host", host_col)),
        host_col, "left")
    return joined.withColumn(
        flag_col,
        _allowed_joined(pathq_col(F.col(url_col)),
                        F.col("disallow"), F.col("allow")),
    ).drop("disallow", "allow", "crawl_delay")


def budgets_from_rules(rules_df: DataFrame,
                       round_seconds: float = 60.0,
                       round_k: int | None = None) -> DataFrame:
    """Crawl-delay directives → per-host politeness budgets, computed as a
    pure Column expression on the rules dimension (no driver parsing).

    With ``round_k`` set, the fractional remainder of
    ``round_seconds / crawl_delay`` carries across rounds:
    budget(k) = ⌊k·rate⌋ − ⌊(k−1)·rate⌋ — a pure function of the round
    number (no carry state to persist; restart-exact by construction).
    Float op order matches :func:`robots_budgets_carry` exactly
    (one double division of the premultiplied numerator), so the
    simulator floors identical bits. A rate < 1 host then yields
    budget 0 on most rounds — the row is KEPT (budget 0 must override
    the clip's default, not fall through to it)."""
    if round_k is None:
        return (
            rules_df.filter(F.col("crawl_delay") > 0)
            .select(
                "host",
                F.greatest(
                    F.lit(1),
                    F.floor(F.lit(round_seconds) / F.col("crawl_delay"))
                ).cast("int").alias("budget"),
            )
        )
    hi = F.floor(F.lit(float(round_k) * round_seconds)
                 / F.col("crawl_delay"))
    lo = F.floor(F.lit(float(round_k - 1) * round_seconds)
                 / F.col("crawl_delay"))
    return (
        rules_df.filter(F.col("crawl_delay") > 0)
        .select("host", (hi - lo).cast("int").alias("budget"))
    )
