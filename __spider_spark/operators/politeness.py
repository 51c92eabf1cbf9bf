"""Politeness budget clipping: one top-k window per host.

Reference analogue: throughput throttling via ``CONCURRENT_REQUESTS=4..6`` /
``DOWNLOAD_DELAY=2..3s`` (/root/reference/settings.py:32,37-38) plus ad-hoc
sleeps (ctripSpider.py:229) — i.e. a *per-process* rate limit. The engine
expresses the same contract declaratively: **at most ``budget`` URLs per
host per scheduling round**, picked deterministically by
``(priority DESC, url_hash ASC)`` so crawl order replays byte-for-byte at
any parallelism (SURVEY.md §2.5/O3).

Skew (SURVEY.md §7 hard part (e)): a hot host holding 50% of the frontier
would put 50% of rows in one window partition. Besides ``__rn <=
__budget`` the filter carries the literal ``__rn <= max_budget``, the
largest budget in force, which never drops a row but lets Spark plan a
``WindowGroupLimit``: a partial top-k per map partition before the
``host`` exchange, so the hot host ships at most ``max_budget`` rows per
map task. Spark plans it for bounds up to
``spark.sql.optimizer.windowGroupLimitThreshold`` (1000); above, the
clip is a plain window. AQE skew handling stays on as a backstop.

Budgets come from a small per-host config relation (FIXTURES.md §5)
broadcast-joined onto the frontier (reference analogue: the broadcast
airport dimension, SURVEY.md §2.3 J2); hosts without a row fall back to
``default_budget``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def clip_wave(
    frontier: DataFrame,
    budgets: DataFrame | None = None,
    default_budget: int = 4,
    salt_buckets: int | None = None,  # ignored: kept while perfbench passes it
    *,
    max_budget: int | None = None,
) -> DataFrame:
    """Select this round's fetch wave: ≤ budget(host) URLs per host,
    deterministic order (priority DESC, url_hash ASC). Input must carry
    (host, url_hash, priority); all columns pass through. ``max_budget``
    is the largest of ``budgets`` and ``default_budget`` (the latter when
    ``budgets`` is None); without it the rank has no literal bound."""
    if budgets is None:
        df = frontier.withColumn("__budget", F.lit(default_budget))
        max_budget = default_budget
    else:
        df = frontier.join(F.broadcast(budgets), "host", "left").withColumn(
            "__budget", F.coalesce(F.col("budget"), F.lit(default_budget))
        ).drop("budget")
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url_hash").asc()
    )
    keep = F.col("__rn") <= F.col("__budget")
    if max_budget is not None:
        keep &= F.col("__rn") <= F.lit(max_budget)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(keep)
        .drop("__rn", "__budget")
    )
