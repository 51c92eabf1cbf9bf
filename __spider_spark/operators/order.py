"""Parallel deterministic global ranking.

``row_number().over(Window.orderBy(...))`` funnels every row through ONE
task — fine for a 4k-row wave, an Amdahl wall for a 10^7-row wave. This
operator assigns the identical total order in parallel by cutting the key
space into buckets that are a pure function of the row:
``(priority, url_hash >> (64 - b))``. The top ``b`` bits of the signed
hash are monotone in the hash, so within one priority level every bucket
is a contiguous range of the ``(priority, url_hash)`` key and the buckets
never interleave, in either sort direction.

  1. per-bucket counts — one row per (priority level, bucket), not rows;
  2. running-sum offsets over that table, ordered by ``order_cols`` with
     ``min(url_hash)`` standing in for the bucket (any member orders a
     disjoint range the same way); the window's single task is O(buckets),
     never O(rows), and the table is broadcast-joined back;
  3. parallel ``row_number`` windows partitioned by bucket, plus the
     bucket's offset.

No sampling pass decides where a row is ranked, so the rank depends only
on the sort key (keys are unique — they end in url_hash) and the crawl
order stays byte-identical at any parallelism (O3 invariant, SURVEY §2.6).
Buckets come from hash bits, not hosts, so a hot host cannot pile up in
one of them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_rank(df: DataFrame, order_cols: list[Column],
                rank_col: str = "rank") -> DataFrame:
    """Attach a 1-based dense total-order rank over ``order_cols``, which
    must order by ``priority`` then ``url_hash`` (either direction). Input
    must carry (priority, url_hash); all columns pass through."""
    # ~4 buckets per shuffle partition (per priority level) keeps the
    # bucket windows balanced after the hash exchange
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    bits = min(max(n_part - 1, 1).bit_length() + 2, 32)
    keyed = df.withColumn("__bucket",
                          F.shiftright(F.col("url_hash"), 64 - bits))
    w_off = Window.orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("priority", "__bucket")
        .agg(F.min("url_hash").alias("url_hash"), F.count("*").alias("__n"))
        .select(F.col("priority").alias("__p"),
                F.col("__bucket").alias("__b"),
                F.coalesce(F.sum("__n").over(w_off), F.lit(0))
                .alias("__offset"))
    )
    w = Window.partitionBy("priority", "__bucket").orderBy(*order_cols)
    ranked = keyed.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(offsets),
                    F.col("priority").eqNullSafe(F.col("__p"))
                    & (F.col("__bucket") == F.col("__b")))
        .select(*df.columns,
                (F.col("__rn") + F.col("__offset")).cast("int")
                .alias(rank_col))
    )
