"""URL-seen: Bloom FPR/no-false-negatives, anti-join soundness (SURVEY
§5.1/.5) and the partitioned-sketch contract both seen filters share."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from __spider_spark.operators.cuckoo import SeenCuckoo
from __spider_spark.operators.seen import Bloom, SeenBloom, filter_unseen


def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    b = Bloom.sized(len(keys), fpr=0.01)
    b.add_many(keys)
    assert b.contains_many(keys).all()  # zero false negatives
    probe = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    novel = probe[~np.isin(probe, keys)]
    fpr = b.contains_many(novel).mean()
    assert fpr < 0.03, fpr


def test_bloom_merge_associative():
    rng = np.random.default_rng(7)
    a_keys = rng.integers(0, 2**62, 1000, dtype=np.int64)
    b_keys = rng.integers(0, 2**62, 1000, dtype=np.int64)
    a = Bloom(1 << 14, 5); a.add_many(a_keys)
    b = Bloom(1 << 14, 5); b.add_many(b_keys)
    ab = a.merge(b)
    both = Bloom(1 << 14, 5); both.add_many(np.concatenate([a_keys, b_keys]))
    assert (ab.words == both.words).all()


def test_filter_unseen_exact(spark):
    cand = spark.range(0, 1000).select(
        (F.col("id") * 7919).alias("url_hash"), F.col("id").alias("payload"))
    seen = spark.range(0, 500).select((F.col("id") * 2 * 7919).alias("url_hash"))
    # plain anti-join
    plain = filter_unseen(cand, seen)
    assert plain.count() == 500
    assert plain.filter(F.col("url_hash") % (2 * 7919) == 0).count() == 0
    # bloom-prefiltered path must give the identical set
    sketch = SeenBloom(n_parts=4, bits_per_part=1 << 14)
    sketch.rebuild(seen)
    udf = sketch.udf(spark)
    with_bloom = filter_unseen(cand, seen, udf)
    assert with_bloom.select("url_hash").exceptAll(
        plain.select("url_hash")).count() == 0
    assert plain.select("url_hash").exceptAll(
        with_bloom.select("url_hash")).count() == 0


@pytest.mark.parametrize("make", [
    pytest.param(lambda: SeenBloom(8, 1 << 14, 5), id="bloom"),
    pytest.param(lambda: SeenCuckoo(8, 1 << 10), id="cuckoo"),
])
def test_partitioned_sketch_contract(spark, make):
    """The same keys (negative hashes included) inserted through update,
    through merge_raw(delta_raw(df)) and through rebuild(df) are all
    maybe-seen on the driver and through the routing udf; n_keys counts
    the rows; rebuild launches no more Spark jobs than delta_raw alone."""
    df = spark.range(0, 3000).select(F.xxhash64("id").alias("url_hash"))
    keys = np.array([r[0] for r in df.collect()], dtype=np.int64)
    assert (keys < 0).any() and (keys > 0).any()
    sc = spark.sparkContext

    def jobs(grp, fn):
        sc.setJobGroup(grp, "count sketch jobs")
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(grp))

    by_update, by_delta, by_rebuild = make(), make(), make()
    name = type(by_update).__name__
    by_update.update(keys)
    raw, n_delta = jobs(f"{name}-delta", lambda: by_delta.delta_raw(df))
    by_delta.merge_raw(raw, len(keys))
    _, n_rebuild = jobs(f"{name}-rebuild", lambda: by_rebuild.rebuild(df))
    assert n_rebuild <= n_delta, (n_rebuild, n_delta)
    for sketch in (by_update, by_delta, by_rebuild):
        assert sketch.n_keys == len(keys)
        for p, arr in sketch._route(keys).items():
            assert sketch.parts[p].contains_many(arr).all()
        flagged = df.select(sketch.udf(spark)(F.col("url_hash")).alias("m"))
        assert flagged.filter(~F.col("m")).count() == 0
