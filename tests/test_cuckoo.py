"""Cuckoo seen-filter: no-false-negative routing contract (including past
the textbook load factor, via the overflow fallback), deletion restoring
unseen-ness, partitioned executor build + merge, and crawl equivalence:
a cuckoo-routed crawl commits byte-identical tables to a Bloom-routed
one (exactness comes from the anti-join; the sketch only routes)."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from __spider_spark.operators.cuckoo import (
    CuckooFilter,
    SeenCuckoo,
    build_partitioned_cuckoo,
)


@given(st.lists(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
                max_size=300))
@settings(max_examples=60, deadline=None)
def test_cuckoo_no_false_negatives(keys):
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(np.array(keys, dtype=np.int64))
    if keys:
        assert cf.contains_many(np.array(keys, dtype=np.int64)).all()


def test_cuckoo_overfill_keeps_contract():
    """Insert 4x the sized capacity: kick chains overflow to the
    (bucket, fingerprint) side set, and membership still never loses a
    key — the degradation is speed, not correctness."""
    rng = np.arange(1, 4097, dtype=np.int64) * 2654435761
    cf = CuckooFilter(64)  # 256 slots for 4096 keys
    cf.add_many(rng)
    assert cf.contains_many(rng).all()
    assert cf.overflow, "expected overflow at 16x load"


def test_cuckoo_fpr_is_small():
    keys = np.arange(10_000, dtype=np.int64) * 0x9E3779B9
    probe = np.arange(10_000, dtype=np.int64) * 0x9E3779B9 + 1
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(keys)
    fpr = cf.contains_many(probe).mean()
    assert fpr < 0.01, fpr


def test_cuckoo_delete_restores_unseen():
    keys = np.arange(5_000, dtype=np.int64) * 1_000_003
    cf = CuckooFilter.sized(len(keys))
    cf.add_many(keys)
    victims = keys[::7]
    assert cf.delete_many(victims) == len(victims)
    # deleted keys route as unseen again (fingerprints are unique enough
    # at this density that no survivor shadows a victim's slot)
    hits = cf.contains_many(victims)
    assert hits.mean() < 0.01, hits.mean()
    survivors = np.setdiff1d(keys, victims)
    assert cf.contains_many(survivors).all()


def test_cuckoo_partitioned_build_and_merge(spark):
    df = spark.range(0, 20_000).select(
        (F.col("id") * 2654435761).alias("url_hash"))
    raw = build_partitioned_cuckoo(df, n_parts=8, buckets_per_part=1 << 11)
    sc = SeenCuckoo(n_parts=8, buckets_per_part=1 << 11)
    sc.merge_raw(raw, 20_000)
    keys = np.arange(0, 20_000, dtype=np.int64) * 2654435761
    for p, arr in sc._route(keys).items():
        assert sc.parts[p].contains_many(arr).all()
    # driver-side udf roundtrip: every inserted key is "maybe seen"
    flagged = df.withColumn("m", sc.udf(spark)(F.col("url_hash")))
    assert flagged.filter(~F.col("m")).count() == 0


def test_cuckoo_load_warns_after_rebuild_and_merge(spark):
    """The big-wave paths (rebuild from the seen table, merge of an
    executor-built delta) make the load cliff loud, like update()."""
    seen = spark.range(0, 100).select(
        (F.col("id") * 2654435761).alias("url_hash"))
    sc = SeenCuckoo(n_parts=2, buckets_per_part=8)  # 64 slots, 100 keys
    with pytest.warns(RuntimeWarning, match="SeenCuckoo partition"):
        sc.rebuild(seen)
    sc = SeenCuckoo(n_parts=2, buckets_per_part=8)
    with pytest.warns(RuntimeWarning, match="SeenCuckoo partition"):
        sc.merge_raw(sc.delta_raw(seen), 100)


def test_crawl_with_cuckoo_matches_bloom(spark):
    """seen_filter='cuckoo' commits byte-identical lakehouse tables to
    the Bloom run (routing differs; the anti-join decides), and an
    unknown filter name raises."""
    from __spider_spark.plans.crawl import CrawlConfig, run_crawl
    from __spider_spark.sources.lakehouse import Lakehouse
    from __spider_spark.sources.pages import generate_pages, seeds_df

    with pytest.raises(ValueError, match="seen_filter"):
        CrawlConfig(seen_filter="xor")

    N, HOSTS, SEEDS, ROUNDS = 600, 12, 40, 3
    pages = generate_pages(spark, N, HOSTS)
    seeds = seeds_df(spark, N, SEEDS, HOSTS)
    tables = {}
    for filt in ("bloom", "cuckoo"):
        cfg = CrawlConfig(default_budget=5, seen_filter=filt,
                          bloom_min_seen=0)  # force the sketch path on
        lake = Lakehouse(tempfile.mkdtemp(prefix=f"lake_{filt}_"))
        run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)
        tables[filt] = {
            t: sorted(map(tuple, lake.read(spark, t)
                          .select(sorted(lake.read(spark, t).columns))
                          .collect()), key=repr)
            for t in ("seen", "results", "frontier")
        }
        lake.destroy()
    assert tables["bloom"] == tables["cuckoo"]


def test_overflow_is_multiset_no_false_negative_after_delete():
    """ADVICE r6: two DISTINCT keys orphaned to the same (bucket, fp)
    pair must keep two overflow copies — deleting one key must not make
    the other a false negative (the no-false-negative routing
    contract)."""
    import numpy as np

    from __spider_spark.operators.cuckoo import CuckooFilter

    cf = CuckooFilter(8)
    # find two distinct keys with identical (fingerprint, bucket pair)
    seen: dict[tuple, int] = {}
    pair = None
    for k in range(200000):
        f, i1, i2 = cf._parts(np.array([k], dtype=np.int64))
        sig = (int(f[0]), min(int(i1[0]), int(i2[0])),
               max(int(i1[0]), int(i2[0])))
        if sig in seen and seen[sig] != k:
            pair = (seen[sig], k)
            break
        seen[sig] = k
    assert pair is not None, "no colliding key pair found in search range"
    a, b = pair
    # fill every slot so both keys orphan into overflow
    cf.buckets[:] = np.uint16(0xFFFF)
    cf.add_many(np.array([a, b], dtype=np.int64))
    assert sum(cf.overflow.values()) == 2
    assert cf.delete_many(np.array([a], dtype=np.int64)) == 1
    # the OTHER key's copy must survive the delete
    assert bool(cf.contains_many(np.array([b], dtype=np.int64))[0]), (
        "false negative: deleting key a discarded key b's overflow copy")
