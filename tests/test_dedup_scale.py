"""Scale-shape gates for the near-dedup verify stage (VERDICT r1 #2).

At 100 TB the exact-Jaccard verify must be candidate-restricted: a
boilerplate shingle shared by half the corpus must not fan out into a
quadratic pair count before the LSH candidate list can prune. These tests
pin (a) the plan shape — the verify join is DRIVEN from the candidate
list, no post-aggregation semi-join; (b) the blast radius — the verify
output is bounded by |candidates| even under a 50%-hot shingle; and
(c) value parity — the restricted path scores exactly what the all-pairs
path scores on the surviving pairs.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from __spider_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    near_dedup_keep,
    ngram_jaccard_pairs,
    spread_small_input,
)


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def hot_corpus(spark):
    """200 docs; every even doc shares one boilerplate shingle ('subscribe
    to our newsletter today') but is otherwise unique — the classic web
    footer. Near-dup pairs exist only among docs 0..9 (clones)."""
    boiler = "subscribe to our newsletter today"
    rows = []
    for i in range(200):
        if i < 10:
            body = "identical clone body shared by the first ten documents"
        else:
            body = " ".join(f"w{i}x{j}" for j in range(30))
        text = f"{body} {boiler}" if i % 2 == 0 else body
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_verify_join_driven_from_candidates(spark, hot_corpus):
    """Plan shape: with candidates supplied there is no post-agg LeftSemi —
    the shingle⋈shingle intersection only exists on the all-pairs path."""
    sig = minhash_signatures(hot_corpus, "text", "doc_id", n_hashes=16)
    cand = lsh_candidate_pairs(sig, n_bands=8, rows_per_band=2)
    verified = ngram_jaccard_pairs(hot_corpus, "text", "doc_id",
                                   threshold=0.5, candidates=cand)
    plan = _plan(verified)
    assert "LeftSemi" not in plan, (
        "candidate restriction regressed to a post-aggregation semi-join")


def test_hot_shingle_bounded_by_candidates(spark, hot_corpus):
    """Blast radius: 100 docs co-share the boilerplate shingle (≈5k
    co-shingling pairs), but the verify output must stay within the LSH
    candidate count."""
    sig = minhash_signatures(hot_corpus, "text", "doc_id", n_hashes=16)
    cand = lsh_candidate_pairs(sig, n_bands=8, rows_per_band=2)
    n_cand = cand.count()
    verified = ngram_jaccard_pairs(hot_corpus, "text", "doc_id",
                                   threshold=0.0, candidates=cand)
    n_verified = verified.count()
    assert n_verified <= n_cand
    # the hot shingle alone co-shingles C(100,2)=4950 pairs; candidates
    # must be far below that for the restriction to mean anything here
    assert n_cand < 1000


def test_candidate_path_matches_allpairs_scores(spark, hot_corpus):
    """Value parity: for every candidate pair the restricted path computes
    the same jaccard as the exact all-pairs path."""
    sig = minhash_signatures(hot_corpus, "text", "doc_id", n_hashes=16)
    cand = lsh_candidate_pairs(sig, n_bands=8, rows_per_band=2)
    restricted = ngram_jaccard_pairs(hot_corpus, "text", "doc_id",
                                     threshold=0.3, candidates=cand)
    allpairs = ngram_jaccard_pairs(hot_corpus, "text", "doc_id",
                                   threshold=0.3, candidates=None)
    allpairs_on_cand = allpairs.join(cand, ["doc_a", "doc_b"], "left_semi")
    got = {tuple(r) for r in restricted.collect()}
    want = {tuple(r) for r in allpairs_on_cand.collect()}
    assert got == want and len(got) > 0


def test_near_dedup_keeps_min_id_under_boilerplate(spark, hot_corpus):
    """End-to-end: only the clone group (docs 0..9) collapses; the 190
    boilerplate-sharing-but-unique docs all survive."""
    survivors = {
        r["doc_id"]
        for r in near_dedup_keep(hot_corpus, "text", "doc_id",
                                 n_hashes=16, n_bands=8, rows_per_band=2,
                                 threshold=0.5).collect()
    }
    assert 0 in survivors
    # clones 1..9 deduped away (9 losers); everything else survives
    assert survivors == {0} | set(range(10, 200))


def test_band_join_reuses_its_exchange(spark, hot_corpus):
    """Every pair finder's band self-join is merge-hinted, so its two
    sides plan one exchange and ReusedExchange computes the upstream
    chain once — with and without a persisted index on the other side."""
    from __spider_spark.operators.dedup import (
        delta_near_dedup,
        delta_simhash_pairs,
        simhash,
    )
    old = hot_corpus.filter(F.col("doc_id") % 2 == 0)
    new = hot_corpus.filter(F.col("doc_id") % 2 == 1)
    sim = simhash(hot_corpus, "text", "doc_id")
    old_sim = sim.filter(F.col("doc_id") % 2 == 0)
    new_sim = sim.filter(F.col("doc_id") % 2 == 1)
    sig = minhash_signatures(hot_corpus, "text", "doc_id", n_hashes=16)
    cases = {
        "lsh_candidate_pairs": lsh_candidate_pairs(sig, 8, 2),
        "delta_near_dedup(None)":
            delta_near_dedup(hot_corpus, hot_corpus, None)[1],
        "delta_near_dedup(index)": delta_near_dedup(
            new, hot_corpus, delta_near_dedup(old, old, None)[0])[1],
        "delta_simhash_pairs(None)": delta_simhash_pairs(sim, None)[1],
        "delta_simhash_pairs(index)": delta_simhash_pairs(
            new_sim, delta_simhash_pairs(old_sim, None)[0])[1],
    }
    # the reused exchange must be the band shuffle itself: the upstream
    # groupBy(doc_id) exchange is reused even when the join forks the chain
    band_reuse = re.compile(r"ReusedExchange .*hashpartitioning\(band#")
    unreused = []
    for name, df in cases.items():
        df.collect()  # inspect the plan that ran, not the initial one
        if not band_reuse.search(
                df._jdf.queryExecution().executedPlan().toString()):
            unreused.append(name)
    assert not unreused, f"band self-join not reused in {unreused}"


def test_simhash_pairs_hand_case(spark):
    """Crafted simhashes: hamming 1 and 3 qualify (including a pair whose
    3 flipped bits land in 3 DIFFERENT bands — only the 4th band is
    intact, the exact case band pruning must still catch); hamming 4+
    is excluded."""
    from __spider_spark.operators.dedup import delta_simhash_pairs
    rows = [
        (0, 0),
        (1, 1),                               # ham(0,1)=1
        (2, (1 << 0) | (1 << 15) | (1 << 30)),  # ham(0,2)=3, 3 bands hit
        (3, 0b1111),                          # ham(0,3)=4 -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in delta_simhash_pairs(df, None, n_bands=4,
                                        max_hamming=3)[1].collect()}
    assert got[(0, 1)] == 1
    assert got[(0, 2)] == 3
    assert got[(1, 2)] == 2   # differs in bits 0? no: 1 vs (1|1<<15|1<<30)
    assert (0, 3) not in got
    # indivisible band split refuses loudly
    import pytest as _p
    with _p.raises(ValueError, match="divisible"):
        delta_simhash_pairs(df, None, n_bands=7)


def test_simhash_pairs_lossless_vs_bruteforce(spark, sf_dir):
    """The pigeonhole claim, checked end-to-end on real docs: banded
    candidates + Hamming verify == brute-force all-pairs Hamming."""
    from __spider_spark.operators.dedup import delta_simhash_pairs, simhash
    sim = simhash(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", "doc_id"
    ).cache()
    got = {tuple(r) for r in
           delta_simhash_pairs(sim, None, n_bands=4,
                               max_hamming=3)[1].collect()}
    a, b = sim.alias("a"), sim.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = (a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     ham.cast("int").alias("hamming"))
             .filter(F.col("hamming") <= 3))
    want = {tuple(r) for r in brute.collect()}
    sim.unpersist()
    assert got == want and len(got) > 0


def test_lsh_band_join_skew_split(spark):
    """VERDICT r3 #5: the MinHash band self-join under boilerplate skew
    must be split by AQE (the one join most exposed to a hot band key) —
    the same pin the hot-host fetch join already has.

    Fixture notes: 500 docs collide in band 0 (identical first 4 sig
    rows — the boilerplate band) and are unique elsewhere; 200 background
    docs never collide. Skew detection reads COMPRESSED shuffle block
    sizes, so the hot rows must carry entropy — hash-spread doc_ids make
    the hot partition incompressible past the scaled 2KB threshold
    (repeating-text clones lz4'd below any threshold and only ever
    coalesced). The plan is inspected after ``collect()`` on the SAME
    DataFrame — a ``count()`` builds its own QueryExecution and the
    inspected plan would never have executed."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # skew is relative to the MEDIAN partition: at the test session's
        # 8 shuffle partitions the background rows fatten every partition
        # and the hot one no longer clears the 2x factor
        "spark.sql.shuffle.partitions": "32",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        m61 = (1 << 61) - 1
        rows = []
        for i in range(500):
            did = (i * 2654435761) % m61
            rows.append((did, [7, 11, 13, 17]
                         + [(did + j) % 2000000011 for j in range(12)]))
        for i in range(200):
            did = (10**15 + i * 7919) % m61
            rows.append((did, [(did * 31 + j) % 2000000011
                               for j in range(16)]))
        sig_df = spark.createDataFrame(rows, "doc_id long, sig array<bigint>")
        cand = lsh_candidate_pairs(sig_df, n_bands=4, rows_per_band=4)
        # the hot band alone yields C(500,2) pairs
        assert len(cand.collect()) == 500 * 499 // 2
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spread_small_input(spark, tmp_path):
    """A one-file parquet input (one row group, one scan task) is spread
    over every core; an input that already has at least half that many
    partitions comes back as the same object."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    assert spread_small_input(one).rdd.getNumPartitions() == target
    wide = spark.range(0, 1000, numPartitions=max(2, target // 2))
    assert spread_small_input(wide) is wide
