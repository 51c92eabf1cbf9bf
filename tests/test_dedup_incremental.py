"""Incremental (per-wave) near-dedup: delta passes against a persisted
band index must accumulate to EXACTLY the full-recompute result, the
index must survive crawl restarts, and mixed-parameter appends must
raise (VERDICT r5 next-round #2)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from __spider_spark.operators.dedup import (
    band_keys,
    delta_near_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dedup_keep,
    ngram_jaccard_pairs,
)

SF_DIR = "/root/testdata/sf0.001"
PARAMS = dict(n_hashes=16, n_bands=8, rows_per_band=2, k=3, threshold=0.5)


def _docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))


def _waves(df, n_waves=3):
    # waves by id residue — deliberately NOT contiguous id ranges, so
    # cross-wave pairs exercise both (old < new) and (new < old) id orders
    return [df.filter(F.col("doc_id") % n_waves == w)
            for w in range(n_waves)]


def test_delta_accumulates_to_full_recompute(spark):
    """Union of per-wave delta pairs == the full-corpus LSH->Jaccard pair
    relation, and the survivors set == near_dedup_keep — on the real
    documents table (which carries genuine near-dups), split 3 ways."""
    docs = _docs(spark)
    full_sig = minhash_signatures(docs, "text", "doc_id",
                                  PARAMS["n_hashes"], PARAMS["k"])
    full_cand = lsh_candidate_pairs(full_sig, PARAMS["n_bands"],
                                    PARAMS["rows_per_band"])
    full_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", PARAMS["k"], PARAMS["threshold"],
            candidates=full_cand).collect()
    }
    assert full_pairs, "fixture lost its near-dups; test is vacuous"

    seen_texts = None
    index_bands = None
    got_pairs = set()
    for wave in _waves(docs):
        texts = wave if seen_texts is None \
            else wave.unionByName(seen_texts)
        wave_bands, new_pairs = delta_near_dedup(
            wave, texts, index_bands, **PARAMS)
        got_pairs |= {(r.doc_a, r.doc_b, r.jaccard)
                      for r in new_pairs.collect()}
        index_bands = wave_bands if index_bands is None \
            else index_bands.unionByName(wave_bands)
        seen_texts = texts
    assert got_pairs == full_pairs

    # survivors: drop the higher id of every pair — equals near_dedup_keep
    losers = {b for _, b, _ in got_pairs}
    survivors = {r.doc_id for r in docs.select("doc_id").collect()} - losers
    keep = {r.doc_id
            for r in near_dedup_keep(docs, "text", "doc_id",
                                     PARAMS["n_hashes"], PARAMS["n_bands"],
                                     PARAMS["rows_per_band"], PARAMS["k"],
                                     PARAMS["threshold"]).collect()}
    assert survivors == keep

    # the accumulated index is byte-identical to a from-scratch band build
    fresh = band_keys(full_sig, PARAMS["n_bands"], PARAMS["rows_per_band"],
                      key_col=index_bands.columns[-1])
    assert (sorted(map(tuple, index_bands.collect()))
            == sorted(map(tuple, fresh.collect())))


def test_delta_param_stamp_mismatch_raises(spark):
    docs = _docs(spark).limit(20)
    bands, _ = delta_near_dedup(docs, docs, None, **PARAMS)
    bad = dict(PARAMS)
    bad["n_bands"], bad["rows_per_band"] = 4, 4
    with pytest.raises(ValueError, match="band index stamped"):
        delta_near_dedup(docs, docs, bands, **bad)


def test_crawl_content_dedup_index_and_restart(spark):
    """content_dedup=True: the band index accumulates per round inside the
    atomic commits, equals a from-scratch build over the final corpus,
    the accumulated pairs equal a full recompute, and a kill-and-resume
    crawl lands on the identical index + pairs."""
    from __spider_spark.plans.crawl import CrawlConfig, run_crawl
    from __spider_spark.sources.lakehouse import Lakehouse
    from __spider_spark.sources.pages import generate_pages
    from __spider_spark.sources.pages import seeds_df as make_seeds

    N, HOSTS, SEEDS, ROUNDS = 400, 12, 30, 4
    cfg = CrawlConfig(default_budget=4, content_dedup=True,
                      use_bloom=False)
    pages = generate_pages(spark, N, HOSTS)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)

    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_cdedup_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)

    corpus = (lake.read(spark, "results")
              .filter(F.col("status") == 200)
              .select(F.col("url_hash").alias("doc_id"), "text"))
    idx = lake.read(spark, "content_bands")
    kcol = idx.columns[-1]
    # index == from-scratch band build over the final corpus
    fresh = band_keys(
        minhash_signatures(corpus, "text", "doc_id", 16, 3), 8, 2,
        key_col=kcol)
    assert (sorted(map(tuple, idx.collect()))
            == sorted(map(tuple, fresh.collect())))
    # accumulated pairs == full recompute over the final corpus
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in lake.read(spark, "content_dups").collect()}
    full_cand = lsh_candidate_pairs(
        minhash_signatures(corpus, "text", "doc_id", 16, 3), 8, 2)
    want = {(r.doc_a, r.doc_b, r.jaccard)
            for r in ngram_jaccard_pairs(corpus, "text", "doc_id", 3, 0.5,
                                         candidates=full_cand).collect()}
    assert got == want

    # kill-and-resume: identical index and pair tables
    lake2 = Lakehouse(tempfile.mkdtemp(prefix="lake_cdedup2_"))
    run_crawl(spark, lake2, pages, seeds, cfg, 2)
    assert lake2.read(spark, "content_bands") is not None  # survived
    run_crawl(spark, lake2, pages, seeds, cfg, ROUNDS)
    assert (sorted(map(tuple, lake2.read(spark, "content_bands").collect()))
            == sorted(map(tuple, idx.collect())))
    got2 = {(r.doc_a, r.doc_b, r.jaccard)
            for r in lake2.read(spark, "content_dups").collect()}
    assert got2 == got
    lake.destroy()
    lake2.destroy()


def test_delta_simhash_accumulates_to_batch(spark):
    """Incremental SimHash pairs: union of per-wave delta pairs == one
    call over all docs with no index (which the q38 oracle proves equal
    to brute-force all-pairs Hamming), and a mixed-parameter index
    raises."""
    from __spider_spark.operators.dedup import delta_simhash_pairs, simhash
    sim = simhash(_docs(spark), "text", "doc_id")
    want = {(r.doc_a, r.doc_b, r.hamming)
            for r in delta_simhash_pairs(sim, None, n_bands=4,
                                         max_hamming=3)[1].collect()}
    assert want, "fixture lost its simhash near-dups; test is vacuous"
    index_bands = None
    got = set()
    for w in range(3):
        wave = sim.filter(F.col("doc_id") % 3 == w)
        bands, pairs = delta_simhash_pairs(wave, index_bands,
                                           n_bands=4, max_hamming=3)
        got |= {(r.doc_a, r.doc_b, r.hamming) for r in pairs.collect()}
        index_bands = bands if index_bands is None \
            else index_bands.unionByName(bands)
    assert got == want
    with pytest.raises(ValueError, match="simhash band index stamped"):
        delta_simhash_pairs(sim, index_bands, n_bands=2, n_bits=60)


def test_crawl_content_components_live_clusters(spark):
    """content_components=True: the live (node, component) table equals
    batch star CC over the accumulated pair log after every crawl, the
    invariant (component = min doc id of the cluster) holds, a config
    without content_dedup raises, and kill-and-resume lands on the
    identical table."""
    from __spider_spark.operators.graph import connected_components_star
    from __spider_spark.plans.crawl import CrawlConfig, run_crawl
    from __spider_spark.sources.lakehouse import Lakehouse
    from __spider_spark.sources.pages import generate_pages
    from __spider_spark.sources.pages import seeds_df as make_seeds

    with pytest.raises(ValueError, match="content_dedup"):
        CrawlConfig(content_components=True)

    N, HOSTS, SEEDS, ROUNDS = 400, 12, 30, 4
    cfg = CrawlConfig(default_budget=4, content_dedup=True,
                      content_components=True, use_bloom=False)
    # the generated pages are hash-random (no near-dups by construction);
    # collapse every page's CONTENT onto one of 8 templates — urls stay
    # unique, html and text are copied together so the byte-identity
    # extraction contract still holds, and the crawl now discovers
    # genuine duplicate clusters wave by wave
    from __spider_spark.sources.pages import PAGES_SCHEMA
    pdf = generate_pages(spark, N, HOSTS).toPandas()
    tmpl = pdf.index % 8
    pdf["html"] = pdf["html"].iloc[tmpl].to_numpy()
    pdf["text"] = pdf["text"].iloc[tmpl].to_numpy()
    pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    seeds = make_seeds(spark, N, SEEDS, HOSTS)

    lake = Lakehouse(tempfile.mkdtemp(prefix="lake_ccomp_"))
    run_crawl(spark, lake, pages, seeds, cfg, ROUNDS)

    pairs = lake.read(spark, "content_dups")
    assert pairs.limit(1).count() > 0, "crawl found no dups; test vacuous"
    want = sorted(
        (r.node, r.component)
        for r in connected_components_star(
            pairs.select(F.col("doc_a").alias("src"),
                         F.col("doc_b").alias("dst"))).collect())
    got = sorted((r.node, r.component)
                 for r in lake.read(spark, "content_components").collect())
    assert got == want
    # invariant: every component label is the min node id of its cluster
    comp_min = {}
    for node, comp in got:
        comp_min[comp] = min(comp_min.get(comp, comp), node, comp)
    assert all(comp == comp_min[comp] for _, comp in got)

    # kill-and-resume: identical live table
    lake2 = Lakehouse(tempfile.mkdtemp(prefix="lake_ccomp2_"))
    run_crawl(spark, lake2, pages, seeds, cfg, 2)
    run_crawl(spark, lake2, pages, seeds, cfg, ROUNDS)
    got2 = sorted((r.node, r.component)
                  for r in lake2.read(spark, "content_components").collect())
    assert got2 == got
    lake.destroy()
    lake2.destroy()
