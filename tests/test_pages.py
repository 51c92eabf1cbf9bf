"""Pages generator + extractor: byte-identity invariant (BASELINE input_hint).

The reference the extractor is checked against is the generator's golden
row, built by construction (``build_page``), not a second parser."""

from __future__ import annotations

from pyspark.sql import functions as F

from __spider_spark.functions.text import extract_page, extract_page_one
from __spider_spark.functions.urls import canonicalize_one
from __spider_spark.sources.pages import (
    build_page,
    canonical_url,
    detail_href_of,
    generate_pages,
    outlink_ids,
    raw_url,
    seed_urls,
)

N, HOSTS = 300, 10
# stub pages, and the article weight of the extract-bound benchmark
WEIGHTS = (1, 8)


def _golden_rows():
    for w in WEIGHTS:
        for i in range(N):
            yield w, i, build_page(i, N, HOSTS, weight=w)


def test_raw_canonicalizes_to_canonical():
    for i in range(N):
        assert canonicalize_one(raw_url(i, HOSTS)) == canonical_url(i, HOSTS)


def test_extract_text_byte_identical_local():
    """extract_page_one text == golden text, byte-for-byte (utf-8), for
    every page at every weight."""
    for w, i, row in _golden_rows():
        text, _, _ = extract_page_one(row["html"])
        assert text.encode("utf-8") == row["text"].encode("utf-8"), (w, i)


def test_extract_links_match_outlinks():
    """Frontier links are the page's outlinks in document order, and the
    rel="detail" href is kept out of them, for every page at every
    weight."""
    for w, i, row in _golden_rows():
        _, links, detail_href = extract_page_one(row["html"])
        assert links == [raw_url(t, HOSTS) for t in outlink_ids(i, N)], \
            (w, i)
        assert detail_href == detail_href_of(i, HOSTS), (w, i)


def test_generate_pages_distributed(spark):
    df = generate_pages(spark, N, HOSTS).cache()
    assert df.count() == N
    # byte-identity holds through Arrow batches + any partitioning
    bad = df.withColumn("x", extract_page(F.col("html")).text).filter(
        F.col("x") != F.col("text")
    )
    assert bad.count() == 0
    # deterministic: same content regardless of partitioning
    df2 = generate_pages(spark, N, HOSTS).repartition(17)
    assert (
        df.select("url", "text").exceptAll(df2.select("url", "text")).count()
        == 0
    )
    # hot-host skew present (~50% on host0)
    from __spider_spark.functions.urls import url_host

    frac = (
        df.withColumn("h", url_host(F.col("url")))
        .filter(F.col("h") == "host0.test")
        .count()
    ) / N
    assert 0.35 < frac < 0.65
    df.unpersist()


def test_seed_urls_order_stable():
    s1 = seed_urls(N, 25, HOSTS)
    s2 = seed_urls(N, 25, HOSTS)
    assert s1 == s2 and len(s1) == 25
