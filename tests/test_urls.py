"""URL canonicalization: RFC 3986 cases + idempotence property (SURVEY §5.1/.5)."""

from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from __spider_spark.functions.urls import canonicalize_one, host_of_one

CASES = [
    # lowercase scheme + host
    ("HTTP://Example.COM/Path", "http://example.com/Path"),
    # default port stripping
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("https://example.com:80/a", "https://example.com:80/a"),
    # empty path
    ("http://example.com", "http://example.com/"),
    # fragment stripped
    ("http://example.com/a#frag", "http://example.com/a"),
    # dot segments
    ("http://example.com/a/./b/../c", "http://example.com/a/c"),
    ("http://example.com/../a", "http://example.com/a"),
    ("http://example.com/a/b/../../../c", "http://example.com/c"),
    # percent-decode unreserved, uppercase the rest
    ("http://example.com/%7euser", "http://example.com/~user"),
    ("http://example.com/%70age", "http://example.com/page"),
    ("http://example.com/a%2fb", "http://example.com/a%2Fb"),
    # query preserved (with percent normalization)
    ("http://example.com/a?x=%41&y=2", "http://example.com/a?x=A&y=2"),
    # scheme-less input
    ("Example.com/x", "http://example.com/x"),
    # whitespace
    ("  http://example.com/a  ", "http://example.com/a"),
]


def test_canonicalize_cases():
    for raw, want in CASES:
        assert canonicalize_one(raw) == want, raw


def test_host_of():
    assert host_of_one("HTTP://WWW.Example.COM:80/x") == "www.example.com"
    assert host_of_one("example.com/x") == "example.com"


@settings(max_examples=200, deadline=None)
@given(
    st.builds(
        lambda scheme, host, path, q: f"{scheme}://{host}/{path}?{q}",
        st.sampled_from(["http", "HTTP", "https"]),
        st.text(alphabet=string.ascii_letters + string.digits + ".-",
                min_size=1, max_size=20).filter(lambda s: not s.startswith("-")),
        st.text(alphabet=string.ascii_letters + string.digits + "/._~%25",
                max_size=30),
        st.text(alphabet=string.ascii_letters + string.digits + "=&%41",
                max_size=20),
    )
)
def test_canonicalize_idempotent(url):
    once = canonicalize_one(url)
    assert canonicalize_one(once) == once


def test_vectorized_matches_scalar(spark):
    from pyspark.sql import functions as F

    from __spider_spark.functions.urls import (
        canonicalize_url,
        resolve_link,
        resolve_one,
        with_url_keys,
    )

    raws = [c[0] for c in CASES]
    df = spark.createDataFrame([(r,) for r in raws], "url string")
    got = [r[0] for r in
           df.select(canonicalize_url(F.col("url"))).collect()]
    assert got == [c[1] for c in CASES]
    keyed = with_url_keys(df)
    rows = keyed.select("url_canonical", "host", "url_hash").collect()
    assert all(r.url_hash is not None for r in rows)
    # same canonical url -> same hash regardless of raw form
    df2 = spark.createDataFrame(
        [("HTTP://A.com:80/x",), ("http://a.com/x",)], "url string")
    h = [r.url_hash for r in with_url_keys(df2).collect()]
    assert h[0] == h[1]
    # resolve_link (absolute-href fast path included) == resolve_one,
    # the scalar reference_sim resolves with
    base = "http://h.test/p/q"
    hrefs = ["http://a.test/x", "https://a.test:443/y", "http:///x",
             "http://", "https:///a/b", "https://", "http://?q",
             " http:///z ", "rel/r", "/abs", "//o.test/s", "#f", None]
    df3 = spark.createDataFrame([(base, x) for x in hrefs],
                                "base string, href string")
    got = [r[0] for r in df3.select(
        resolve_link(F.col("base"), F.col("href"))).collect()]
    assert got == [resolve_one(base, x) for x in hrefs]
    assert got[2:4] == ["http://h.test/x", "http://h.test/p/q"]


def test_resolve_relative_links():
    from __spider_spark.functions.urls import resolve_one

    base = "http://example.com/dir/page"
    assert resolve_one(base, "sub/x") == "http://example.com/dir/sub/x"
    assert resolve_one(base, "/abs/y") == "http://example.com/abs/y"
    assert resolve_one(base, "../up") == "http://example.com/up"
    assert resolve_one(base, "//other.com/z") == "http://other.com/z"
    assert resolve_one(base, "HTTP://Other.COM:80/w") == "http://other.com/w"
    assert resolve_one(base, "#frag") == "http://example.com/dir/page"
    assert resolve_one(base, "?q=1") == "http://example.com/dir/page?q=1"
    assert resolve_one(base, "") is None
    assert resolve_one(None, "x.com/a") == "http://x.com/a"
