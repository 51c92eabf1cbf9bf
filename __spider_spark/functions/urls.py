"""URL canonicalization + hashing (frontier key discipline).

The reference canonicalizes crawl keys ad-hoc (city-code fixups repeated in
three spiders: /root/reference/spiders/ctripSpider.py:141-146,
ylSpider06.py:216-221, ctripSpider02.py:147-152; airport aliasing map
ctripSpider.py:56-70) and quotes/unquotes URLs per-row
(ylSpider06.py:185,251). Our engine replaces that with one RFC 3986
canonicalizer applied exactly once at frontier-insert time, so every
downstream operator (seen-set anti-join, politeness grouping, partitioning)
keys on a stable 64-bit ``xxhash64(url_canonical)``.

Canonicalization rules (RFC 3986 §6):
  * strip surrounding whitespace and the fragment
  * lowercase scheme and host; default scheme ``http`` if missing but
    host-shaped; strip default ports (http:80, https:443)
  * remove dot-segments from the path (§5.2.4); empty path -> "/"
  * percent-decode unreserved characters; uppercase remaining %XX
  * collapse ``www.`` is NOT done (changes identity); host aliasing is a
    separate broadcast-dim operator (operators/aliases.py analogue of the
    reference's two-airport map).

The canonicalizer is a pure function of the input string -> idempotent
(property-tested), exposed as an Arrow-batched pandas UDF (input_hint:
no per-row Python UDFs).
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _normalize_percent(s: str) -> str:
    """Decode %XX for unreserved chars, uppercase the hex of the rest."""

    def repl(m: re.Match[str]) -> str:
        ch = chr(int(m.group(1), 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + m.group(1).upper()

    return _PCT_RE.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if out:
                out.pop()
        elif buf == "/..":
            buf = "/"
            if out:
                out.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            i = buf.find("/", 1) if buf.startswith("/") else buf.find("/")
            if i == -1:
                out.append(buf)
                buf = ""
            else:
                out.append(buf[:i])
                buf = buf[i:]
    return "".join(out)


def canonicalize_one(url: str | None) -> str | None:
    """Canonicalize a single URL string. Pure; idempotent; never raises."""
    if url is None:
        return None
    u = url.strip()
    if not u:
        return ""
    if "://" not in u:
        u = "http://" + u
    try:
        parts = urlsplit(u)
    except ValueError:
        return u  # unparseable: pass through verbatim (quarantined later)
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    host = _normalize_percent(host)
    port = None
    try:
        port = parts.port
    except ValueError:
        port = None
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = _normalize_percent(_remove_dot_segments(parts.path))
    if not path:
        path = "/"
    query = _normalize_percent(parts.query)
    return urlunsplit((scheme, netloc, path, query, ""))


def host_of_one(url: str | None) -> str | None:
    """Lowercased host of a URL (assumes canonical or raw; tolerant)."""
    if url is None:
        return None
    u = url.strip()
    if "://" not in u:
        u = "http://" + u
    try:
        return (urlsplit(u).hostname or "").lower()
    except ValueError:
        return ""


_FETCHABLE_SCHEMES = ("http", "https")


def resolve_one(base: str | None, link: str | None) -> str | None:
    """RFC 3986 §5 reference resolution + canonicalization: how a crawler
    turns an href (possibly relative, scheme-relative, or fragment-only)
    found on ``base`` into a frontier key. Pure; never raises.

    Non-fetchable schemes (mailto:, javascript:, tel:, data:, ...) return
    None — canonicalize_one's http:// default is for host-shaped *seed*
    input only, and must not fabricate fetchable URLs out of hrefs."""
    if link is None:
        return None
    link = link.strip()
    if not link:
        return None
    if base:
        try:
            link = urljoin(base, link)
        except ValueError:
            pass
    try:
        scheme = urlsplit(link).scheme.lower()
    except ValueError:
        return None
    if scheme and scheme not in _FETCHABLE_SCHEMES:
        return None
    return canonicalize_one(link)


# Bounded memoization of the pure per-string functions (guide §4.5:
# heavyweight per-task state amortized across batches; python workers are
# reused, so the cache also carries across tasks in one worker process).
# Crawl inputs repeat heavily — a page's outlink target is linked by many
# parents and re-listed across rounds — so the urlsplit/percent-decode
# work runs once per distinct string instead of once per row. Pure
# function of the input string; no query results are cached.
@lru_cache(maxsize=1 << 17)
def _canonicalize_cached(url: str | None) -> str | None:
    return canonicalize_one(url)


@lru_cache(maxsize=1 << 17)
def _host_cached(url: str | None) -> str | None:
    return host_of_one(url)


@pandas_udf(StringType())
def canonicalize_url(urls: pd.Series) -> pd.Series:
    """Vectorized RFC 3986 canonicalization (Arrow-batched). Distinct
    values computed once per batch (the map dict), once per worker for
    repeats across batches (the lru layer)."""
    uniq = urls.dropna().unique()
    return urls.map({u: _canonicalize_cached(u) for u in uniq})


@pandas_udf(StringType())
def resolve_link(base: pd.Series, link: pd.Series) -> pd.Series:
    """Vectorized href resolution against the parent URL (Arrow-batched).
    Absolute http(s) hrefs — the overwhelmingly common case in discovered
    link streams — do not depend on the base at all: RFC 3986 §5.2.2
    takes the reference verbatim when it carries a scheme and an
    authority, so the cached single-string canonicalizer serves them and
    the per-pair urljoin+split path only runs for the rest. An empty
    authority (``http:///x``, ``http://``) is NOT verbatim: urljoin fills
    it from a same-scheme base, so those take resolve_one too."""
    out = []
    for b, x in zip(base, link):
        if x is not None:
            xs = x.strip()
            if (xs.startswith(("http://", "https://"))
                    and xs.split("://", 1)[1][:1] not in ("", "/", "?", "#")):
                out.append(_canonicalize_cached(xs))
                continue
        out.append(resolve_one(b, x))
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def url_host(urls: pd.Series) -> pd.Series:
    """Vectorized host extraction (Arrow-batched; per-batch distinct map
    + per-worker lru, as canonicalize_url)."""
    uniq = urls.dropna().unique()
    return urls.map({u: _host_cached(u) for u in uniq})


def url_hash_col(col):
    """64-bit frontier key: JVM-side xxhash64 over the canonical URL.

    Stays inside whole-stage codegen — never a Python UDF (SURVEY.md §2.8:
    the reference's implicit sha1 request fingerprint becomes xxhash64).
    """
    return F.xxhash64(col)


def with_url_keys(df, url_col: str = "url"):
    """Attach (url_canonical, host, url_hash) — the standard key triple."""
    return (
        df.withColumn("url_canonical", canonicalize_url(F.col(url_col)))
        .withColumn("host", url_host(F.col("url_canonical")))
        .withColumn("url_hash", url_hash_col(F.col("url_canonical")))
    )
