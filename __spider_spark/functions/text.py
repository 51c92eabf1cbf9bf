"""HTML → text / outlink extraction (vectorized, byte-deterministic).

Reference analogue: the parse callbacks that pull fields out of fetched
bodies (/root/reference/spiders/ctripSpider.py:252-292,
ylSpider06.py:318-395) — per-row Python over ``response.body``. Here the
extractor is a **pure function of the html bytes alone** (no batch context,
no wall clock), which is what makes the BASELINE.json per-row invariant —
byte-identical extracted text per url — hold across Arrow batch boundaries
and across cluster sizes (SURVEY.md §7 hard part (a)).

Extraction contract (documented so the golden ``text`` column of the pages
table can be constructed independently, not by running this code):

  * parse the html with a strict, dependency-free HTML tokenizer
    (stdlib ``html.parser``; deterministic across platforms);
  * consider only character data inside ``<body>``, excluding anything
    inside ``<script>`` or ``<style>`` elements;
  * per character-data chunk: collapse internal whitespace runs to a single
    space and strip; drop chunks that are then empty;
  * join surviving chunks with ``"\n"``.

Link contract: ``links`` are the ``<a href>`` values (unescaped) in document
order, duplicates kept, except ``rel="detail"`` anchors; the first of those
is ``detail_href``, the key of the second-stage fetch (S6), not discovery.

``extract_page_one`` is the one parser; ``extract_page`` is its Arrow-batched
pandas UDF (no per-row Python UDFs), one boundary crossing per page.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_WS_RE = re.compile(r"\s+")


class _PageExtractor(HTMLParser):
    """One-pass text + link extraction: the page is tokenized once for
    both contracts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.links: list[str] = []
        self.detail_href: str | None = None
        self._in_body = False
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            d = dict(attrs)
            href = d.get("href")
            if href:
                if d.get("rel") == "detail":
                    if self.detail_href is None:
                        self.detail_href = unescape(href)
                else:
                    self.links.append(unescape(href))
        if tag == "body":
            self._in_body = True
        elif tag in ("script", "style"):
            self._skip_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag == "body":
            self._in_body = False
        elif tag in ("script", "style") and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._in_body and self._skip_depth == 0:
            s = _WS_RE.sub(" ", data).strip()
            if s:
                self.chunks.append(s)


def extract_page_one(
    html: bytes | None,
) -> tuple[str, list[str], str | None] | None:
    """(text, links, detail_href) of one page, or None for no html."""
    if html is None:
        return None
    p = _PageExtractor()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    return "\n".join(p.chunks), p.links, p.detail_href


@pandas_udf(
    StructType([
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("detail_href", StringType()),
    ])
)
def extract_page(html: pd.Series) -> pd.DataFrame:
    """Fused html→(text, links, detail_href) in one parse (Arrow-batched)."""
    out = html.map(extract_page_one, na_action="ignore")
    return pd.DataFrame(
        {
            "text": out.map(lambda t: t[0], na_action="ignore"),
            "links": out.map(lambda t: t[1], na_action="ignore"),
            "detail_href": out.map(lambda t: t[2], na_action="ignore"),
        }
    )
