"""Second-stage (detail-page) extraction — a DIFFERENT schema than the
listing extractor (S6 full form).

Reference analogue: the per-row detail fetch callback parses a cabin/price
table out of the detail response and merges the cheapest cabin back onto
the listing row (/root/reference/spiders/ylSpider06.py:508-510 derives the
detail URL per parsed row; :544-557 is the cabin argmin enrichment).

Here the detail extractor returns ``array<struct<cabin:string,
price:double>>`` (vs the listing extractor's ``struct<text, links>``) via
one Arrow-batched pandas UDF; the argmin itself is done JVM-side by the
caller (plans/detail.py) so only the parse crosses into Python.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .worker import pandas_udf

DETAIL_SCHEMA = ArrayType(StructType([
    StructField("cabin", StringType()),
    StructField("price", DoubleType()),
]))


class _CabinParser(HTMLParser):
    """Collects the <td> cell texts of every <tr class="cabin"> row."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[list[str]] = []
        self._in_row = False
        self._in_cell = False

    def handle_starttag(self, tag, attrs):
        if tag == "tr" and dict(attrs).get("class") == "cabin":
            self._in_row = True
            self.rows.append([])
        elif tag == "td" and self._in_row:
            self._in_cell = True
            self.rows[-1].append("")

    def handle_endtag(self, tag):
        if tag == "tr":
            self._in_row = False
        elif tag == "td":
            self._in_cell = False

    def handle_data(self, data):
        if self._in_cell:
            self.rows[-1][-1] += data


def extract_detail_one(html: bytes | None) -> list[tuple[str, float]] | None:
    """Pure scalar twin (shared with the reference simulator)."""
    if html is None:
        return None
    p = _CabinParser()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    out = []
    for row in p.rows:
        if len(row) < 2:
            continue
        try:
            out.append((row[0].strip(), float(row[1].strip())))
        except ValueError:
            continue
    return out


def cheapest_cabin_one(
    cabins: list[tuple[str, float]] | None,
) -> tuple[str, float] | None:
    """Argmin by (price, cabin) — the tie-break the JVM-side
    ``array_sort(struct(price, cabin))`` applies."""
    if not cabins:
        return None
    price, cabin = min((p, c) for c, p in cabins)
    return cabin, price


@pandas_udf(DETAIL_SCHEMA)
def extract_detail(html: pd.Series) -> pd.Series:
    """Arrow-batched detail parse: html -> [(cabin, price), ...]."""
    return html.map(extract_detail_one, na_action="ignore")
