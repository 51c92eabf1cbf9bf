"""Text analysis for web-scale training-data pipelines — pure Column builders.

Everything here is JVM-side (pyspark.sql.functions only, whole-stage
codegen-able): token counting, language-ID heuristic, quality scoring,
document fingerprinting. No UDFs — these run in the scan stage at 100 TB.

The token stats (``*_from``) have one form: they take the token array that
:func:`tokens` projects, so a caller tokenizes each document once however
many stats it derives. ``ascii_ratio`` and ``fingerprint`` read the text
itself.

Reference analogue: the crawler extracts strings and does ad-hoc per-row
string math (/root/reference/spiders/ctripSpider.py:269-292); the engine
gives the same family of derivations as reusable declarative expressions
over the ``documents`` relation.

Each builder has an exact ANSI-SQL twin used for the DuckDB oracle
(__spark_entry__.oracle_sql) — keep both sides in sync.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# Deterministic 60-bit hash usable identically in Spark and DuckDB:
#   spark:  conv(substr(md5(x),1,15),16,10) cast long
#   duckdb: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)


def hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}),1,15)) AS BIGINT)"


def tokens(col: Column) -> Column:
    """Whitespace tokens of lower(trim(text)); [] for empty text."""
    t = F.lower(F.trim(col))
    return F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"\s+"))


TOKENS_SQL = (
    "CASE WHEN lower(trim({c})) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(lower(trim({c})), '\\s+') END"
)


# Why one tokenization: a regex split inlined per stat re-tokenizes the doc
# per stat — codegen CSE does not reach across the interpreted higher-order
# lambdas (q20's four stats: 3.7s -> 1.9s at sf1.0 from tokenizing once;
# same discipline as dedup.shingles_from).


def token_count_from(toks: Column) -> Column:
    return F.size(toks)


def stopword_ratio_from(toks: Column) -> Column:
    """Fraction of tokens that are stopwords (0.0 for empty docs)."""
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.when(F.size(toks) == 0, F.lit(0.0)) \
            .otherwise(n_stop / F.size(toks))


def ascii_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII (1.0 for empty text)."""
    n = F.length(col)
    n_ascii = F.length(F.regexp_replace(col, r"[^\x00-\x7F]", ""))
    return F.when(n == 0, F.lit(1.0)).otherwise(n_ascii / n)


def mean_token_len_from(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(toks) == 0, F.lit(0.0)) \
            .otherwise(total.cast("double") / F.size(toks))


def quality_score_from(toks: Column) -> Column:
    """Heuristic [0,1] quality: enough tokens, sane word length, some
    stopwords (the classic Gopher-style gates, simplified + deterministic)."""
    tc = token_count_from(toks).cast("double")
    mwl = mean_token_len_from(toks)
    sr = stopword_ratio_from(toks)
    gate_len = F.when((tc >= 10) & (tc <= 10000), 1.0).otherwise(0.0)
    gate_wl = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.0)
    gate_sw = F.when(sr >= 0.05, 1.0).otherwise(0.0)
    return F.round((gate_len + gate_wl + gate_sw) / F.lit(3.0), 4)


def lang_guess_from(col: Column, toks: Column) -> Column:
    """n-gram-free language heuristic over the text and its tokens: CJK
    chars → zh; Spanish stopword hit → es; else en. (A real pipeline plugs
    fasttext via mapInPandas; the operator shape — pure column expr in the
    scan stage — is the point.)"""
    has_cjk = col.rlike("[一-鿿]")
    has_es = F.arrays_overlap(
        toks, F.array(*[F.lit(w) for w in ("el", "la", "de", "que")])
    )
    return F.when(has_cjk, "zh").when(has_es, "es").otherwise("en")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: 60-bit hash of the
    whitespace-normalized lowercased text (near-dup-tolerant to spacing)."""
    norm = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return hash60(norm)
