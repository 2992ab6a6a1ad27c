"""Text-analysis operators for large-scale training-data pipelines
[SURVEY §2.11 N4]: tokenization, shingling, quality scoring,
language-ID heuristic, document fingerprinting.

Everything is built-in column functions (JVM-side, codegen) — no UDFs.
Tokens/shingles use md5-derived values where hashing is needed so the
DuckDB oracle can reproduce results byte-for-byte.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")
SHINGLE_N = 3  # words per shingle


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(F.trim(_c(text))), r"\s+")


def word_shingles(toks: Column) -> Column:
    """Distinct ``SHINGLE_N``-gram word shingles as space-joined strings."""
    idx = F.sequence(F.lit(1), F.size(toks) - (SHINGLE_N - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(SHINGLE_N)]
        ),
    )
    return F.when(F.size(toks) >= SHINGLE_N, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio(toks: Column) -> Column:
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return F.when(F.length(t) > 0, n_punct / F.length(t)).otherwise(F.lit(0.0))


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercased text [N4; replaces a rolling hash — same dedup power,
    engine-portable]."""
    norm = F.lower(F.trim(F.regexp_replace(_c(text), r"\s+", " ")))
    return F.md5(norm)


def quality_score(text: Column | str, toks: Column) -> Column:
    """Composite quality heuristic in [0, 1]: length saturation +
    stopword balance + punctuation balance (shared by the
    text_quality_scores query and the curation funnel)."""
    n_tokens = F.size(toks).cast("long")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens / F.lit(100.0))
        + F.lit(0.3) * (1 - stopword_ratio(toks))
        + F.lit(0.3) * (1 - punct_ratio(text))
    )


# DuckDB-equivalent fragments ({t} = text column).
TOKENS_SQL = "string_split_regex(lower(trim({t})), '\\s+')"
FINGERPRINT_SQL = "md5(lower(trim(regexp_replace({t}, '\\s+', ' ', 'g'))))"
SHINGLES_SQL = (
    "list_distinct(list_transform(range(1, greatest(len({toks}) - 1, 1)), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
)
