"""Repetition / boilerplate metrics for corpus quality filtering
[SURVEY §2.11 N4 extension; Gopher-style repetition rules].

A training-data pipeline drops documents dominated by repeated
content. The standard signals (Rae et al. 2021, "Scaling Language
Models", Appendix A1.1) are the duplicated-token fraction, the
fraction of the document covered by its single most frequent bigram,
and the adjacent-duplicate rate.

Shape: ONE tokenize pass, ONE Generate, two narrow map-side-combined
shuffles. Tokens and bigrams are tagged and exploded together, so
every per-doc statistic (counts, distincts, mode, adjacency) falls
out of a two-level aggregate over (doc, kind, value) — all
whole-stage codegen. The tempting alternative — ride per-doc array
expressions (size/array_distinct/position-filter) through the bigram
explode — is WRONG at scale: Catalyst places those projections above
the Generate, re-evaluating them once per exploded row, which is
O(doc_len^2) work per document (measured 8x on 500 short docs; fatal
on a 100k-token document).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .textops import tokens

# Gopher A1.1 uses 0.2 for duplicate-2-gram coverage.
TOP_BIGRAM_FRAC_FLAG = 0.2

_KIND_TOKEN = 0
_KIND_BIGRAM = 1
ID_COL = "doc_id"


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, dup_token_frac, top_bigram_frac, adj_dup_frac,
    flag_repetitive).

    dup_token_frac   = 1 - distinct(tokens) / tokens
    top_bigram_frac  = count(most frequent bigram) / (n_tokens - 1)
    adj_dup_frac     = positions where tok[i] == tok[i+1], / (n_tokens - 1)

    Documents with < 2 tokens survive with all fractions 0 (the
    explode is explode_outer, so their null row keeps the doc_id
    alive through both aggregates; tokens contain no whitespace, so
    a bigram's two halves are recoverable by splitting on the join
    space — that is what the adjacency test uses).
    """
    toked = docs.select(F.col(ID_COL), tokens("text").alias("toks"))
    # `toks` is a materialized named column, so the lambdas below
    # reference it instead of re-inlining the regex split (CSE trap).
    tagged_tokens = F.transform(
        F.col("toks"),
        lambda t: F.struct(F.lit(_KIND_TOKEN).alias("kind"), t.alias("val")),
    )
    tagged_bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.lit(_KIND_BIGRAM).alias("kind"),
                F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                ).alias("val"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<kind:int,val:string>>"))
    ex = toked.select(
        F.col(ID_COL),
        # explode_outer: a plain explode would infer a size()>0
        # pre-filter re-evaluating the tokenize pipeline per row
        # outside codegen (InferFiltersFromGenerate trap).
        F.explode_outer(F.concat(tagged_tokens, tagged_bigrams)).alias("e"),
    ).select(F.col(ID_COL), F.col("e.kind").alias("kind"), F.col("e.val").alias("val"))
    per_val = ex.groupBy(ID_COL, "kind", "val").agg(F.count("val").alias("cnt"))
    is_tok = F.col("kind") == _KIND_TOKEN
    is_bg = F.col("kind") == _KIND_BIGRAM
    halves = F.split(F.col("val"), " ")
    adj = is_bg & (
        F.try_element_at(halves, F.lit(1)) == F.try_element_at(halves, F.lit(2))
    )
    stats = per_val.groupBy(ID_COL).agg(
        F.sum(F.when(is_tok, F.col("cnt")).otherwise(F.lit(0))).alias("n_tokens"),
        F.sum(is_tok.cast("long")).alias("n_distinct"),
        F.sum(F.when(is_bg, F.col("cnt")).otherwise(F.lit(0))).alias("n_bigrams"),
        F.coalesce(F.max(F.when(is_bg, F.col("cnt"))), F.lit(0)).alias("top_cnt"),
        F.sum(F.when(adj, F.col("cnt")).otherwise(F.lit(0))).alias("n_adj"),
    )
    nb = F.col("n_bigrams")
    top_frac = F.when(nb > 0, F.col("top_cnt") / nb).otherwise(F.lit(0.0))
    return stats.select(
        F.col(ID_COL),
        F.col("n_tokens"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                1 - F.col("n_distinct") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_token_frac"),
        F.round(top_frac, 4).alias("top_bigram_frac"),
        F.round(
            F.when(nb > 0, F.col("n_adj") / nb).otherwise(F.lit(0.0)), 4
        ).alias("adj_dup_frac"),
        (top_frac > TOP_BIGRAM_FRAC_FLAG).alias("flag_repetitive"),
    )
