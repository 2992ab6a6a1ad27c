"""BM25 term scoring over a document corpus [SURVEY §2.11 N4
beyond-reference: the standard lexical relevance / keyword-extraction
primitive in training-data curation (quality filtering by query
relevance, dedup of boilerplate, retrieval baselines)].

All-native plan, one tokenize pass:

    explode(tokens) → tf per (doc, term)          [1 shuffle on (doc,term)]
    dl per doc      — re-aggregated FROM tf       [reuses the same frame]
    df per term     — re-aggregated FROM tf       [likewise]
    corpus stats (N, avgdl) — 1-row aggregate, broadcast via crossJoin

At 100 TB the (doc,term) aggregate does map-side partial aggregation
(tf counts combine before the shuffle), the term-df join shuffles the
tf frame once on ``term``, and the per-doc stats join shuffles once on
``doc`` — three exchanges total, each on a different key, none
avoidable for exact BM25. The corpus-stats side is a single row and
never shuffles anything.

Floating-point parity note: every input to the score is an integer
count, so ``tf/df/dl/avgdl`` are exact doubles; the expression tree is
written with explicit parentheses and mirrored token-for-token in the
DuckDB oracle so IEEE evaluation order is identical on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .textops import tokens

K1 = 1.2
B = 0.75
HASH_DIM = 64
ID_COL = "doc_id"  # documents table key


def hashed_doc_vectors(docs: DataFrame) -> DataFrame:
    """Feature-hashing doc vectors as flat (doc, bucket, weight) rows
    [the hashing trick, Weinberger et al. 2009]: each token hashes to
    one of ``HASH_DIM`` buckets (md5-derived, engine-portable), weights are
    L1-normalized counts. No vocabulary, no fit step, no driver state
    — the property that makes it THE text vectorizer at corpus scale
    (a count-vectorizer needs a vocab broadcast that grows with the
    corpus; this needs nothing). Flat rows instead of an array column
    so downstream joins/aggregations stay columnar and the oracle
    compares scalars. Feeds the same similarity machinery as the
    embeddings table (sparse dot product = join on bucket + sum of
    weight products)."""
    tok = docs.select(
        ID_COL, F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 4), 16, 10).cast("long") % HASH_DIM
    )
    counts = tok.groupBy(ID_COL, bucket.alias("bucket")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy(ID_COL)
    return counts.select(
        ID_COL,
        "bucket",
        (
            F.bround(F.col("cnt") / F.sum("cnt").over(w) * 1_000_000.0, 0)
            / 1_000_000.0
        ).alias("weight"),
    )


def term_frequencies(docs: DataFrame) -> DataFrame:
    """(doc, term, tf) from whitespace tokens of lowercased text."""
    tok = docs.select(
        ID_COL, F.explode(tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    return tok.groupBy(ID_COL, "term").agg(F.count("*").alias("tf"))


def bm25_scores(
    docs: DataFrame,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Per-(doc, term) BM25 score: ``idf(term) * saturation(tf, dl)``.

    idf uses the standard +1 smoothing (always positive):
        ln(1 + (N - df + 0.5) / (df + 0.5))

    The tf frame feeds four consumers (dl, df, corpus stats, the final
    join); without materialization Spark re-runs the tokenize+explode+
    aggregate pipeline once PER consumer — four full corpus scans. So
    tf is localCheckpointed once (same trade as the dedup shingle index,
    operators/dedup.doc_shingles): ephemeral lineage truncation so every
    branch reads the narrow (id, term, tf) rows.
    """
    tf = term_frequencies(docs).localCheckpoint(eager=True)
    dl = tf.groupBy(ID_COL).agg(F.sum("tf").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("tot_len")
    )

    scored = (
        tf.join(df_, "term")
        .join(dl, ID_COL)
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("tot_len") / F.col("n_docs"))
    )
    idf = F.ln(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    sat = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return scored.select(
        ID_COL,
        "term",
        "tf",
        "df",
        "dl",
        (idf * sat).alias("score"),
    )
