"""Document chunking and sentence splitting [SURVEY §2.11 N4
beyond-reference]: the step between curation and the trainer — long
documents become fixed-size overlapping token windows (context-window
packing feeds on these), and sentence units feed dedup/decontamination
at sub-document granularity.

Chunking is pure generator expressions (sequence + explode + slice):
one narrow projection per document, no shuffle at all — the one plan
shape that is trivially linear at 100 TB. Sentence splitting exists
twice: the native split/posexplode path (registered, oracle-checked)
and a Python UDTF with identical semantics (the §2.9 escape hatch for
splitters that need a real NLP library; differential-tested against
the native path, not used in the hot path).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .textops import tokens

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks

SENTENCE_SPLIT_RE = r"[.!?]+"
ID_COL = "doc_id"


def clean_tokens(text: Column | str) -> Column:
    """Whitespace tokens with empty strings dropped (split artifacts
    on leading/multiple separators)."""
    return F.filter(tokens(text), lambda x: x != "")


def chunk_documents(
    docs: DataFrame,
    chunk: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Overlapping token-window chunks per document.

    Chunk k covers tokens [1 + k*stride, 1 + k*stride + chunk - 1].
    A tail chunk is emitted only if it contributes tokens the previous
    chunk did not already cover (start - stride + chunk - 1 < n),
    so no chunk is a strict subset of its predecessor.
    """
    toks = docs.select(
        ID_COL, clean_tokens("text").alias("toks")
    ).withColumn("n", F.size("toks"))
    nz = toks.filter(F.col("n") > 0)
    starts = nz.select(
        ID_COL,
        "toks",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(stride))).alias("s"),
    ).filter((F.col("s") == 1) | (F.col("s") - stride + chunk - 1 < F.col("n")))
    piece = F.slice(F.col("toks"), F.col("s"), chunk)
    return starts.select(
        ID_COL,
        F.floor((F.col("s") - 1) / stride).cast("long").alias("chunk_no"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def split_sentences_native(docs: DataFrame) -> DataFrame:
    """Sentences per document: split on [.!?]+ runs, trim, drop
    empties, re-number densely per document. All built-ins; the
    per-doc numbering is a window over (doc, original position)."""
    from pyspark.sql import Window

    raw = docs.select(
        ID_COL,
        F.posexplode(F.split(F.col("text"), SENTENCE_SPLIT_RE)).alias(
            "pos", "raw"
        ),
    ).withColumn("sentence", F.trim("raw"))
    kept = raw.filter(F.col("sentence") != "")
    w = Window.partitionBy(ID_COL).orderBy("pos")
    return kept.select(
        ID_COL,
        (F.row_number().over(w) - 1).cast("long").alias("sent_no"),
        "sentence",
    )


def make_sentence_udtf():
    """Python UDTF twin of split_sentences_native — the table-function
    form of the §2.9 UDF surface (one input row → many output rows).
    Kept out of registered queries (row-at-a-time Python); use
    split_sentences_native in pipelines and this only when a real
    sentence model replaces the regex."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_no: bigint, sentence: string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            parts = [p.strip(" ") for p in re.split(SENTENCE_SPLIT_RE, text)]
            for i, s in enumerate(p for p in parts if p):
                yield i, s

    return SplitSentences
