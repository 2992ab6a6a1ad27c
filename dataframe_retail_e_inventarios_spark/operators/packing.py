"""Token-budget sequence packing [SURVEY §2.11 N4 extension].

Pretraining pipelines concatenate documents in a stable order and cut
the token stream into fixed-budget batches; the batch assignment is
floor(prefix_tokens / budget). A naive global-ordered window computes
that prefix sum in ONE task (the single-partition Window trap); this
implementation uses the textbook distributed scan instead:

1. block = id div block_size — a coarse range key;
2. intra-block running sum via a window PARTITIONED by block (parallel);
3. per-block totals (metadata-scale: one row per block) get their own
   exclusive prefix sum — a triangular broadcast join over n_blocks
   rows, not n_docs (operators/prefix.py) — and broadcast back.

At 100 TB the data-sized passes are all partition-parallel; only the
block-offset table (millions of times smaller) is quadratic-in-blocks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .prefix import exclusive_prefix_offsets

ID_COL = "doc_id"


def pack_into_batches(
    docs: DataFrame,
    n_tokens: Column,
    budget: int,
    block_size: int = 1000,
) -> DataFrame:
    """(id, n_tokens, batch_id) with batch_id = floor(tokens-before/budget)
    in ascending id order — documents straddle batch boundaries exactly
    as a concatenate-and-chunk loader would."""
    toks = docs.select(F.col(ID_COL), n_tokens.cast("long").alias("n_tokens"))
    blocked = toks.withColumn("_block", F.floor(F.col(ID_COL) / block_size))
    w_in = (
        Window.partitionBy("_block")
        .orderBy(ID_COL)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = blocked.withColumn("_in_cum", F.sum("n_tokens").over(w_in))
    totals = inner.groupBy("_block").agg(F.sum("n_tokens").alias("_btot"))
    # exclusive prefix sum over one row per block — metadata-scale,
    # via the warning-free triangular join (operators/prefix.py)
    offsets = exclusive_prefix_offsets(totals, "_block", "_btot", "_offset")
    packed = inner.join(F.broadcast(offsets), "_block")
    tokens_before = F.col("_in_cum") + F.col("_offset") - F.col("n_tokens")
    return packed.select(
        ID_COL,
        "n_tokens",
        F.floor(tokens_before / budget).alias("batch_id"),
    )
