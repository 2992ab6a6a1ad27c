"""Incremental materialized-rollup maintenance [SURVEY parity-plus;
the reference recomputes every aggregate from scratch per run
(PRACTICA3.py full-refresh flow) — at 100 TB a nightly rollup must
fold ONLY the new partition into the standing aggregate].

The contract: a rollup over associative partial states (count, sum,
min, max — avg derives as sum/count at read time) folded batch-by-batch
is bit-identical to the one-shot aggregate over the union of the
batches. BIGINT partials make the fold exact under any batch split, so
the maintenance schedule (hourly/daily/weekly) cannot change results —
the property tests/test_incremental.py pins with random splits.

Scale posture: `fold_rollup` shuffles `delta` (the new data) plus the
EXISTING rollup keyed rows — O(delta + touched keys), never O(history
fact rows). The standing rollup is itself key-cardinality-sized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def rollup_partials(fact: DataFrame, keys: tuple[str, ...], qty_col: str) -> DataFrame:
    """Aggregate a fact slice into per-key partial states."""
    q = F.col(qty_col).cast("long")
    return fact.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum(q).alias("sum_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )


def fold_rollup(existing: DataFrame, delta_partials: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Fold a delta's partials into the standing rollup. Union + one
    re-aggregate on the keys: Catalyst plans a single hash exchange
    over (existing-keys + delta-keys) rows — both inputs are already
    key-grain, so the shuffle is rollup-sized, not fact-sized."""
    return existing.unionByName(delta_partials).groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_qty").alias("sum_qty"),
        F.min("min_qty").alias("min_qty"),
        F.max("max_qty").alias("max_qty"),
    )


def finalize_rollup(rollup: DataFrame) -> DataFrame:
    """Read-time derivation of non-associative measures from the
    partial states (mean here; any sum/count-expressible measure)."""
    return rollup.select(
        "*",
        F.round(F.col("sum_qty") / F.col("n_rows"), 6).alias("avg_qty"),
    )
