"""Per-group winsorization [SURVEY §2.4 A6, §2.7 M1-M2].

Reference (PRACTICA3.py:103-107): per series, take the *positive*
values; if more than 5 exist, clip the whole series to their exact 1st
and 99th percentiles (pandas linear interpolation).

Spark mapping: exact ``percentile`` (linear-interpolating, matching
pandas/numpy — NOT ``percentile_approx``) computed as a *window*
aggregate over the series partition, so no extra join or shuffle beyond
the partitioning the caller already needs (SURVEY §7.4 trap #3).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def clip(c: Column, lo: Column, hi: Column) -> Column:
    """``np.clip`` [M1: PRACTICA3.py:107]: least(greatest(c, lo), hi)."""
    return F.least(F.greatest(c, lo), hi)


def winsorize_by_group(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = value clipped to the per-group 1st and 99th
    positive-value percentiles; pass-through when the group has <= 5
    positive values (PRACTICA3.py:103-107)."""
    out_col = out_col or f"{value_col}_w"
    w = Window.partitionBy(*keys)
    pos = F.when(F.col(value_col) > 0, F.col(value_col))
    n_pos = F.count(pos).over(w)
    lo = F.percentile(pos, F.lit(0.01)).over(w)
    hi = F.percentile(pos, F.lit(0.99)).over(w)
    clipped = F.when(n_pos > 5, clip(F.col(value_col), lo, hi)).otherwise(
        F.col(value_col)
    )
    return df.withColumn(out_col, clipped)
