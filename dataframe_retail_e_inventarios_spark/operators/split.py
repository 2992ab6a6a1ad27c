"""Ordered per-group operations: recency rank, train/test holdout split,
lags [SURVEY §2.5 W1-W5].

The reference's positional ``series[:-4]`` / ``series[-4:]`` split
(PRACTICA3.py:110-111) becomes a ``row_number`` over the series ordered
by time descending: rank <= N -> test (the last N buckets), rank > N ->
train. One window partitioning serves the split, the trailing moving
average, and last-value extraction — a single shuffle on the series key.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window, WindowSpec


def recency_window(keys: Sequence[str], time_col: str) -> WindowSpec:
    return Window.partitionBy(*keys).orderBy(F.col(time_col).desc())


def add_recency_rank(df: DataFrame, keys: Sequence[str], time_col: str) -> DataFrame:
    """``rn`` 1 = most recent bucket [W4: PRACTICA3.py:110-111]."""
    return df.withColumn("rn", F.row_number().over(recency_window(keys, time_col)))


def add_lags(
    df: DataFrame,
    keys: Sequence[str],
    time_col: str,
    value_col: str,
) -> DataFrame:
    """``lag1`` and ``lag7`` features [W2: limpieza_de_datos.py:27-28]."""
    w = Window.partitionBy(*keys).orderBy(time_col)
    return df.withColumns(
        {f"lag{k}": F.lag(value_col, k).over(w) for k in (1, 7)}
    )
