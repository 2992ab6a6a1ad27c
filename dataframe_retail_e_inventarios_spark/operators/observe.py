"""In-flight pipeline metrics via the Observation API [SURVEY §4.2
beyond-reference]: data-quality circuit breakers that cost nothing
extra — ``df.observe`` attaches aggregate expressions to the running
plan, so row counts / null rates / bounds are collected DURING the
action instead of re-scanning afterward (a second count() over 100 TB
to check a null rate doubles the job).

Pattern: observe → run the action → assert the metrics; on violation,
fail the pipeline run before bad data reaches the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
import pyspark.sql.functions as F


def observe_quality(df: DataFrame, value_col: str) -> tuple[DataFrame, Observation]:
    """Attach standard quality metrics on ``value_col``: row count,
    null count, negative count, min/max. Returns (df, observation);
    read ``observation.get`` AFTER an action has run the plan."""
    obs = Observation("quality")
    c = F.col(value_col)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c.isNull().cast("long")).alias("n_null"),
        F.sum((c < 0).cast("long")).alias("n_negative"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
    )
    return observed, obs


def assert_quality(
    metrics: dict,
    max_null_frac: float = 0.0,
    allow_negative: bool = False,
) -> None:
    """Circuit breaker on observed metrics — raises ValueError with
    the offending numbers (the message a pipeline operator pages on)."""
    n = metrics["n_rows"] or 0
    if n == 0:
        raise ValueError("quality gate: 0 rows reached the sink")
    null_frac = (metrics["n_null"] or 0) / n
    if null_frac > max_null_frac:
        raise ValueError(
            f"quality gate: null fraction {null_frac:.4f} > {max_null_frac}"
        )
    if not allow_negative and (metrics["n_negative"] or 0) > 0:
        raise ValueError(
            f"quality gate: {metrics['n_negative']} negative values"
        )
