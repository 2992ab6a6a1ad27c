"""Time-bucketed (resample) aggregation with dense gap-fill
[SURVEY §2.4 A2-A3, §2.8 T7].

pandas ``resample('W-SUN').sum()`` (PRACTICA3.py:94) has two properties
Spark's ``groupBy(window)`` lacks out of the box:

1. **Label edge**: weeks end on Sunday and are right-labeled — a
   timestamp belongs to the next Sunday on-or-after its calendar date
   (a Sunday belongs to itself, including intraday times; verified
   empirically against pandas 2.2, see tests/test_resample.py).
2. **Density**: empty buckets between the series' min and max label are
   emitted (value 0 after ``.sum().fillna(0)``).

Label: ``date_add(to_date(ts), (8 - dayofweek(ts)) % 7)`` — Spark's
``dayofweek`` is 1=Sunday..7=Saturday, so the offset to the next Sunday
is ``(8 - dow) % 7`` (0 when already Sunday).

Density: ``weekly_dense_resample`` expands each series' sorted weekly
sums to the dense week grid inside one ``groupBy(keys)`` pass;
``densify_days`` left-joins a per-series day spine
``sequence(min_d, max_d, 1 day)``. Either way density is built from the
*aggregated* table (series x buckets, ~3 orders of magnitude smaller
than the fact), never from raw rows.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


_MICROS_PER_DAY = 86_400_000_000
# Bucket-label columns of the weekly and the daily resample.
WEEK_COL = "week"
DAY_COL = "ds"


def wall_date(ts: Column | str, is_instant: bool = False) -> Column:
    """Calendar date of a timestamp, independent of the session timezone.

    Spark 4 reads naive parquet timestamps as TIMESTAMP_NTZ by default,
    where ``to_date`` is already timezone-free. But if the column is an
    instant (TIMESTAMP_LTZ — e.g. NTZ inference disabled, or a true
    instant column), ``to_date`` re-renders in the session timezone and
    silently shifts dates when the session isn't UTC (DuckDB reads the
    same stored values as naive and never shifts). For that case we
    derive the date from the raw epoch micros — pure integer arithmetic
    inside codegen, no tz lookup at 100 TB scan width.
    """
    ts = F.col(ts) if isinstance(ts, str) else ts
    if is_instant:
        days = F.floor(F.unix_micros(ts) / F.lit(_MICROS_PER_DAY))
        return F.date_from_unix_date(days.cast("int"))
    return F.to_date(ts)


def _is_instant(df: DataFrame, ts_col: str) -> bool:
    from pyspark.sql.types import TimestampType

    return isinstance(df.schema[ts_col].dataType, TimestampType)


def week_ending_sunday(ts: Column | str, is_instant: bool = False) -> Column:
    """pandas W-SUN right-closed/right-labeled bucket label, as a DATE."""
    d = wall_date(ts, is_instant)
    return F.date_add(d, (F.lit(8) - F.dayofweek(d)) % 7)


def weekly_resample_sum(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Sparse weekly sum: groupBy(keys, W-SUN label) [A2 without density]."""
    out_col = out_col or value_col
    return (
        df.withColumn(WEEK_COL, week_ending_sunday(ts_col, _is_instant(df, ts_col)))
        .groupBy(*keys, WEEK_COL)
        .agg(F.sum(value_col).alias(out_col))
    )


def weekly_dense_resample(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    min_span_weeks: int | None = None,
    min_total: float | None = None,
) -> DataFrame:
    """pandas ``groupby(keys).resample('W-SUN').sum().fillna(0)``
    [A2: PRACTICA3.py:90-94], distributed.

    Shuffle shape: instead of the textbook bounds-aggregate + spine
    explode + left join (three extra exchanges), each series collects
    its weekly sums into a sorted array in ONE groupBy(keys) pass, then
    expands to the dense week grid. The exploded output preserves
    hashpartitioning(keys), so every downstream
    Window.partitionBy(keys) / groupBy(keys) runs WITHOUT another
    shuffle — the flagship goes from ~7 exchanges to 3. Per-series
    state is bounded by the series' span in weeks (thousands at most),
    safe for executor memory at any corpus size.

    Expansion shape (r12): the per-entry work in the interpreted
    higher-order ``transform`` is O(1) — each sparse entry is tagged
    with the NEXT entry's week — and the dense-row production happens
    in two codegen'd Generates (explode of the tagged entries, then
    explode of each entry's ``sequence(week, next-7)`` gap run). The
    previous formulation built the full dense array per series inside
    the interpreted lambda (struct allocation + concat + flatten per
    dense row): on theta_forecast's post-shuffle stage — where the
    expansion is most of the work — task time dropped 4.09 -> 0.98 s
    at sf0.1 (identical rows, partitioning unchanged).

    Pre-gates (r12, guide §2.3 "aggregate before you shuffle"): the
    reference's admission gates (PRACTICA3.py:97-99) are functions of
    per-series scalars that are computable BEFORE densification —
    dense week count == span/7 + 1 (every week between min and max is
    emitted exactly once) and the dense value sum == the sparse weekly
    sum (gap fills are 0.0; weekly sums of the integral fact are
    exactly representable, the same exactness contract the value-hash
    oracles already rely on). ``min_span_weeks`` / ``min_total`` apply
    those gates on the per-series aggregate, so series that can never
    pass a downstream ``HAVING count(*) >= m AND sum(v) >= t`` are
    dropped before the gap-fill Generate and the downstream window
    sorts ever see them (at sf0.1, 591k (product, store) series enter
    and 8.3k survive — the dense row volume the flagship's winsorize +
    rank windows process drops 1.66M -> 1.06M). Callers MUST keep
    their own gate (it is the semantic, cited one); the pre-gate is a
    lossless candidate bound, exactly like the Apriori item-support
    projection.
    """
    keys = list(keys)
    weekly = weekly_resample_sum(df, keys, ts_col, value_col)
    aggs = [
        F.array_sort(
            F.collect_list(F.struct(F.col(WEEK_COL).alias("w"), F.col(value_col).alias("v")))
        ).alias("_es")
    ]
    if min_span_weeks is not None:
        aggs.append(F.min(WEEK_COL).alias("_w_min"))
        aggs.append(F.max(WEEK_COL).alias("_w_max"))
    if min_total is not None:
        aggs.append(F.sum(value_col).alias("_tot"))
    per_series = weekly.groupBy(*keys).agg(*aggs)
    if min_span_weeks is not None:
        span = (F.datediff("_w_max", "_w_min") / 7).cast("long") + 1
        per_series = per_series.filter(span >= int(min_span_weeks))
    if min_total is not None:
        # round(_tot, 2) >= t, not _tot >= t (r12 ADVICE): some callers'
        # semantic gates compare round(sum, 2) >= t, and for a
        # fractional sum in [t - 0.005, t) the unrounded bound would
        # drop a series the rounded gate admits. round(x, 2) >= t is a
        # superset of BOTH gate styles when t has <= 2 decimals: for
        # rounded gates it is exact, and x >= t implies
        # round(x, 2) >= t (HALF_UP rounding of x >= t can reach at
        # most t from above, never below it).
        per_series = per_series.filter(F.round("_tot", 2) >= float(min_total))
    es = F.col("_es")
    # Tag each entry with the next entry's week (O(1) per entry in the
    # interpreted lambda; try_element_at is null past the end).
    entries = per_series.select(
        *keys,
        F.explode_outer(
            F.transform(
                es,
                lambda e, i: F.struct(
                    e["w"].alias("w"),
                    e["v"].alias("v"),
                    F.try_element_at(es, i + F.lit(2))["w"].alias("nw"),
                ),
            )
        ).alias("_g"),
    )
    # One dense row per week in [w, next_week): the entry's own week
    # carries its value, the gap run carries 0.0. explode_outer (both
    # here and above) keeps InferFiltersFromGenerate from re-evaluating
    # the generator expression in an interpreted pre-filter.
    gap_end = F.coalesce(F.date_sub(F.col("_g.nw"), 7), F.col("_g.w"))
    dense = entries.select(
        *keys,
        F.col("_g.w").alias("_w0"),
        F.col("_g.v").alias("_v0"),
        F.explode_outer(
            F.sequence(F.col("_g.w"), gap_end, F.expr("interval 7 days"))
        ).alias(WEEK_COL),
    )
    return dense.select(
        *keys,
        WEEK_COL,
        F.when(F.col(WEEK_COL) == F.col("_w0"), F.col("_v0"))
        .otherwise(F.lit(0.0))
        .alias(value_col),
    )


def daily_resample_sum(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """pandas ``resample('D', on=ts).agg(sum)`` [A3: limpieza_de_datos.py:23]
    (sparse; pair with ``densify_days`` for pandas density)."""
    return (
        df.withColumn(DAY_COL, wall_date(ts_col, _is_instant(df, ts_col)))
        .groupBy(*keys, DAY_COL)
        .agg(F.sum(value_col).alias(value_col))
    )


def densify_days(daily: DataFrame, keys: Sequence[str]) -> DataFrame:
    keys = list(keys)
    bounds = daily.groupBy(*keys).agg(
        F.min(DAY_COL).alias("_min_d"), F.max(DAY_COL).alias("_max_d")
    )
    # explode_outer: a plain explode makes InferFiltersFromGenerate add
    # a `size(sequence(...)) > 0` pre-filter that materializes every
    # spine array twice per row. Bounds rows always yield min<=max so
    # the outer variant is semantics-identical here.
    spine = bounds.select(
        *keys,
        F.explode_outer(F.sequence("_min_d", "_max_d", F.expr("interval 1 day"))).alias(DAY_COL),
    )
    dense = spine.join(daily, on=[*keys, DAY_COL], how="left")
    return dense.na.fill({"y": 0.0})
