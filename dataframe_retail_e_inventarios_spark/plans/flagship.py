"""Flagship query: the reference's full per-series pipeline, Spark-first.

Re-expresses ``PRACTICA3.py`` end-to-end (clean -> dense W-SUN weekly
resample -> admission gates -> winsorize -> trailing-4-week moving-
average forecast -> safety-stock / reorder-point / order-qty -> top
reorder recommendations) as ONE lazy DataFrame plan with zero Python
UDFs. The statistical-model ensemble members (Prophet / Holt-Winters,
PRACTICA3.py:114-140) live in operators/forecast_udf.py; with only the
moving-average member present the reference's median-ensemble equals
the MA forecast, which keeps this plan fully SQL-expressible for the
DuckDB oracle.

Scale shape (100 TB posture):
- one wide shuffle on (product_id, store_id, week) doing the heavy
  fact -> weekly reduction with map-side partial aggregation;
- everything after runs on the ~1000x smaller weekly table: one
  shuffle on (product_id, store_id) serves the spine join and exactly
  TWO window passes (recency rank; winsorize percentiles) — the
  moving-average / ensemble / MAPE math happens inside the single
  final per-series aggregate (MAPE over the 4 collected test values
  against the post-aggregate ensemble scalar), not in extra window
  sweeps over the full weekly table;
- top-k via row_number, no global sort of the full result.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.inventory import (
    FORECAST_HORIZON_WEEKS as HORIZON,
    LEAD_TIME_WEEKS,
    MIN_TOTAL_SALES,
    MIN_WEEKS,
    SERVICE_LEVEL_Z,
    inventory_columns,
)
from ..operators.cleaning import clean_sales
from ..operators.resample import weekly_dense_resample
from ..operators.split import add_recency_rank
from ..operators.winsorize import winsorize_by_group
from ..sources.readers import load_table

KEYS = ["product_id", "store_id"]


def series_stats(
    sales: DataFrame,
    keys: list[str] | None = None,
    dense_ranked: DataFrame | None = None,
) -> DataFrame:
    """Per-series scalar stats for the whole reference pipeline
    (PRACTICA3.py:85-175, MA-member ensemble), gates applied.

    Output: keys + n_weeks, total_raw, ens, mape_raw, sigma,
    last_stock, test_vals (the 4 winsorized test actuals, week order).

    ``dense_ranked`` lets a caller that ALSO consumes the winsorized
    ranked weeks (service_level_coverage) pass the frame in once —
    typically materialized — instead of this function re-running the
    resample chain for a second fact scan.
    """
    keys = keys or KEYS
    if dense_ranked is not None:
        dense = dense_ranked
    else:
        # Pre-gate (r12): the HAVING below is the semantic gate
        # (PRACTICA3.py:97-99); the resample-level candidate bound is
        # equivalent by construction (dense count == span, dense sum ==
        # sparse sum) and keeps the 98%+ of series that can never pass
        # it out of the winsorize/rank windows (sf0.1: 591k -> 8.3k
        # series before the gap-fill).
        dense = weekly_dense_resample(
            sales, keys, "invoice_date", "units_sold",
            min_span_weeks=MIN_WEEKS, min_total=MIN_TOTAL_SALES,
        )
        dense = winsorize_by_group(dense, keys, "units_sold", "units_w")
        dense = add_recency_rank(dense, keys, "week")

    rn = F.col("rn")
    t = F.col("units_w")
    is_test = rn <= HORIZON
    per_series = (
        dense.groupBy(*keys)
        .agg(
            F.count("*").alias("n_weeks"),
            F.sum("units_sold").alias("total_raw"),
            # Trailing-4 MA over the train slice; whole-train mean is
            # the reference's len(train)<4 fallback (PRACTICA3.py:144).
            F.avg(F.when((rn > HORIZON) & (rn <= 2 * HORIZON), t)).alias("_ma4"),
            F.avg(F.when(rn > HORIZON, t)).alias("_train_avg"),
            F.coalesce(F.stddev_pop(F.when(rn > HORIZON, t)), F.lit(0.0)).alias("sigma"),
            # train.iloc[-1]: most recent train bucket (PRACTICA3.py:75).
            F.max(F.when(rn == HORIZON + 1, t)).alias("last_stock"),
            # Test actuals sorted by recency rank desc == week order.
            F.array_sort(
                F.collect_list(F.when(is_test, F.struct((-rn).alias("o"), t.alias("v"))))
            ).alias("_test_pairs"),
        )
        .filter(
            (F.col("n_weeks") >= MIN_WEEKS) & (F.col("total_raw") >= MIN_TOTAL_SALES)
        )
    )

    # Ensemble from per-series scalars (single-member median == MA),
    # floored at 0 and upper-capped (PRACTICA3.py:145,150-154).
    ma0 = F.greatest(F.coalesce(F.col("_ma4"), F.col("_train_avg")), F.lit(0.0))
    hist_avg = F.greatest(F.lit(1.0), F.col("_train_avg"))
    with_ens = per_series.withColumn(
        "ens", F.least(ma0, F.greatest(F.lit(10.0) * hist_avg, ma0))
    ).withColumn("test_vals", F.transform("_test_pairs", lambda s: s["v"]))

    # safe_mape of the 4 test actuals vs the constant ensemble
    # (PRACTICA3.py:44-51,157-158) — over the tiny collected array, so
    # no extra pass over the weekly table.
    ens = F.col("ens")
    tv = F.col("test_vals")
    nonzero = F.filter(tv, lambda x: x != 0)
    masked = F.aggregate(nonzero, F.lit(0.0), lambda a, x: a + F.abs((x - ens) / x))
    fallback = F.aggregate(tv, F.lit(0.0), lambda a, x: a + F.abs(x - ens))
    mape_raw = F.when(
        F.size(nonzero) > 0, masked / F.size(nonzero) * 100
    ).otherwise(fallback / F.size(tv))
    return with_ens.withColumn("mape_raw", mape_raw).drop("_ma4", "_train_avg", "_test_pairs")


def flagship(
    spark: SparkSession,
    sf_dir: str,
    top_k: int | None = 100,
    *,
    lineitem: DataFrame | None = None,
) -> DataFrame:
    """``lineitem`` overrides the fact source (same schema as the
    testdata table) — used by the partitioned-layout twin
    (queries_layout.py) to run the identical pipeline over a
    partition-pruned scan."""
    stats = series_stats(clean_sales(
        load_table(spark, sf_dir, "lineitem") if lineitem is None else lineitem
    ))
    inv = inventory_columns(
        sigma=F.col("sigma"),
        avg_forecast=F.col("ens"),  # constant forecast -> mean == value
        last_stock=F.col("last_stock"),
    )
    result = stats.select(
        *KEYS,
        F.col("n_weeks"),
        F.round("total_raw", 2).alias("total_units"),
        F.round("ens", 4).alias("forecast_wk"),
        # Python round() is half-even -> bround (PRACTICA3.py:168).
        F.bround("mape_raw", 3).alias("mape"),
        inv["Safety_Stock"].alias("safety_stock"),
        inv["Reorder_Point"].alias("reorder_point"),
        inv["Qty_to_Order"].alias("qty_to_order"),
        (inv["Qty_to_Order"] > 0).alias("need_reorder"),
    )

    # Global top-k via orderBy().limit(): Spark compiles this to
    # TakeOrderedAndProject — each task computes a partial top-k and the
    # driver merges k-sized heaps — instead of a single-partition Window
    # that would funnel every surviving series through one task.
    # top_k=None means "all series" and skips the global sort entirely
    # (TakeOrderedAndProject allocates a k-sized heap per task, so a
    # huge k must not be used as an unlimited stand-in).
    if top_k is None:
        return result
    return result.orderBy(
        F.col("qty_to_order").desc(), F.col("product_id"), F.col("store_id")
    ).limit(top_k)


# ---------------------------------------------------------------------------
# DuckDB oracle. Shared CTE prefix is reused by other per-operator
# oracles (see plans/oracle_fragments.py).
# ---------------------------------------------------------------------------

def flagship_stats_ctes() -> str:
    """The oracle chain through per-series inventory stats (sales →
    dense → winsorized/ranked → ens → per_series → inv) — shared by
    the flagship oracle and downstream validation oracles
    (service_level_coverage)."""
    from .oracle_fragments import DENSE_SERIES_CTES

    return f"""{DENSE_SERIES_CTES},
scored AS (
  SELECT *,
    coalesce(
      avg(CASE WHEN rn > 4 AND rn <= 8 THEN units_w END) OVER ps,
      avg(CASE WHEN rn > 4 THEN units_w END) OVER ps) AS ma_val,
    greatest(1.0, avg(CASE WHEN rn > 4 THEN units_w END) OVER ps) AS hist_avg
  FROM ranked
  WINDOW ps AS (PARTITION BY product_id, store_id)
),
ens_t AS (
  SELECT *,
    least(greatest(ma_val, 0.0),
          greatest(10.0 * hist_avg, greatest(ma_val, 0.0))) AS ens
  FROM scored
),
per_series AS (
  SELECT product_id, store_id,
    count(*) AS n_weeks,
    sum(units_sold) AS total_units_raw,
    max(ens) AS ens,
    coalesce(
      avg(CASE WHEN rn <= 4 AND units_w != 0
               THEN abs((units_w - ens) / units_w) END) * 100,
      avg(CASE WHEN rn <= 4 THEN abs(units_w - ens) END)) AS mape_raw,
    coalesce(stddev_pop(CASE WHEN rn > 4 THEN units_w END), 0.0) AS sigma,
    max(CASE WHEN rn = 5 THEN units_w END) AS last_stock
  FROM ens_t
  GROUP BY 1, 2
  HAVING count(*) >= 12 AND sum(units_sold) >= 10
),
inv AS (
  SELECT product_id, store_id, n_weeks, total_units_raw, ens, mape_raw,
    {SERVICE_LEVEL_Z} * sigma * sqrt({LEAD_TIME_WEEKS}) AS ss,
    ens * {LEAD_TIME_WEEKS} + {SERVICE_LEVEL_Z} * sigma * sqrt({LEAD_TIME_WEEKS}) AS rop,
    last_stock
  FROM per_series
)"""


def flagship_oracle(top_k: int = 100) -> str:
    return f"""
WITH {flagship_stats_ctes()},
final AS (
  SELECT product_id, store_id,
    n_weeks,
    round(total_units_raw, 2) AS total_units,
    round(ens, 4) AS forecast_wk,
    round_even(mape_raw, 3) AS mape,
    CAST(round_even(greatest(0.0, ss), 0) AS BIGINT) AS safety_stock,
    CAST(round_even(greatest(0.0, rop), 0) AS BIGINT) AS reorder_point,
    CAST(round_even(greatest(0.0, greatest(0.0, rop - last_stock)), 0) AS BIGINT) AS qty_to_order,
    CAST(round_even(greatest(0.0, greatest(0.0, rop - last_stock)), 0) AS BIGINT) > 0 AS need_reorder
  FROM inv
)
SELECT product_id, store_id, n_weeks, total_units, forecast_wk, mape,
       safety_stock, reorder_point, qty_to_order, need_reorder
FROM (
  SELECT *, row_number() OVER (
    ORDER BY qty_to_order DESC, product_id, store_id) AS rk
  FROM final
) WHERE rk <= {top_k}
"""
