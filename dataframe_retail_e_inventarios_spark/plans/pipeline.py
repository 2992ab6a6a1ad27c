"""User-facing pipeline API: the reference's three entry points as
library calls [SURVEY §3].

A user of the reference runs::

    python PRACTICA3.py     # ventas.csv -> forecast_resultados.csv
    python generador.py     # -> report

The equivalents here::

    sales   = load_ventas(spark, "ventas.csv")             # S1 + P1-P5
    results = forecast_inventory(sales)                    # native plan
    results = forecast_inventory(sales, use_models=True)   # + model UDFs
    write_results_csv(results, out)                        # S4 (arrays stringified)
    report  = build_report(read_results_csv(spark, out))   # generador chain

The native path emits the reference's exact output schema (SKU, Store,
MAPE, Forecast, Test, Safety_Stock, Reorder_Point, Qty_to_Order) with
Forecast/Test as real arrays (Parquet-native; stringified only in the
CSV sink, matching pandas to_csv).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.inventory import inventory_columns
from ..operators.cleaning import clean_sales
from ..operators.resample import weekly_dense_resample
from ..schemas import FORECAST_RESULTS_CSV_SCHEMA, VENTAS_SCHEMA
from ..sources.readers import read_csv
from ..sources.writers import write_csv
from .flagship import HORIZON, KEYS, MIN_TOTAL_SALES, MIN_WEEKS


def load_ventas(spark: SparkSession, path: str) -> DataFrame:
    """S1 + the PRACTICA3 cleaning block (``cleaning.clean_sales``) over
    a real ventas.csv (PRACTICA3.py:183-194)."""
    raw = read_csv(spark, path, VENTAS_SCHEMA)
    return clean_sales(
        raw,
        product_col="StockCode",
        store_col="Country",
        date_col="InvoiceDate",
        qty_col="Quantity",
    )


def forecast_inventory(
    sales: DataFrame, use_models: bool = False, keys: list[str] | None = None
) -> DataFrame:
    """The full PRACTICA3 per-series pipeline over any cleaned sales
    frame (columns: keys + invoice_date + units_sold).

    ``use_models=False`` (default): the all-native plan — MA-only
    ensemble, zero Python UDFs, oracle-checkable.
    ``use_models=True``: routes per-series model fitting through the
    mapInPandas model-fit pass (Prophet / Holt-Winters when installed,
    their numpy counterparts when not, plus the moving average).
    Both return exactly the reference's eight result columns.
    """
    keys = keys or KEYS
    if use_models:
        from ..operators.forecast_udf import forecast_with_models

        dense = weekly_dense_resample(
            sales, keys, "invoice_date", "units_sold",
            min_span_weeks=MIN_WEEKS, min_total=MIN_TOTAL_SALES,
        )
        return forecast_with_models(dense).drop("MA_Member")

    from .flagship import series_stats

    stats = series_stats(sales, keys)
    inv = inventory_columns(F.col("sigma"), F.col("ens"), F.col("last_stock"))
    horizon_fill = F.array_repeat(F.col("ens"), HORIZON)
    return stats.select(
        F.col(keys[0]).cast("string").alias("SKU"),
        F.col(keys[1]).cast("string").alias("Store"),
        F.bround("mape_raw", 3).alias("MAPE"),
        horizon_fill.alias("Forecast"),
        F.col("test_vals").alias("Test"),
        inv["Safety_Stock"].alias("Safety_Stock"),
        inv["Reorder_Point"].alias("Reorder_Point"),
        inv["Qty_to_Order"].alias("Qty_to_Order"),
    )


def write_results_csv(results: DataFrame, path: str) -> None:
    """S4: reference-compatible CSV sink — arrays stringified exactly
    like pandas to_csv (PRACTICA3.py:208-209)."""
    write_csv(results, path)


def read_results_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2: read the reference's results CSV (stringified arrays)."""
    return read_csv(spark, path, FORECAST_RESULTS_CSV_SCHEMA)


def build_report(results: DataFrame) -> DataFrame:
    """The generador.py chain over results (CSV- or Parquet-shaped)."""
    from .report import add_report_text, prepare_report_input

    return add_report_text(prepare_report_input(results))


def notebook_flow(
    sales_daily_source: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    holdout_days: int = 30,
) -> DataFrame:
    """The reference's notebook entry point (limpieza_de_datos.py) as a
    library call: daily dense resample -> lag-1/lag-7 features ->
    dropna -> positional holdout split -> seasonal-naive (lag-7)
    baseline forecast -> per-key MAE/RMSE on the holdout.

    (Prophet fits live in operators/forecast_udf.py; this native flow
    is the oracle-checkable backbone the notebook wraps around them.)
    """
    from ..functions.metrics import mae, rmse
    from ..operators.resample import daily_resample_sum, densify_days
    from ..operators.split import add_lags

    daily = densify_days(
        daily_resample_sum(sales_daily_source, keys, ts_col, value_col, day_col="ds")
        .withColumnRenamed(value_col, "y"),
        keys,
        "ds",
        ("y",),
    )
    lagged = add_lags(daily, keys, "ds", "y", lags=(1, 7)).na.drop(
        subset=["lag1", "lag7"]
    )
    w = Window.partitionBy(*keys).orderBy(F.col("ds").desc())
    split = lagged.withColumn("_rn", F.row_number().over(w))
    test = split.filter(F.col("_rn") <= holdout_days)
    # Leakage-free seasonal-naive baseline: every holdout day is
    # predicted from the SAME-WEEKDAY actual in the last pre-holdout
    # week (the train/test boundary week repeated cyclically) — a plain
    # lag7 would consume holdout actuals once holdout_days > 7, turning
    # the baseline into a rolling in-sample forecast. The series is
    # densified, so recency rank == day offset and the anchor is exact.
    h = holdout_days
    anchors = split.filter(
        (F.col("_rn") > h) & (F.col("_rn") <= h + 7)
    ).select(*keys, F.col("_rn").alias("_anchor_rn"), F.col("y").alias("pred"))
    days_in = h - F.col("_rn") + 1  # 1-based days past the boundary
    test = test.withColumn(
        "_anchor_rn", F.col("_rn") + 7 * F.ceil(days_in / 7.0)
    )
    preds = test.join(anchors, [*keys, "_anchor_rn"]).drop("_anchor_rn")
    return preds.groupBy(*keys).agg(
        F.count("*").alias("n_days"),
        F.round(mae("y", "pred"), 4).alias("mae"),
        F.round(rmse("y", "pred"), 4).alias("rmse"),
    )
