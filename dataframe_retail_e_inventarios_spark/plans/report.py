"""Report analytics: the full ``generador.py`` load/clean/derive stage
as one lazy plan with zero UDFs [SURVEY §3.3].

``cargar_datos_y_verificar`` (generador.py:19-93) re-expressed:
rename-if-present -> numeric coercion -> fill/cast the stringified
Forecast -> parse it natively (no row-wise apply) -> Need_Reorder ->
add-RMSE-if-missing -> dropna -> integer rounding. The per-SKU
narrative (generador.py:97-158) becomes the ``banda``, ``banda_color``
and ``pedido`` columns (``report_render`` keys its precision sentence
and color on the band columns); the global summary
(generador.py:180-183) is a plain aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.arrays import array_len, array_total, parse_float_list
from ..functions.banding import mape_band, mape_band_color, pedido_text
from ..operators.cleaning import (
    add_column_if_missing,
    coerce_numeric,
    rename_if_present,
    round_to_long,
)


def prepare_report_input(results: DataFrame) -> DataFrame:
    """generador.py:31-84 as a declarative chain.

    ``results`` is forecast-results-shaped with a *stringified*
    Forecast column (the reference's CSV round-trip form).
    """
    df = rename_if_present(
        results, {"SKU": "StockCode", "Store": "StoreID", "Runtime_sec": "Duracion_sec"}
    )
    df = coerce_numeric(df, "MAPE", "Safety_Stock", "Reorder_Point", "Qty_to_Order", "Duracion_sec")
    df = df.withColumn("Forecast", F.coalesce(F.col("Forecast").cast("string"), F.lit("[]")))
    df = df.withColumn("Forecast_List", parse_float_list("Forecast"))
    df = df.withColumn("Forecast_Total", array_total("Forecast_List"))
    df = df.withColumn("Forecast_Weeks", array_len("Forecast_List"))
    df = df.withColumn("Need_Reorder", F.col("Qty_to_Order") > 0)
    df = add_column_if_missing(df, "RMSE", 0.0)
    df = df.na.drop(subset=["Forecast_Total", "MAPE", "Qty_to_Order"])
    for c in ("Safety_Stock", "Reorder_Point", "Qty_to_Order", "Forecast_Total"):
        df = df.withColumn(c, round_to_long(c))
    return df


def add_report_text(
    df: DataFrame, band_lo: float = 10.0, band_hi: float = 50.0
) -> DataFrame:
    """generador.py:97-158: per-row MAPE band, band color and order
    recommendation columns. Band edges fuzz-injectable
    (tools/fuzz_oracles.py)."""
    return df.withColumn("banda", mape_band("MAPE", band_lo, band_hi)).withColumn(
        "banda_color", mape_band_color("MAPE", band_lo, band_hi)
    ).withColumn(
        "pedido", pedido_text("Need_Reorder", "Qty_to_Order")
    )


def global_summary(df: DataFrame) -> DataFrame:
    """generador.py:180-183: n series, n needing reorder, mean MAPE."""
    return df.agg(
        F.count("*").alias("n_series"),
        F.sum(F.col("Need_Reorder").cast("int")).alias("n_reorder"),
        F.round(F.avg("MAPE"), 2).alias("avg_mape"),
    )
