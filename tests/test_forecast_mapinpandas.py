"""The r12 mapInPandas fit loop must be bit-identical to the original
per-group process_series path: same admitted key set, same floats (no
tolerance), same schema.

Both paths run EXECUTOR-side (groupBy().applyInPandas(process_series)
as the reference vs forecast_with_models' mapInPandas): the model-fit
floats go through BLAS, and the driver process' BLAS threading differs
from the python workers' — an in-driver reference diverges by 1 ulp on
~20% of fitted forecasts, which is environment, not code (measured
while building this test).
"""

from __future__ import annotations

import pytest

from dataframe_retail_e_inventarios_spark.operators.cleaning import clean_sales
from dataframe_retail_e_inventarios_spark.operators.forecast_udf import (
    MIN_TOTAL_SALES,
    MIN_WEEKS,
    RESULT_SCHEMA,
    forecast_with_models,
    process_series,
)
from dataframe_retail_e_inventarios_spark.operators.resample import (
    weekly_dense_resample,
)
from dataframe_retail_e_inventarios_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("ma_only", [False, True])
def test_map_loop_matches_process_series(spark, ma_only):
    dense = weekly_dense_resample(
        clean_sales(load_table(spark, SF_DIR, "lineitem")),
        ["product_id", "store_id"],
        "invoice_date",
        "units_sold",
        min_span_weeks=MIN_WEEKS,
        min_total=MIN_TOTAL_SALES,
    )
    got = (
        forecast_with_models(dense, ma_only=ma_only)
        .toPandas()
        .sort_values(["SKU", "Store"])
        .reset_index(drop=True)
    )
    par = dense.sparkSession.sparkContext.defaultParallelism
    ref = (
        dense.repartition(par * 2, "product_id", "store_id")
        .groupBy("product_id", "store_id")
        .applyInPandas(lambda p: process_series(p, ma_only=ma_only), RESULT_SCHEMA)
        .toPandas()
        .sort_values(["SKU", "Store"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(ref.columns)
    assert len(got) == len(ref) > 0
    for col in got.columns:
        if col in ("Forecast", "Test"):
            for a, b in zip(got[col], ref[col]):
                assert list(a) == list(b), col
        else:
            assert got[col].tolist() == ref[col].tolist(), col
