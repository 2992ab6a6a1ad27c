"""The mapInPandas model pipeline (reference port) and the native
flagship plan must agree exactly when only the MA member votes
(SURVEY §7.4: two code paths, one oracle)."""

import pytest

from dataframe_retail_e_inventarios_spark.operators.cleaning import clean_sales
from dataframe_retail_e_inventarios_spark.operators.forecast_udf import forecast_with_models
from dataframe_retail_e_inventarios_spark.operators.resample import weekly_dense_resample
from dataframe_retail_e_inventarios_spark.plans.flagship import (
    KEYS,
    MIN_TOTAL_SALES,
    MIN_WEEKS,
    flagship,
)
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def dense_weekly(spark):
    return weekly_dense_resample(
        clean_sales(load_table(spark, SF_SMOKE, "lineitem")),
        KEYS,
        "invoice_date",
        "units_sold",
        min_span_weeks=MIN_WEEKS,
        min_total=MIN_TOTAL_SALES,
    )


@pytest.fixture(scope="module")
def udf_results(dense_weekly):
    """Default configuration: genuine 3-member ensemble (numpy
    Holt-Winters + Fourier-trend members stand in when the libraries
    are absent)."""
    return forecast_with_models(dense_weekly).toPandas()


@pytest.fixture(scope="module")
def udf_results_ma_only(dense_weekly):
    """ma_only=True -> the moving average alone, with or without the
    model libraries: the configuration that must agree exactly with
    the native flagship."""
    return forecast_with_models(dense_weekly, ma_only=True).toPandas()


def test_udf_properties(udf_results):
    df = udf_results
    assert len(df) > 0
    assert (df["Qty_to_Order"] >= 0).all()  # PRACTICA3.py:76-80
    assert (df["Safety_Stock"] >= 0).all()
    assert df["Forecast"].map(lambda a: all(v >= 0 for v in a)).all()  # :125,138,154
    assert df["Forecast"].map(len).eq(4).all()  # horizon
    assert df["Test"].map(len).eq(4).all()


def test_udf_ensemble_bounded_with_fitted_members(udf_results):
    """With the real numpy model members voting, every forecast must
    stay finite and the MAPE defined: a diverging trend extrapolation
    (the classic expm1-of-a-bad-fit failure) would blow past this."""
    import numpy as np

    for fc in udf_results["Forecast"]:
        a = np.asarray(fc, dtype=float)
        assert np.isfinite(a).all()
    assert np.isfinite(udf_results["MAPE"].to_numpy(dtype=float)).all()
    assert (udf_results["MAPE"] >= 0).all()


def test_udf_matches_native_flagship(spark, udf_results_ma_only):
    native = flagship(spark, SF_SMOKE, top_k=None).toPandas()
    u = udf_results_ma_only.assign(
        product_id=lambda d: d["SKU"].astype(int),
        store_id=lambda d: d["Store"].astype(int),
    ).set_index(["product_id", "store_id"])
    n = native.set_index(["product_id", "store_id"])
    assert set(u.index) == set(n.index)
    joined = u.join(n, how="inner", lsuffix="_u")
    assert (joined["Safety_Stock"] == joined["safety_stock"]).all()
    assert (joined["Reorder_Point"] == joined["reorder_point"]).all()
    assert (joined["Qty_to_Order"] == joined["qty_to_order"]).all()
    assert (joined["MAPE"] - joined["mape"]).abs().max() <= 1e-9
