"""Bit-identity of the batched Holt-Winters grid (r13) vs the scalar
reference: ``holt_winters_forecast_many`` must return ELEMENTWISE EQUAL
forecasts to a per-series ``holt_winters_forecast`` loop (zero
tolerance — the ensemble oracle hashes depend on it), and the batched
fit driver ``_fit_batch`` must reproduce the pandas reference
``process_series`` row-for-row. Pure-python tests, no Spark session."""

import numpy as np
import pandas as pd
import pytest

from dataframe_retail_e_inventarios_spark.functions.tsmodels import (
    holt_winters_forecast,
    holt_winters_forecast_many,
)
from dataframe_retail_e_inventarios_spark.operators.forecast_udf import (
    _fit_batch,
    process_series,
)


def _mixed_series(seed: int = 7, n_series: int = 120) -> list:
    """Lengths straddling every branch: <2 (degenerate), <8 (no HW),
    [8, 52) (Holt), [52, 104) (sp given but non-seasonal), >= 104
    (seasonal), plus sparse/zero-heavy and constant series."""
    rng = np.random.RandomState(seed)
    lens = [0, 1, 2, 5, 8, 9, 20, 51, 52, 53, 103, 104, 105, 120, 127]
    ys = []
    for i in range(n_series):
        n = lens[i % len(lens)]
        y = np.round(np.abs(rng.gamma(2.0, 3.0, n)) * (rng.rand(n) > 0.35))
        if i % 11 == 0 and n:
            y = np.zeros(n)  # all-zero
        if i % 13 == 0 and n:
            y = np.full(n, 4.0)  # constant
        ys.append(np.log1p(y))
    return ys


def test_hw_many_bit_identical_to_scalar_loop():
    ys = _mixed_series()
    for sp in (None, 52, 26):
        batch = holt_winters_forecast_many(ys, 4, seasonal_periods=sp)
        for y, fc in zip(ys, batch):
            ref = holt_winters_forecast(y, 4, seasonal_periods=sp)
            assert fc.shape == ref.shape
            assert np.array_equal(fc, ref), (len(y), sp)


def test_hw_many_empty_and_horizon_zero():
    assert holt_winters_forecast_many([], 4) == []
    (fc,) = holt_winters_forecast_many([np.array([1.0, 2.0, 3.0])], 0)
    assert fc.shape == (0,)


@pytest.mark.parametrize("ma_only", [False, True])
@pytest.mark.parametrize("seed", [0, 1])
def test_fit_batch_matches_process_series(seed, ma_only):
    rng = np.random.RandomState(seed)
    items = []
    for i in range(150):
        n = int(rng.choice([5, 11, 12, 20, 60, 104, 115, 127]))
        weeks = np.datetime64("2009-01-04", "ns") + np.arange(n) * np.timedelta64(7, "D")
        y = np.round(np.abs(rng.gamma(2.0, 3.0, n)) * (rng.rand(n) > 0.3))
        items.append((f"p{i}", f"s{i % 7}", weeks, y.astype(float)))
    batch_rows = _fit_batch(items, ma_only)
    ref_rows = []
    for sku, store, wk, y in items:
        pdf = pd.DataFrame({"product_id": sku, "store_id": store, "week": wk, "units_sold": y})
        ref_rows += process_series(pdf, ma_only=ma_only).to_dict("records")
    assert len(batch_rows) == len(ref_rows) > 0
    for b, r in zip(batch_rows, ref_rows):
        assert set(b) == set(r)
        for key in r:
            assert b[key] == r[key], key  # exact, including float lists
