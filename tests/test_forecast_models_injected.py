"""Deterministic fake-model injection for the U2/U3 ensemble members
(reference PRACTICA3.py:114-140).

prophet/statsmodels are not installed in CI, so the Prophet and
Holt-Winters library branches never execute there on their own. These
tests inject API-compatible deterministic fakes at the module level
and run every case through both fit paths: the pandas reference
process_series and the streaming partition loop that
forecast_with_models runs on the executors (_fit_partition ->
_fit_batch). Covered: the >= 52-week seasonal branch, the log1p/expm1
round-trip, the multi-member median ensemble, and per-model failure
isolation — no skips."""

import numpy as np
import pandas as pd
import pytest

from dataframe_retail_e_inventarios_spark.operators import forecast_udf as M

HORIZON = M.FORECAST_HORIZON_WEEKS


class FakeProphet:
    """Prophet API surface used by the fit; returns a constant
    yhat (in the fitted log space) so the expm1 round-trip is visible."""

    yhat_log = None  # set per test
    fail = False
    init_kwargs = []

    def __init__(self, **kwargs):
        type(self).init_kwargs.append(kwargs)

    def fit(self, df):
        if type(self).fail:
            raise RuntimeError("injected fit failure")
        self.df = df
        return self

    def make_future_dataframe(self, periods, freq):
        start = self.df["ds"].iloc[0]
        return pd.DataFrame(
            {"ds": pd.date_range(start, periods=len(self.df) + periods, freq=freq)}
        )

    def predict(self, future):
        return pd.DataFrame({"yhat": np.full(len(future), float(type(self).yhat_log))})


class FakeHW:
    """statsmodels ExponentialSmoothing surface used by the fit."""

    fc_log = None
    calls = []

    def __init__(self, ts, trend=None, seasonal=None, seasonal_periods=None):
        self.ts = ts
        type(self).calls.append(
            {"n": len(ts), "seasonal": seasonal, "seasonal_periods": seasonal_periods}
        )

    def fit(self, optimized=True):
        return self

    def forecast(self, h):
        return np.full(h, float(type(self).fc_log))


@pytest.fixture
def inject(monkeypatch):
    """Enable both fake members; reset their recording state."""
    FakeProphet.init_kwargs, FakeProphet.fail = [], False
    FakeHW.calls = []
    monkeypatch.setattr(M, "PROPHET_AVAILABLE", True)
    monkeypatch.setattr(M, "Prophet", FakeProphet, raising=False)
    monkeypatch.setattr(M, "HW_AVAILABLE", True)
    monkeypatch.setattr(M, "ExponentialSmoothing", FakeHW, raising=False)


def _partition_fit(pdf):
    """One sorted series through the production partition loop."""
    frames = list(M._fit_partition([pdf]))
    return frames[0] if frames else pd.DataFrame()


def _fits():
    """Each fit path in turn, with the fakes' recorded calls reset."""
    for name, fit in (("process_series", M.process_series), ("_fit_partition", _partition_fit)):
        FakeProphet.init_kwargs, FakeHW.calls = [], []
        yield name, fit


def _series(n_weeks, value=20.0):
    weeks = pd.date_range("2023-01-08", periods=n_weeks, freq="W-SUN")
    return pd.DataFrame(
        {
            "product_id": 1,
            "store_id": 2,
            "week": weeks,
            "units_sold": float(value),
        }
    )


def test_three_member_median_and_log_roundtrip(inject):
    """Prophet says 10, HW says 30, MA says 20 (all in their native
    spaces) -> the ensemble median must be the MA member, and the fake
    members' log-space constants must round-trip through expm1."""
    FakeProphet.yhat_log = np.log1p(10.0)
    FakeHW.fc_log = np.log1p(30.0)
    for name, fit in _fits():
        out = fit(_series(20, value=20.0))
        assert len(out) == 1, name
        fc = np.array(out["Forecast"].iloc[0])
        assert np.allclose(fc, 20.0), name
        # Prophet received log1p'd training values (PRACTICA3.py:118)
        assert len(FakeProphet.init_kwargs) == 1, name  # Prophet ran exactly once
        assert len(FakeHW.calls) == 1, name


def test_median_with_failing_member_isolated(inject):
    """An injected Prophet failure must not kill the series: the
    ensemble continues with HW + MA (median of two = mean)."""
    FakeProphet.fail = True
    FakeHW.fc_log = np.log1p(30.0)
    for name, fit in _fits():
        out = fit(_series(20, value=20.0))
        assert len(out) == 1, name
        fc = np.array(out["Forecast"].iloc[0])
        # members: HW=30, MA=20 -> median = 25
        assert np.allclose(fc, 25.0), name


def test_hw_seasonal_branch_at_52_weeks(inject):
    """len(train) >= 52 switches Holt-Winters to additive seasonality
    with period 52 (PRACTICA3.py:134-137); shorter series must not."""
    FakeProphet.yhat_log = np.log1p(20.0)
    FakeHW.fc_log = np.log1p(20.0)
    for name, fit in _fits():
        fit(_series(52 + HORIZON, value=20.0))
        assert FakeHW.calls[-1] == {"n": 52, "seasonal": "add", "seasonal_periods": 52}, name
        fit(_series(20, value=20.0))
        assert FakeHW.calls[-1]["seasonal"] is None, name
        assert FakeHW.calls[-1]["seasonal_periods"] is None, name


def test_member_gates(inject):
    """Prophet needs len(train) >= 12, HW needs >= 8: a 14-week series
    (train=10) must run HW but not Prophet."""
    FakeProphet.yhat_log = np.log1p(20.0)
    FakeHW.fc_log = np.log1p(20.0)
    for name, fit in _fits():
        out = fit(_series(14, value=20.0))
        assert len(out) == 1, name
        assert FakeProphet.init_kwargs == [], name  # gated out
        assert len(FakeHW.calls) == 1, name


def test_upper_cap_is_faithfully_vacuous(inject):
    """PRACTICA3.py:153 computes upper_cap = max(10*hist_avg,
    ensemble.max()) and then clips BY IT — which by construction never
    clips anything. The port preserves that bug-for-bug (the native
    flagship encodes the same identity), so a runaway ensemble passes
    through unchanged; this test pins the faithful semantics so an
    accidental 'fix' shows up as a divergence from the reference."""
    FakeProphet.yhat_log = np.log1p(10_000.0)
    FakeHW.fc_log = np.log1p(10_000.0)
    for name, fit in _fits():
        out = fit(_series(20, value=20.0))
        fc = np.array(out["Forecast"].iloc[0])
        # members: [10000, 10000, 20] -> median 10000; vacuous cap keeps it
        assert np.allclose(fc, 10_000.0, rtol=1e-9), name
