"""Per-series model-fit pipeline as a mapInPandas pass
[SURVEY §2.9 U1-U6; reference PRACTICA3.py:85-175].

Spark's ``mapInPandas`` over key-clustered partitions replaces the
reference's hand-rolled ``multiprocessing.Pool`` fan-out
(PRACTICA3.py:202-205): series hash-shuffle to executors and stream
through Arrow-fed Python workers, one batch of series at a time.

Prophet / Holt-Winters are optional imports exactly as in the
reference (PRACTICA3.py:22-32). When a library is absent, the member
does NOT silently vanish: a dependency-free numpy implementation of
the same public model family (functions/tsmodels.py — additive
Holt-Winters recursions; Prophet's piecewise-trend + Fourier
decomposition as one ridge solve) takes its slot, so the ensemble
median (PRACTICA3.py:151) is a genuine 3-member vote in every
environment. Per-model try/except isolation is preserved (U6), and
the moving-average member never fails. ``ma_only=True`` keeps only
the moving-average member, under which the fit must agree exactly
with the native flagship plan — the two paths are differential-tested
against each other.

``process_series`` is the literal pandas port of one series; the
batched numpy driver ``_fit_batch`` that the Spark pass runs is tested
bit-identical to it.

Everything SQL-expressible inside the loop also exists as native
relational ops (flagship.py) so the oracle can check it; only the
model fits genuinely need Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.inventory import (
    FORECAST_HORIZON_WEEKS,
    LEAD_TIME_WEEKS,
    MIN_TOTAL_SALES,
    MIN_WEEKS,
    SERVICE_LEVEL_Z,
)
from ..functions.tsmodels import (
    fourier_trend_forecast,
    holt_winters_forecast,
    holt_winters_forecast_many,
)

try:  # optional, mirrors PRACTICA3.py:22-26
    from prophet import Prophet  # type: ignore

    PROPHET_AVAILABLE = True
except Exception:
    PROPHET_AVAILABLE = False

try:  # optional, mirrors PRACTICA3.py:28-32
    from statsmodels.tsa.holtwinters import ExponentialSmoothing  # type: ignore

    HW_AVAILABLE = True
except Exception:
    HW_AVAILABLE = False

RESULT_SCHEMA = StructType(
    [
        StructField("SKU", StringType()),
        StructField("Store", StringType()),
        StructField("MAPE", DoubleType()),
        StructField("Forecast", ArrayType(DoubleType())),
        StructField("Test", ArrayType(DoubleType())),
        StructField("Safety_Stock", LongType()),
        StructField("Reorder_Point", LongType()),
        StructField("Qty_to_Order", LongType()),
        # The moving-average member's (constant) forecast value. Unlike
        # the fitted members it is deterministic (PRACTICA3.py:143-145:
        # mean of the last 4 train weeks, floored at 0), which lets the
        # full-ensemble query carry an oracle-checkable column even when
        # real Prophet / Holt-Winters fits contribute to Forecast.
        StructField("MA_Member", DoubleType()),
    ]
)


def _safe_mape(y_true: np.ndarray, y_pred: np.ndarray) -> float:
    """Zero-masked MAPE with MAE fallback (PRACTICA3.py:44-51)."""
    y_true = np.asarray(y_true, dtype=float)
    y_pred = np.asarray(y_pred, dtype=float)
    mask = y_true != 0
    if mask.sum() == 0:
        return float(np.mean(np.abs(y_true - y_pred)))
    return float(np.mean(np.abs((y_true[mask] - y_pred[mask]) / y_true[mask])) * 100)


def _inventory(train_sales: pd.Series, forecast: np.ndarray) -> dict:
    """SS / ROP / Q formulas (PRACTICA3.py:68-81); np.std is ddof=0."""
    sigma = float(np.std(train_sales)) if len(train_sales) > 1 else 0.0
    ss = SERVICE_LEVEL_Z * sigma * np.sqrt(LEAD_TIME_WEEKS)
    avg_fc = float(np.mean(forecast)) if forecast.size else 0.0
    rop = avg_fc * LEAD_TIME_WEEKS + ss
    last = float(train_sales.iloc[-1]) if len(train_sales) else 0.0
    q = max(0.0, rop - last)
    return {
        "Safety_Stock": int(round(max(0.0, ss))),
        "Reorder_Point": int(round(max(0.0, rop))),
        "Qty_to_Order": int(round(max(0.0, q))),
    }


def process_series(pdf: pd.DataFrame, ma_only: bool = False) -> pd.DataFrame:
    """One (product, store) weekly series -> one result row (or none if
    gated out). Input: columns product_id, store_id, week, units_sold —
    already densely resampled by the native plan, so the pandas side
    only does what SQL can't: the model fits."""
    sku = str(pdf["product_id"].iloc[0])
    store = str(pdf["store_id"].iloc[0])
    s = pdf.sort_values("week").set_index("week")["units_sold"].astype(float)

    if len(s) < MIN_WEEKS or s.sum() < MIN_TOTAL_SALES:
        return pd.DataFrame(columns=[f.name for f in RESULT_SCHEMA.fields])

    pos = s[s > 0]
    if len(pos) > 5:
        s = s.clip(pos.quantile(0.01), pos.quantile(0.99))

    train, test = s[:-FORECAST_HORIZON_WEEKS], s[-FORECAST_HORIZON_WEEKS:]
    preds: list[np.ndarray] = []

    if len(train) >= MIN_WEEKS and not ma_only:  # U2: Prophet slot
        if PROPHET_AVAILABLE:
            try:
                dfp = pd.DataFrame(
                    {"ds": pd.to_datetime(train.index), "y": np.log1p(train.clip(lower=0.0).values)}
                )
                m = Prophet(
                    yearly_seasonality=True,
                    weekly_seasonality=False,
                    daily_seasonality=False,
                    seasonality_mode="additive",
                    changepoint_prior_scale=0.1,
                )
                m.fit(dfp)
                future = m.make_future_dataframe(periods=FORECAST_HORIZON_WEEKS, freq="W-SUN")
                yhat = np.expm1(m.predict(future)["yhat"].iloc[-FORECAST_HORIZON_WEEKS:].values)
                preds.append(np.maximum(yhat, 0.0))
            except Exception:
                pass  # U6: model isolation
        else:
            # Same model family, native math: piecewise trend + yearly
            # Fourier seasonality on log1p'd sales, ridge-fit
            # (functions/tsmodels.fourier_trend_forecast).
            try:
                idx = pd.to_datetime(train.index)
                t_days = (idx - idx[0]).days.to_numpy(dtype=float)
                ylog = np.log1p(np.clip(train.values, 0.0, None))
                yhat = fourier_trend_forecast(ylog, t_days, FORECAST_HORIZON_WEEKS)
                preds.append(np.maximum(np.expm1(yhat), 0.0))
            except Exception:
                pass  # U6

    if len(train) >= 8 and not ma_only:  # U3: Holt-Winters slot
        if HW_AVAILABLE:
            try:
                ts = np.log1p(train.values)
                seasonal = "add" if len(ts) >= 52 else None
                hw = ExponentialSmoothing(
                    ts, trend="add", seasonal=seasonal, seasonal_periods=52 if seasonal else None
                ).fit(optimized=True)
                preds.append(np.maximum(np.expm1(hw.forecast(FORECAST_HORIZON_WEEKS)), 0.0))
            except Exception:
                pass
        else:
            try:
                ts = np.log1p(train.values)
                sp = 52 if len(ts) >= 52 else None
                yhat = holt_winters_forecast(ts, FORECAST_HORIZON_WEEKS, seasonal_periods=sp)
                preds.append(np.maximum(np.expm1(yhat), 0.0))
            except Exception:
                pass

    # U4: the moving-average member never fails.
    ma = train.tail(4).mean() if len(train) >= 4 else train.mean()
    ma_member = max(0.0, float(ma))
    preds.append(np.full(FORECAST_HORIZON_WEEKS, ma_member))

    ensemble = np.median(np.vstack(preds), axis=0)  # A16
    hist_avg = max(1.0, float(train.mean()))
    ensemble = np.clip(ensemble, 0.0, max(10 * hist_avg, float(ensemble.max())))

    y_true = test.values
    inv = _inventory(train, ensemble)
    return pd.DataFrame(
        [
            {
                "SKU": sku,
                "Store": store,
                "MAPE": round(_safe_mape(y_true, ensemble), 3),
                "Forecast": list(map(float, ensemble)),
                "Test": list(map(float, y_true)),
                **inv,
                "MA_Member": ma_member,
            }
        ]
    )


def _prophet_member(wk_train: "np.ndarray", train: "np.ndarray") -> "np.ndarray | None":
    """U2 slot for one series: Prophet when importable, else its numpy
    decomposition; None when the fit fails (U6)."""
    try:
        ylog = np.log1p(np.clip(train, 0.0, None))
        if PROPHET_AVAILABLE:
            m = Prophet(
                yearly_seasonality=True,
                weekly_seasonality=False,
                daily_seasonality=False,
                seasonality_mode="additive",
                changepoint_prior_scale=0.1,
            )
            m.fit(pd.DataFrame({"ds": pd.DatetimeIndex(wk_train), "y": ylog}))
            future = m.make_future_dataframe(periods=FORECAST_HORIZON_WEEKS, freq="W-SUN")
            yhat = m.predict(future)["yhat"].iloc[-FORECAST_HORIZON_WEEKS:].values
        else:
            # weeks are midnight-aligned datetime64[ns]; the /day division
            # is exact integer days (== DatetimeIndex.days)
            t_days = (wk_train - wk_train[0]) / np.timedelta64(1, "D")
            yhat = fourier_trend_forecast(ylog, t_days.astype(float), FORECAST_HORIZON_WEEKS)
        return np.maximum(np.expm1(yhat), 0.0)
    except Exception:
        return None  # U6


def _hw_member(train: "np.ndarray") -> "np.ndarray | None":
    """U3 slot for one series: statsmodels when importable, else the
    scalar numpy grid; None when the fit fails (U6)."""
    try:
        ts = np.log1p(train)
        sp = 52 if len(ts) >= 52 else None
        if HW_AVAILABLE:
            yhat = ExponentialSmoothing(
                ts, trend="add", seasonal="add" if sp else None, seasonal_periods=sp
            ).fit(optimized=True).forecast(FORECAST_HORIZON_WEEKS)
        else:
            yhat = holt_winters_forecast(ts, FORECAST_HORIZON_WEEKS, seasonal_periods=sp)
        return np.maximum(np.expm1(yhat), 0.0)
    except Exception:
        return None  # U6


def _hw_members(trains: list) -> list:
    """U3 slot for a batch of train slices. Without statsmodels the
    numpy grid search, whose Python-level time loop dominates the fit,
    runs ONCE over the whole batch via ``holt_winters_forecast_many``
    (elementwise identical recursions — see tsmodels). sp=52 for every
    series: the batched grid takes the same internal len >= 2*52
    seasonal branch per series that the scalar sp = 52 if len >= 52
    else None resolves to (len in [52, 104) is non-seasonal either
    way)."""
    if not HW_AVAILABLE:
        try:
            fcs = holt_winters_forecast_many(
                [np.log1p(t) for t in trains], FORECAST_HORIZON_WEEKS, seasonal_periods=52
            )
            return [np.maximum(np.expm1(f), 0.0) for f in fcs]
        except Exception:
            pass  # U6: fall back to per-series isolation
    return [_hw_member(t) for t in trains]


def _assemble_row(
    sku: str,
    store: str,
    train: "np.ndarray",
    test: "np.ndarray",
    preds: "list[np.ndarray]",
) -> dict:
    """Ensemble median + inventory formulas — the post-model suffix of
    process_series on numpy arrays."""
    ensemble = np.median(np.vstack(preds), axis=0)  # A16
    hist_avg = max(1.0, float(np.mean(train)))
    ensemble = np.clip(ensemble, 0.0, max(10 * hist_avg, float(ensemble.max())))

    sigma = float(np.std(train)) if len(train) > 1 else 0.0
    ss = SERVICE_LEVEL_Z * sigma * np.sqrt(LEAD_TIME_WEEKS)
    avg_fc = float(np.mean(ensemble)) if ensemble.size else 0.0
    rop = avg_fc * LEAD_TIME_WEEKS + ss
    last = float(train[-1]) if len(train) else 0.0
    q = max(0.0, rop - last)
    ma_member = float(preds[-1][0])  # U4 member is the constant MA
    return {
        "SKU": sku,
        "Store": store,
        "MAPE": round(_safe_mape(test, ensemble), 3),
        "Forecast": list(map(float, ensemble)),
        "Test": list(map(float, test)),
        "Safety_Stock": int(round(max(0.0, ss))),
        "Reorder_Point": int(round(max(0.0, rop))),
        "Qty_to_Order": int(round(max(0.0, q))),
        "MA_Member": ma_member,
    }


def _fit_batch(items: list, ma_only: bool = False) -> list[dict]:
    """The process_series math for a batch of series on raw numpy
    arrays. ``items`` = [(sku, store, weeks, y), ...] with weeks
    datetime64[ns] week-sorted and y float64 dense units; returns one
    row dict per admitted series, in input order.

    Order of work: gate + clip every series, then the Prophet slot and
    the Holt-Winters slot over the admitted ones (skipped under
    ``ma_only``), then the moving-average member and the assembly. A
    failing member drops out of its own series only (U6).

    Exactness contract with process_series: every pandas op it uses is
    replaced by the numpy op pandas itself dispatches to when bottleneck
    is not installed: Series.sum/mean -> np.nansum
    /np.nanmean == np.sum/np.mean on NaN-free data; Series.quantile ->
    np.percentile's linear interpolation; Series.clip -> np.clip;
    np.std(Series) was already ndarray math. Verified bit-identical by
    tests/test_tsmodels_batch.py, tests/test_forecast_mapinpandas.py's
    map-vs-group differential and the ensemble certificate oracle."""
    fits: list[tuple] = []
    for sku, store, weeks, y in items:
        if len(y) < MIN_WEEKS or y.sum() < MIN_TOTAL_SALES:  # PRACTICA3.py:97-99
            continue
        pos = y[y > 0]
        if len(pos) > 5:  # positive-quantile winsorize (PRACTICA3.py:105-107)
            y = np.clip(y, np.quantile(pos, 0.01), np.quantile(pos, 0.99))
        train, test = y[:-FORECAST_HORIZON_WEEKS], y[-FORECAST_HORIZON_WEEKS:]
        fits.append((sku, store, weeks[: len(train)], train, test, []))

    if not ma_only:
        for _, _, wk_train, train, _, preds in fits:
            if len(train) >= MIN_WEEKS:  # U2: Prophet slot
                preds.append(_prophet_member(wk_train, train))
        # U3: Holt-Winters slot
        hw = [(train, preds) for *_, train, _, preds in fits if len(train) >= 8]
        for (_, preds), fc in zip(hw, _hw_members([train for train, _ in hw])):
            preds.append(fc)

    rows: list[dict] = []
    for sku, store, _, train, test, preds in fits:
        preds = [p for p in preds if p is not None]
        # U4: the moving-average member never fails.
        ma = np.mean(train[-4:]) if len(train) >= 4 else np.mean(train)
        preds.append(np.full(FORECAST_HORIZON_WEEKS, max(0.0, float(ma))))
        rows.append(_assemble_row(sku, store, train, test, preds))
    return rows


def _fit_partition(batches, ma_only: bool = False):
    """Streaming fit loop for mapInPandas [guide §4.5 shape]: the caller
    sorts the partition by (series, week) in the JVM
    (sortWithinPartitions — same post-exchange stage, codegen), so each
    Arrow batch arrives as contiguous group runs and ``_fit_batch``
    runs on the numpy slices batch by batch. Only the (possibly
    incomplete) TRAILING group of each batch is carried into the next,
    so peak Python memory is one Arrow batch + one series —
    independent of partition size."""
    cols = [f.name for f in RESULT_SCHEMA.fields]
    carry: pd.DataFrame | None = None
    out: list[dict] = []

    def fit_runs(pdf: pd.DataFrame, last_is_open: bool) -> pd.DataFrame | None:
        """Fit every complete group run in (sorted) pdf; return the
        trailing open run unfitted when ``last_is_open``."""
        pids = pdf["product_id"].to_numpy()
        sids = pdf["store_id"].to_numpy()
        change = np.flatnonzero((pids[1:] != pids[:-1]) | (sids[1:] != sids[:-1])) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pids)]))
        if last_is_open:
            tail = pdf.iloc[starts[-1]:]
            starts, ends = starts[:-1], ends[:-1]
        else:
            tail = None
        if len(starts):
            wk = pd.to_datetime(pdf["week"]).to_numpy()
            vals = pdf["units_sold"].to_numpy(dtype=float)
            items = [
                (str(pids[s]), str(sids[s]), wk[s:e], vals[s:e]) for s, e in zip(starts, ends)
            ]
            out.extend(_fit_batch(items, ma_only))
        return tail

    for pdf in batches:
        if pdf.empty:
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        carry = fit_runs(pdf, last_is_open=True)
    if carry is not None and len(carry):
        fit_runs(carry.reset_index(drop=True), last_is_open=False)
    if out:
        yield pd.DataFrame(out, columns=cols)


def forecast_with_models(dense_weekly: DataFrame, ma_only: bool = False) -> DataFrame:
    """mapInPandas model-fit pass over the densified weekly table: one
    RESULT_SCHEMA row per admitted (product_id, store_id) series.

    The admission gate runs inside the fit, on every series. Callers
    build ``dense_weekly`` with weekly_dense_resample's
    ``min_span_weeks``/``min_total`` pre-gates, which drop the series
    that can never pass before this shuffle (the reference does the
    same manually, PRACTICA3.py:97-99); without them the result is the
    same, only more rows cross into Python. ``ma_only=True`` keeps only
    the moving-average member — the configuration that agrees exactly
    with the native flagship plan."""
    # The model-fit stage is CPU-bound per GROUP, not per byte: a few
    # thousand weekly series are only ~tens of MB, so AQE's byte-based
    # partition coalescing folds the group-map exchange down to ONE
    # partition and every fit runs serially in a single Python worker
    # (measured exactly that: 1 post-AQE partition, 54 s -> 17 s at
    # sf0.01 after this pin). An explicit user repartition on the SAME
    # keys is AQE-exempt and sized by executor parallelism.
    parallelism = dense_weekly.sparkSession.sparkContext.defaultParallelism
    clustered = dense_weekly.repartition(parallelism * 2, "product_id", "store_id")
    # mapInPandas over the key-clustered partitions instead of
    # groupBy().applyInPandas (guide §4.2/§4.5): the repartition above
    # already co-locates every series' rows, and the JVM-side
    # sortWithinPartitions (same post-exchange stage, codegen) delivers
    # them as contiguous (series, week) runs, so the partition function
    # streams group runs batch by batch — no per-group Arrow slice, no
    # per-group pandas DataFrame. Only the four columns the fit needs
    # cross the boundary (explicit select — Spark cannot see inside the
    # function; guide §4.1).
    cols = ["product_id", "store_id", "week", "units_sold"]
    return (
        clustered.select(*cols)
        .sortWithinPartitions("product_id", "store_id", "week")
        .mapInPandas(lambda it: _fit_partition(it, ma_only=ma_only), RESULT_SCHEMA)
    )
