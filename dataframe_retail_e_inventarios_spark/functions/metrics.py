"""Forecast-accuracy metrics as aggregate column expressions
[SURVEY §2.4 A12-A15].

Each builder returns a Column usable inside ``groupBy(...).agg(...)`` —
the metrics run JVM-side in one pass over the (actual, predicted)
pairs, no UDF. Division is guarded with ``when`` masks exactly as the
reference masks zero denominators (PRACTICA3.py:44-61), which also
keeps ANSI mode happy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def mape(actual: Column | str, pred: Column | str) -> Column:
    """safe_mape [A12: PRACTICA3.py:44-51]: mean(|t-p|/t)*100 over rows
    with t != 0; falls back to plain MAE when every t is 0."""
    t, p = _c(actual), _c(pred)
    masked = F.avg(F.when(t != 0, F.abs((t - p) / t))) * 100
    fallback = F.avg(F.abs(t - p))
    return F.coalesce(masked, fallback)


def smape(actual: Column | str, pred: Column | str) -> Column:
    """Symmetric MAPE [A13: PRACTICA3.py:53-61]: mean over rows with
    |t|+|p| != 0 of 2|p-t|/(|t|+|p|) * 100; falls back to MAE."""
    t, p = _c(actual), _c(pred)
    denom = F.abs(t) + F.abs(p)
    masked = F.avg(F.when(denom != 0, 2.0 * F.abs(p - t) / denom)) * 100
    fallback = F.avg(F.abs(t - p))
    return F.coalesce(masked, fallback)


def rmse(actual: Column | str, pred: Column | str) -> Column:
    """[A14: PRACTICA3.py:63-64, limpieza_de_datos.py:45]"""
    t, p = _c(actual), _c(pred)
    return F.sqrt(F.avg(F.pow(t - p, F.lit(2))))


def mae(actual: Column | str, pred: Column | str) -> Column:
    """[A15: limpieza_de_datos.py:44]"""
    t, p = _c(actual), _c(pred)
    return F.avg(F.abs(t - p))

