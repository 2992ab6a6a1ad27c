"""Cleaning / schema-conformance operators [SURVEY §2.2 P1-P14].

Spark 4 runs in ANSI mode by default, so plain ``cast`` raises on
malformed input; the reference's ``pd.to_numeric(errors='coerce')``
semantics (null-on-error) therefore map to ``try_cast``
(PRACTICA3.py:193, generador.py:41-43).
"""

from __future__ import annotations

from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def rename_if_present(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Rename with ``errors='ignore'`` semantics [P2: generador.py:34-38]."""
    present = set(df.columns)
    return df.withColumnsRenamed({k: v for k, v in mapping.items() if k in present})


def coerce_numeric(df: DataFrame, *cols: str, to: str = "double") -> DataFrame:
    """Numeric coercion, null on error [P3: PRACTICA3.py:193]."""
    return df.withColumns({c: F.col(c).try_cast(to) for c in cols if c in df.columns})


def add_column_if_missing(df: DataFrame, name: str, default: object) -> DataFrame:
    """Add-if-missing with default [P10: generador.py:75-77]."""
    if name not in df.columns:
        df = df.withColumn(name, F.lit(default))
    return df


def round_to_long(c: Column | str) -> Column:
    """``int(round(x))`` / ``.round(0).astype(int)`` [P11:
    PRACTICA3.py:78-80, generador.py:83-84].

    Python round() and pandas/numpy .round() are half-even -> bround.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.bround(c, 0).cast("long")


def clean_sales(
    lineitem: DataFrame,
    *,
    product_col: str = "l_partkey",
    store_col: str = "l_suppkey",
    date_col: str = "l_shipdate",
    qty_col: str = "l_quantity",
) -> DataFrame:
    """The reference's main-cleaning block re-expressed declaratively
    [PRACTICA3.py:186-194]: rename -> coerce -> fillna(0) -> filter >= 0.

    Catalyst collapses the whole chain into one projection over one
    filter directly on the parquet scan, which reads only the four named
    columns (tests/test_plan_quality.py::
    test_clean_sales_is_one_project_one_filter). The coalesce filter is
    not a parquet PushedFilter.
    """
    return (
        lineitem.select(
            F.col(product_col).alias("product_id"),
            F.col(store_col).alias("store_id"),
            F.col(date_col).alias("invoice_date"),
            F.col(qty_col).alias("units_sold"),
        )
        .withColumn("units_sold", F.coalesce(F.col("units_sold").try_cast("double"), F.lit(0.0)))
        .filter(F.col("units_sold") >= 0)
    )
