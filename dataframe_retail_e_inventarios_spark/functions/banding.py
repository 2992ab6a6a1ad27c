"""Conditional banding + report-text columns [SURVEY §2.7 M9, §2.8 T5].

The reference's report classifies MAPE into quality bands
(generador.py:126-136) and renders a per-SKU narrative with embedded
values (generador.py:97-158). The band, its color and the order
recommendation are pure column expressions built JVM-side
(``plans/report.add_report_text``); the document itself is rendered
driver-side (``plans/report_render``), its precision sentence and color
keyed on the band columns.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def mape_band(mape: Column | str, lo: float = 10.0, hi: float = 50.0) -> Column:
    """MAPE < lo -> alta precision; < hi -> aceptable; else baja
    [generador.py:126-136; edges fuzz-injectable,
    tools/fuzz_oracles.py]."""
    m = _c(mape)
    return (
        F.when(m < lo, F.lit("alta precision"))
        .when(m < hi, F.lit("aceptable"))
        .otherwise(F.lit("baja precision"))
    )


def mape_band_color(mape: Column | str, lo: float = 10.0, hi: float = 50.0) -> Column:
    m = _c(mape)
    return (
        F.when(m < lo, F.lit("green"))
        .when(m < hi, F.lit("orange"))
        .otherwise(F.lit("red"))
    )


def pedido_text(need_reorder: Column | str, qty: Column | str) -> Column:
    """Order recommendation line [generador.py:110-116]."""
    return F.when(
        _c(need_reorder),
        F.format_string(
            "RECOMENDACION CLAVE: Se debe realizar un pedido de %d unidades "
            "para evitar una posible rotura de stock.",
            _c(qty),
        ),
    ).otherwise(
        F.lit(
            "RECOMENDACION CLAVE: No se requiere realizar un pedido inmediato "
            "(el inventario actual esta por encima del ROP)."
        )
    )

