"""Inventory-policy formulas as column expressions
[SURVEY §2.7 M7-M8; reference PRACTICA3.py:68-81].

    sigma = population std-dev of train demand (np.std, ddof=0 ->
            stddev_pop; 0 when the series has <= 1 point)
    SS    = z * sigma * sqrt(lead_time)
    DLT   = mean(forecast) * lead_time
    ROP   = DLT + SS
    Q     = max(0, ROP - last_stock)

All outputs floor at 0 and round to integer units
(``int(round(max(0, x)))``, PRACTICA3.py:78-80).
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column

# The reference's configuration block (PRACTICA3.py:35-40), defined once
# for the native plans and the model-fit pass alike.
FORECAST_HORIZON_WEEKS = 4  # PRACTICA3.py:35
MIN_WEEKS = 12  # admission gate: weeks of history (PRACTICA3.py:37)
MIN_TOTAL_SALES = 10  # admission gate: total units (PRACTICA3.py:38)
SERVICE_LEVEL_Z = 1.645  # ~95% service level (PRACTICA3.py:39)
LEAD_TIME_WEEKS = 0.4285  # ~3 days (PRACTICA3.py:40)


def safety_stock(sigma: Column, z: float = SERVICE_LEVEL_Z, lead_time: float = LEAD_TIME_WEEKS) -> Column:
    return F.lit(z) * sigma * F.lit(math.sqrt(lead_time))


def reorder_point(avg_forecast: Column, ss: Column, lead_time: float = LEAD_TIME_WEEKS) -> Column:
    return avg_forecast * F.lit(lead_time) + ss


def qty_to_order(rop: Column, last_stock: Column) -> Column:
    return F.greatest(F.lit(0.0), rop - last_stock)


def to_units(c: Column) -> Column:
    """``int(round(max(0, x)))`` [PRACTICA3.py:78-80].

    Python's round() is banker's (half-even) -> Spark ``bround``
    (DuckDB ``round_even``), not HALF_UP ``round``.
    """
    return F.bround(F.greatest(F.lit(0.0), c), 0).cast("long")


def inventory_columns(sigma: Column, avg_forecast: Column, last_stock: Column) -> dict[str, Column]:
    """The full policy as named expressions, composable into one agg."""
    ss = safety_stock(sigma)
    rop = reorder_point(avg_forecast, ss)
    q = qty_to_order(rop, last_stock)
    return {
        "Safety_Stock": to_units(ss),
        "Reorder_Point": to_units(rop),
        "Qty_to_Order": to_units(q),
    }
