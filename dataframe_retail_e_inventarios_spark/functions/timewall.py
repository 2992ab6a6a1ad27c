"""Timezone-agnostic ("wall-clock") timestamp helpers.

The driver's parquet fixtures have flipped flavor across generations:
naive ``timestamp[us]`` (Spark 4 reads TIMESTAMP_NTZ), UTC-adjusted
``timestamp[us, tz=UTC]`` (TIMESTAMP_LTZ), and even TIMESTAMP(NANOS)
(unreadable without ``nanosAsLong``). DuckDB — the correctness oracle —
reads all of them as its naive TIMESTAMP and never consults a session
timezone. To stay bit-identical with the oracle *under any driver
session timezone*, the engine normalizes every timestamp column to
TIMESTAMP_NTZ carrying the stored wall-clock at the ``load_table``
boundary (``to_wall_ntz``), and all epoch arithmetic goes through
``wall_epoch_micros``/``wall_epoch_seconds`` — a ``timestampdiff`` from
the NTZ epoch literal, which is pure integer arithmetic inside codegen
(no per-row timezone lookups at 100 TB scan width; same property the
round-1 ``wall_date`` trick relied on, resample.py:35).

DuckDB equivalents: ``epoch(ts)`` / ``epoch_us(ts)`` on its naive
TIMESTAMP give exactly these wall-clock values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import TimestampType


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def ntz_epoch() -> Column:
    """The epoch as a TIMESTAMP_NTZ literal."""
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")


def wall_epoch_micros(c: Column | str) -> Column:
    """Microseconds between the epoch and a TIMESTAMP_NTZ wall-clock.

    On NTZ input this is timezone-free by construction. (If handed an
    LTZ column — e.g. a test frame built outside ``load_table`` — the
    NTZ epoch literal coerces to the session timezone and the result
    degrades to ``unix_micros`` semantics, which is identical under
    the UTC sessions our builder pins.)
    """
    return F.timestamp_diff("MICROSECOND", ntz_epoch(), _c(c)).cast("long")


def wall_epoch_seconds(c: Column | str) -> Column:
    """Whole seconds since the epoch of a wall-clock timestamp
    (floor division, matching DuckDB ``epoch(ts)::BIGINT`` on naive
    input for non-negative epochs)."""
    return F.timestamp_diff("SECOND", ntz_epoch(), _c(c)).cast("long")


def wall_ntz_from_micros(us: Column) -> Column:
    """TIMESTAMP_NTZ whose wall-clock equals ``us`` microseconds past
    the epoch — the inverse of ``wall_epoch_micros``."""
    return F.timestamp_add("MICROSECOND", us.cast("long"), ntz_epoch())


def to_wall_ntz(df: DataFrame) -> DataFrame:
    """Normalize every timestamp column to TIMESTAMP_NTZ.

    - TIMESTAMP_NTZ columns pass through untouched (the common case
      with naive parquet fixtures — zero plan overhead).
    - TIMESTAMP_LTZ columns are rebuilt from their raw epoch micros so
      the NTZ wall-clock is the **UTC** rendering of the instant
      regardless of session timezone (``cast`` would render in session
      time and silently shift, the exact trap resample.wall_date
      documents).
    """
    instant_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)
    ]
    for name in instant_cols:
        df = df.withColumn(name, wall_ntz_from_micros(F.unix_micros(F.col(name))))
    return df
