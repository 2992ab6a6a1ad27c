"""Readers [SURVEY §2.1 S1-S3, S5].

All CSV reads take an explicit schema (never ``inferSchema`` — an extra
full scan and nondeterministic typing at 100 TB). Parquet is the
primary format: columnar at rest, predicate pushdown + column pruning
reach the scan, and ArrayType columns stay native (no stringify/reparse
round-trip, unlike the reference's CSV intermediate —
``PRACTICA3.py:209`` / ``generador.py:46-69``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with explicit schema [S1/S2: PRACTICA3.py:183, generador.py:31].

    Timestamp columns parse directly from the schema (the reference's
    ``parse_dates=``); malformed rows become nulls (PERMISSIVE), the
    moral equivalent of ``errors='coerce'`` downstream.
    """
    return spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSONL scan with explicit schema — the canonical training-data
    interchange format (one document object per line). Explicit schema
    for the same reason as CSV: ``inferSchema``/sampling costs an extra
    pass and yields nondeterministic types at corpus scale. Corrupt
    lines land in nulls (PERMISSIVE) rather than failing the scan."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (schema from file metadata, like parquet)."""
    return spark.read.orc(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw-text scan: one row per line in a single ``value`` string
    column — the entry format for unstructured corpus ingest before
    any parsing (each line becomes a document candidate)."""
    return spark.read.text(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    Timestamp columns are normalized to TIMESTAMP_NTZ wall-clocks
    (functions/timewall.to_wall_ntz): the fixture generator has
    flipped between naive and UTC-adjusted parquet timestamps across
    rounds, and NTZ is the flavor that matches the DuckDB oracle's
    naive TIMESTAMP under any session timezone.

    ``events.ts`` has additionally appeared as parquet
    TIMESTAMP(NANOS), which Spark cannot read natively
    (PARQUET_TYPE_ILLEGAL); with the ``nanosAsLong`` legacy conf it
    arrives as LongType nanos, which we truncate to a micro
    timestamp — exactly what DuckDB does when it reads the same file,
    keeping both engines bucket-identical.
    """
    from ..functions.timewall import to_wall_ntz, wall_ntz_from_micros

    if name == "events":
        path = os.path.join(sf_dir, "events.parquet")
        # Probe the footer driver-side (pyarrow, no session mutation)
        # and only flip the legacy conf when the file actually carries
        # TIMESTAMP(NANOS). The conf is consulted again at scan
        # execution, so it cannot be save-restored around the read; in
        # a nanos environment it stays set for the session (documented
        # as the engine's one deliberate session-scoped setting).
        import pyarrow.dataset as pads

        # dataset() handles both single files and Spark-written
        # directories of part files
        ts_type = str(pads.dataset(path, format="parquet").schema.field("ts").type)
        if ts_type.startswith("timestamp[ns"):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", wall_ntz_from_micros(F.floor(F.col("ts") / 1000))
            )
        return to_wall_ntz(df)
    return to_wall_ntz(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
