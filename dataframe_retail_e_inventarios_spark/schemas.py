"""Explicit StructTypes for every table the engine touches.

The reference infers all schemas from CSV (``PRACTICA3.py:183``,
``generador.py:31``); at scale, inference means an extra full scan and
nondeterministic typing, so every reader here takes an explicit schema.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Main sales fact as consumed after the reference's rename
# (PRACTICA3.py:183-194): InvoiceDate/Product_ID/Store_ID/Units_Sold.
VENTAS_SCHEMA = StructType(
    [
        StructField("InvoiceDate", TimestampType()),
        StructField("StockCode", StringType()),
        StructField("Country", StringType()),
        # Raw Quantity may contain garbage; read as string, coerce later
        # with try_cast (matches pd.to_numeric(errors="coerce"),
        # PRACTICA3.py:193).
        StructField("Quantity", StringType()),
    ]
)

# Engine output / report input (PRACTICA3.py:165-175 -> generador.py:31-84)
# in its CSV round-trip form: Forecast/Test arrays stringified, as the
# reference's to_csv produces at PRACTICA3.py:209 (FIXTURES.md §3).
FORECAST_RESULTS_CSV_SCHEMA = StructType(
    [
        StructField("SKU", StringType()),
        StructField("Store", StringType()),
        StructField("MAPE", DoubleType()),
        StructField("Forecast", StringType()),
        StructField("Test", StringType()),
        StructField("Safety_Stock", LongType()),
        StructField("Reorder_Point", LongType()),
        StructField("Qty_to_Order", LongType()),
        StructField("Runtime_sec", DoubleType()),
    ]
)

# Driver synthetic tables (FIXTURES.md §4). Parquet carries its own
# schema; these exist for schema assertions and CSV variants.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

__all__ = [
    "VENTAS_SCHEMA",
    "FORECAST_RESULTS_CSV_SCHEMA",
    "TESTDATA_SCHEMAS",
    "BooleanType",
]
