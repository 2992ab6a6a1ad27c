"""Parity-plus relational extras [SURVEY §2.4 note: grouping sets /
distinct aggregates come free from Catalyst; one demo query each so
the capability is oracle-locked].
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..sources.readers import load_table


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


register(
    "rollup_sales_summary",
    q_rollup,
    """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count("*").alias("n_lines"),
    )


register(
    "distinct_counts_per_supplier",
    q_distinct_agg,
    """
SELECT l_suppkey,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_orderkey) AS n_orders,
       count(*) AS n_lines
FROM lineitem GROUP BY 1
""",
)


# -- M3: log1p/expm1 variance-stabilizing transform, native ---------------
# (the transform the reference applies around its model fits,
# PRACTICA3.py:118,124,132,137 — here as a checked round-trip + the
# transformed weekly series itself)
def q_log_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_resample_sum
    from .flagship import KEYS

    weekly = weekly_resample_sum(
        clean_sales(load_table(spark, sf_dir, "lineitem")),
        KEYS,
        "invoice_date",
        "units_sold",
        out_col="units",
    )
    log_u = F.log1p(F.greatest(F.col("units"), F.lit(0.0)))
    return weekly.select(
        *KEYS,
        "week",
        F.round(log_u, 6).alias("log_units"),
        F.round(F.expm1(log_u), 4).alias("roundtrip"),
    )


register(
    "log_transform_weekly",
    q_log_transform,
    """
WITH sales AS (
  SELECT l_partkey AS product_id, l_suppkey AS store_id,
         l_shipdate AS invoice_date,
         coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) AS units_sold
  FROM lineitem
  WHERE coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) >= 0
),
weekly AS (
  SELECT product_id, store_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units
  FROM sales GROUP BY 1, 2, 3
)
SELECT product_id, store_id, week,
       round(ln(1 + greatest(units, 0.0)), 6) AS log_units,
       round(exp(ln(1 + greatest(units, 0.0))) - 1, 4) AS roundtrip
FROM weekly
""",
)


# -- Semi-structured: JSON property extraction over events.props ----------
# (LLM-pipeline staple: metadata lives in JSON side columns; parse
# JVM-side with from_json, never a Python json.loads loop)
def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "k", F.from_json("props", "k INT").getField("k")
    )
    return parsed.groupBy("event_type", "k").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.bround(F.col("value") * 100, 0).cast("long")) / 100.0, 2
        ).alias("total_value"),
    )


register(
    "events_props_json",
    q_props_json,
    """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       count(*) AS n,
       round(sum(CAST(round_even(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total_value
FROM events GROUP BY 1, 2
""",
)


# -- Grouping sets (beyond rollup) ----------------------------------------
def q_grouping_sets_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


register(
    "grouping_sets_summary",
    q_grouping_sets_summary,
    """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)


# -- As-of join: latest order state at each event time ---------------------
# (custom operator via union + last-non-null window; oracle = DuckDB's
# native ASOF JOIN)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ..operators.resample import wall_date

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders")
    # One state row per (customer, day): the highest-priced order that
    # day (deterministic dedupe -> deterministic asof output).
    from pyspark.sql import Window as W

    od = orders.withColumn("o_date", F.to_date("o_orderdate"))
    dedup = (
        od.withColumn(
            "_r",
            F.row_number().over(
                W.partitionBy("o_custkey", "o_date").orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey")
                )
            ),
        )
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    joined = asof_join(
        ev,
        dedup,
        key_left="user_id",
        key_right="o_custkey",
        # load_table normalizes ts to TIMESTAMP_NTZ -> to_date is already
        # wall-clock; the is_instant epoch path is for LTZ columns only.
        time_left=wall_date(F.col("ts")),
        time_right=F.col("o_date"),
        payload_cols=["o_orderkey", "o_totalprice", "o_orderstatus"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )


register(
    "asof_join_latest_order",
    q_asof,
    """
WITH dedup AS (
  SELECT * FROM (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_date,
           o_orderkey, o_totalprice, o_orderstatus,
           row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                              ORDER BY o_totalprice DESC, o_orderkey) AS _r
    FROM orders
  ) WHERE _r = 1
)
SELECT e.event_id, e.user_id, d.o_orderkey,
       round(d.o_totalprice, 2) AS o_totalprice, d.o_orderstatus
FROM events e
ASOF LEFT JOIN dedup d
  ON e.user_id = d.o_custkey AND CAST(e.ts AS DATE) >= d.o_date
""",
)


# -- Pivot: returnflag columns per supplier (conditional-agg oracle) ------
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .na.fill({"A": 0.0, "N": 0.0, "R": 0.0})
    )


register(
    "pivot_qty_by_returnflag",
    q_pivot,
    """
SELECT l_suppkey,
  coalesce(round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2), 0.0) AS A,
  coalesce(round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2), 0.0) AS N,
  coalesce(round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2), 0.0) AS R
FROM lineitem GROUP BY 1
""",
)


# -- Cube (completes rollup/grouping-sets family) -------------------------
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


register(
    "cube_sales_summary",
    q_cube,
    """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)


# -- Range (interval) join: label facts by date intervals ------------------
# (the broadcast-intervals pattern: the interval dim is tiny, the fact
# never shuffles; the range predicate evaluates inside codegen)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    years = spark.range(1995, 2002).select(F.col("id").alias("yr"))
    intervals = years.select(
        F.concat(F.lit("holiday_"), F.col("yr")).alias("season"),
        F.to_date(F.concat(F.col("yr"), F.lit("-11-01"))).alias("d_start"),
        F.to_date(F.concat(F.col("yr"), F.lit("-12-31"))).alias("d_end"),
    )
    ship = li.withColumn("ship_d", F.to_date("l_shipdate"))
    labeled = ship.join(
        F.broadcast(intervals),
        (F.col("ship_d") >= F.col("d_start")) & (F.col("ship_d") <= F.col("d_end")),
        "inner",
    )
    return labeled.groupBy("season").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


register(
    "range_join_holiday_seasons",
    q_range_join,
    """
WITH intervals AS (
  SELECT 'holiday_' || yr AS season,
         CAST(yr || '-11-01' AS DATE) AS d_start,
         CAST(yr || '-12-31' AS DATE) AS d_end
  FROM (SELECT unnest(generate_series(1995, 2001)) AS yr)
)
SELECT season, count(*) AS n, round(sum(l_quantity), 2) AS qty
FROM lineitem
JOIN intervals
  ON CAST(l_shipdate AS DATE) >= d_start AND CAST(l_shipdate AS DATE) <= d_end
GROUP BY 1
""",
)


# -- explicit GROUPING SETS + grouping_id ----------------------------------
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-picked aggregation lattice — GROUPING SETS ((flag,status),
    (flag), ()) — with grouping_id disambiguating subtotal rows from
    real NULL keys. CUBE/ROLLUP (registered above) are the closed
    forms; real reporting pipelines ship exactly this mixed lattice so
    the engine computes all levels in ONE pass (Catalyst plans an
    Expand: each input row fans out once per set, then a single
    hash aggregate — no per-level rescans). Identical SQL text runs on
    both engines; DuckDB's GROUPING() returns the same bitmask."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gsets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               sum(CAST(bround(l_quantity, 0) AS BIGINT)) AS qty
        FROM _li_gsets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


register(
    "grouping_sets_revenue",
    q_grouping_sets,
    """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(round_even(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)


# -- MapType construction + explosion --------------------------------------
def q_map_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: per line status, build a returnflag → qty
    MAP column (map_from_entries over the sorted entry list — sorted
    so map insertion order is deterministic), then explode it back to
    flat rows. Maps are the natural carrier for sparse per-key
    attributes at serving time (feature maps, per-variant counters);
    this proves construction, entry ordering, and explosion against a
    flat-relational oracle. One shuffle (the inner aggregate); the map
    build and explode are narrow."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_linestatus", "l_returnflag").agg(
        F.sum(F.bround("l_quantity", 0).cast("long")).alias("qty")
    )
    mapped = per.groupBy("l_linestatus").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("l_returnflag", "qty")))
        ).alias("qty_by_flag")
    )
    return mapped.select(
        "l_linestatus",
        F.size("qty_by_flag").cast("long").alias("n_flags"),
        F.explode("qty_by_flag").alias("flag", "qty"),
    )


register(
    "map_returnflag_pivot",
    q_map_pivot,
    """
WITH per AS (
  SELECT l_linestatus, l_returnflag,
         CAST(sum(CAST(round_even(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
sized AS (
  SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n_flags FROM per GROUP BY 1
)
SELECT p.l_linestatus, s.n_flags, p.l_returnflag AS flag, p.qty
FROM per p JOIN sized s USING (l_linestatus)
""",
)


# -- As-of join with a staleness tolerance ---------------------------------
def q_asof_tolerance(
    spark: SparkSession, sf_dir: str, *, max_stale_days: int = 7
) -> DataFrame:
    """asof_join_latest_order's production variant: a state older than
    max_stale_days is treated as NO state (feature-store / market-data
    semantics — a quote from last month must not leak into today's
    row). Same union-trick as-of plan (one key shuffle, no inequality
    join); the tolerance is a post-pass null-out on the matched state's
    age, so the scale shape is unchanged. days_stale carries the
    matched state's age for the rows that survive. The tolerance is
    fuzz-injectable (tools/fuzz_oracles.py) — the <= boundary
    convention is re-proved per drawn horizon."""
    from pyspark.sql import Window as W

    from ..operators.asof import asof_join
    from ..operators.resample import wall_date

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders")
    od = orders.withColumn("o_date", F.to_date("o_orderdate"))
    dedup = (
        od.withColumn(
            "_r",
            F.row_number().over(
                W.partitionBy("o_custkey", "o_date").orderBy(
                    F.col("o_totalprice").desc(), F.col("o_orderkey")
                )
            ),
        )
        .filter(F.col("_r") == 1)
        .drop("_r")
    )
    joined = asof_join(
        ev,
        dedup,
        key_left="user_id",
        key_right="o_custkey",
        time_left=wall_date(F.col("ts")),
        time_right=F.col("o_date"),
        payload_cols=["o_orderkey", "o_totalprice", "o_date"],
    )
    stale = F.datediff(wall_date(F.col("ts")), F.col("o_date"))
    fresh = stale <= max_stale_days
    return joined.select(
        "event_id",
        "user_id",
        F.when(fresh, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(fresh, F.round("o_totalprice", 2)).alias("o_totalprice"),
        F.when(fresh, stale.cast("long")).alias("days_stale"),
    )


def asof_join_tolerance_sql(max_stale_days: int = 7) -> str:
    return f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS o_date,
           o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
                              ORDER BY o_totalprice DESC, o_orderkey) AS _r
    FROM orders
  ) WHERE _r = 1
)
SELECT e.event_id, e.user_id,
  CASE WHEN datediff('day', d.o_date, CAST(e.ts AS DATE)) <= {max_stale_days}
       THEN d.o_orderkey END AS o_orderkey,
  CASE WHEN datediff('day', d.o_date, CAST(e.ts AS DATE)) <= {max_stale_days}
       THEN round(d.o_totalprice, 2) END AS o_totalprice,
  CASE WHEN datediff('day', d.o_date, CAST(e.ts AS DATE)) <= {max_stale_days}
       THEN CAST(datediff('day', d.o_date, CAST(e.ts AS DATE)) AS BIGINT)
       END AS days_stale
FROM events e
ASOF LEFT JOIN dedup d
  ON e.user_id = d.o_custkey AND CAST(e.ts AS DATE) >= d.o_date
"""


register("asof_join_tolerance", q_asof_tolerance, asof_join_tolerance_sql())
