"""Relational operator queries: projections/cleaning, join family,
window ops, sorts/top-k, set ops [SURVEY §2.2, §2.3, §2.5, §2.6].

Every query pairs with a DuckDB oracle; all heavy work is expressed so
Catalyst pushes filters/projections into the parquet scan and AQE
handles runtime sizing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.cleaning import coerce_numeric, rename_if_present, round_to_long
from ..operators.resample import daily_resample_sum, densify_days
from ..operators.split import add_lags
from ..registry import register
from ..sources.readers import load_table


# -- P1-P5, P11-P12: the cleaning block as one projection -------------------
def q_clean_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rename -> coerce (null-on-error) -> fillna -> filter -> round/cast
    [PRACTICA3.py:186-194, generador.py:41-46, 83-84]."""
    df = load_table(spark, sf_dir, "lineitem")
    df = rename_if_present(
        df, {"l_partkey": "Product_ID", "l_suppkey": "Store_ID", "l_quantity": "Units_Sold"}
    )
    df = coerce_numeric(df, "Units_Sold")
    df = df.na.fill({"Units_Sold": 0.0})
    df = df.filter(F.col("Units_Sold") >= 0)
    return df.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("Product_ID").cast("string").alias("product_code"),
        F.col("Store_ID").alias("store_id"),
        F.col("Units_Sold").alias("units"),
        round_to_long(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price_units"),
    )


register(
    "clean_project_filter",
    q_clean_project,
    """
SELECT l_orderkey AS order_id,
       l_linenumber AS line_no,
       CAST(l_partkey AS VARCHAR) AS product_code,
       l_suppkey AS store_id,
       coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) AS units,
       CAST(round_even(l_extendedprice * (1 - l_discount), 0) AS BIGINT) AS net_price_units
FROM lineitem
WHERE coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) >= 0
""",
)


# -- P6: conjunctive equality predicate (limpieza_de_datos.py:17) ----------
def q_conjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "lineitem")
    return (
        df.filter((F.col("l_partkey") % 100 == 0) & (F.col("l_suppkey") % 10 == 0))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    )


register(
    "conjunctive_filter",
    q_conjunctive_filter,
    """
SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
FROM lineitem
WHERE l_partkey % 100 = 0 AND l_suppkey % 10 = 0
""",
)


# -- A3 + W2 + P8: daily resample -> lag features -> dropna ----------------
# (the notebook flow, limpieza_de_datos.py:23-29, on the events table)
def q_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = daily_resample_sum(ev, ["event_type"], "ts", "value")
    daily = densify_days(daily.withColumnRenamed("value", "y"), ["event_type"])
    lagged = add_lags(daily, ["event_type"], "ds", "y")
    return (
        lagged.na.drop(subset=["lag1", "lag7"])
        .select(
            "event_type",
            "ds",
            F.round("y", 4).alias("y"),
            F.round("lag1", 4).alias("lag1"),
            F.round("lag7", 4).alias("lag7"),
        )
    )


register(
    "daily_lag_features",
    q_daily_lags,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS ds, sum(value) AS y
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(ds) AS mn, max(ds) AS mx FROM daily GROUP BY 1
),
spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                     CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS ds
  FROM bounds
),
dense AS (
  SELECT s.event_type, s.ds, coalesce(d.y, 0.0) AS y
  FROM spine s LEFT JOIN daily d USING (event_type, ds)
),
lagged AS (
  SELECT event_type, ds, y,
         lag(y, 1) OVER (PARTITION BY event_type ORDER BY ds) AS lag1,
         lag(y, 7) OVER (PARTITION BY event_type ORDER BY ds) AS lag7
  FROM dense
)
SELECT event_type, ds, round(y, 4) AS y, round(lag1, 4) AS lag1,
       round(lag7, 4) AS lag7
FROM lagged WHERE lag1 IS NOT NULL AND lag7 IS NOT NULL
""",
)


# -- J1 + A12-A15: forecast-vs-actuals alignment join + backtest metrics ---
# (limpieza_de_datos.py:42-46; seasonal-naive pred = lag-7 value)
def q_backtest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = densify_days(
        daily_resample_sum(ev, ["event_type"], "ts", "value")
        .withColumnRenamed("value", "y"),
        ["event_type"],
    )
    w = Window.partitionBy("event_type").orderBy("ds")
    scored = daily.withColumn("pred", F.lag("y", 7).over(w)).na.drop(subset=["pred"])
    from ..functions.metrics import mae, mape, rmse, smape

    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(mape("y", "pred"), 4).alias("mape"),
        F.round(smape("y", "pred"), 4).alias("smape"),
        F.round(rmse("y", "pred"), 4).alias("rmse"),
        F.round(mae("y", "pred"), 4).alias("mae"),
    )


register(
    "backtest_metrics",
    q_backtest_metrics,
    """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS ds, sum(value) AS y
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(ds) AS mn, max(ds) AS mx FROM daily GROUP BY 1),
spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS ds
  FROM bounds
),
dense AS (
  SELECT s.event_type, s.ds, coalesce(d.y, 0.0) AS y
  FROM spine s LEFT JOIN daily d USING (event_type, ds)
),
scored AS (
  SELECT *, lag(y, 7) OVER (PARTITION BY event_type ORDER BY ds) AS pred
  FROM dense
)
SELECT event_type,
  count(*) AS n_days,
  round(coalesce(avg(CASE WHEN y != 0 THEN abs((y - pred) / y) END) * 100,
                 avg(abs(y - pred))), 4) AS mape,
  round(coalesce(avg(CASE WHEN abs(y) + abs(pred) != 0
                     THEN 2.0 * abs(pred - y) / (abs(y) + abs(pred)) END) * 100,
                 avg(abs(y - pred))), 4) AS smape,
  round(sqrt(avg(pow(y - pred, 2))), 4) AS rmse,
  round(avg(abs(y - pred)), 4) AS mae
FROM scored WHERE pred IS NOT NULL
GROUP BY event_type
""",
)


# -- Join family over the star schema --------------------------------------
def q_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-joins with broadcast dims: revenue per region/nation.
    The fact (lineitem) never shuffles for dimension joins."""
    from ..functions.exact import exact_money_sum

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )
    return rev


register(
    "star_join_revenue",
    q_star_join_revenue,
    """
SELECT r_name, n_name,
       CAST(round_even(CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) / 1e2, 0) AS BIGINT) / 1e2 AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
""",
)


def q_left_join_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join preserving unmatched rows + null-aware aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    from ..functions.exact import exact_decimal_sum

    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.round(exact_decimal_sum(F.col("o_totalprice"), 2), 2).alias("total_spent"),
    )
    return (
        cust.join(agg, cust.c_custkey == agg.o_custkey, "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
        )
    )


register(
    "left_join_null_fill",
    q_left_join_nulls,
    """
SELECT c_custkey, c_mktsegment,
       coalesce(a.n_orders, 0) AS n_orders,
       coalesce(a.total_spent, 0.0) AS total_spent
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders,
         round(sum(CAST(round_even(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2) AS total_spent
  FROM orders GROUP BY 1
) a ON c_custkey = a.o_custkey
""",
)


def q_semi_join(spark: SparkSession, sf_dir: str, *, status: str = "O") -> DataFrame:
    """Customers with at least one open (status) order (left-semi).
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == status
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def semi_join_open_orders_sql(status: str = "O") -> str:
    return f"""
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = '{status}')
"""


register("semi_join_open_orders", q_semi_join, semi_join_open_orders_sql())


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (left-anti)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


register(
    "anti_join_no_orders",
    q_anti_join,
    """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)


# -- Set ops: unionByName of two period slices (SURVEY §2.6 parity-plus) ---
def q_union_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.year("l_shipdate") == 1998).select(
        "l_orderkey", "l_partkey", "l_quantity", F.lit("y1998").alias("period")
    )
    b = li.filter(F.year("l_shipdate") == 1999).select(
        "l_partkey", "l_orderkey", "l_quantity", F.lit("y1999").alias("period")
    )  # shuffled column order: unionByName aligns by name
    return (
        a.unionByName(b)
        .groupBy("period")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


register(
    "union_two_periods",
    q_union_periods,
    """
SELECT period, count(*) AS n, round(sum(l_quantity), 2) AS qty FROM (
  SELECT l_orderkey, l_partkey, l_quantity, 'y1998' AS period
  FROM lineitem WHERE year(l_shipdate) = 1998
  UNION ALL
  SELECT l_orderkey, l_partkey, l_quantity, 'y1999' AS period
  FROM lineitem WHERE year(l_shipdate) = 1999
) GROUP BY 1
""",
)


def q_intersect_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in BOTH years — DataFrame.intersect (set
    semantics, SURVEY §2.6 parity-plus). Compiles to a distinct +
    left-semi shape, never a cross join."""
    orders = load_table(spark, sf_dir, "orders")
    y98 = orders.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    y99 = orders.filter(F.year("o_orderdate") == 1999).select("o_custkey")
    return y98.intersect(y99)


register(
    "intersect_repeat_customers",
    q_intersect_repeat_customers,
    """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1999
""",
)


def q_except_all_part_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference of part demand between two years —
    DataFrame.exceptAll preserves multiplicity (a part ordered 5x in
    1998 and 2x in 1999 survives 3x), then the excess is aggregated.
    [SURVEY §2.6 parity-plus]."""
    li = load_table(spark, sf_dir, "lineitem")
    y98 = li.filter(F.year("l_shipdate") == 1998).select("l_partkey")
    y99 = li.filter(F.year("l_shipdate") == 1999).select("l_partkey")
    return (
        y98.exceptAll(y99)
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_excess"))
    )


register(
    "except_all_part_demand",
    q_except_all_part_demand,
    """
SELECT l_partkey, count(*) AS n_excess FROM (
  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1998
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1999
) GROUP BY 1
""",
)


def q_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function family over one per-supplier window
    (SURVEY §2.5 parity-plus): rank / dense_rank / percent_rank /
    ntile / cume_dist share a single sort within the supplier
    partitioning — five outputs off one window sort. Two shuffles by
    design: the (suppkey, partkey) aggregate exchange runs AFTER the
    map-side partial sum (raw lineitem rows never shuffle whole), and
    the supplier window then exchanges only the aggregated pair rows
    (~6x fewer) — cheaper at scale than forcing one exchange by
    pre-clustering raw rows on suppkey (plan_audit: max 2)."""
    from ..functions.exact import exact_decimal_sum

    li = load_table(spark, sf_dir, "lineitem")
    # No outer round(., 2): the exact scaled-integer sum gives both
    # engines the same BIGINT, so N/10000.0 is the same double on both
    # sides; a 2-decimal round would create .005 ties that Spark
    # (half-up) and DuckDB (half-even) break differently.
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        exact_decimal_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("rev")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("rev").desc(), F.col("l_partkey"))
    return rev.select(
        "l_suppkey",
        "l_partkey",
        "rev",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        # bround-scale, not round(x, 6): percent_rank/cume_dist are
        # int/int divisions (identical doubles on both engines), but
        # round(double, n) itself diverges at representation
        # boundaries — found as 1e-6 flips at sf0.1, invisible below.
        (F.bround(F.percent_rank().over(w) * 1e6, 0) / 1e6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        (F.bround(F.cume_dist().over(w) * 1e6, 0) / 1e6).alias("cdist"),
    )


register(
    "window_rank_family",
    q_rank_family,
    """
WITH rev_t AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS rev
  FROM lineitem GROUP BY 1, 2
)
SELECT l_suppkey, l_partkey, rev,
  CAST(rank() OVER w AS BIGINT) AS rnk,
  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
  round_even(percent_rank() OVER w * 1e6, 0) / 1e6 AS prnk,
  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
  round_even(cume_dist() OVER w * 1e6, 0) / 1e6 AS cdist
FROM rev_t
WINDOW w AS (PARTITION BY l_suppkey ORDER BY rev DESC, l_partkey)
""",
)


# -- W4/O1-O2: top-k per group via row_number ------------------------------
def q_topk_per_group(spark: SparkSession, sf_dir: str, *, k: int = 3) -> DataFrame:
    """Top-k parts per supplier by revenue — rank inside the group, no
    global sort (SURVEY §2.5 parity-plus; the flagship's top-k
    pattern). Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    from ..functions.exact import exact_decimal_sum

    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        exact_decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    w = Window.partitionBy("l_suppkey").orderBy(F.col("rev").desc(), F.col("l_partkey"))
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "l_suppkey",
            "l_partkey",
            # bround-scale (half-even) instead of round(x, 2): the
            # 4-decimal exact sum hits .xx5 boundaries at scale where
            # Spark's and DuckDB's round() implementations split by a
            # cent (observed at sf0.1).
            (F.bround(F.col("rev") * 100.0, 0) / 100.0).alias("rev"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def topk_parts_per_supplier_sql(k: int = 3) -> str:
    return f"""
SELECT l_suppkey, l_partkey, round_even(rev * 100.0, 0) / 100.0 AS rev, rk FROM (
  SELECT l_suppkey, l_partkey, rev,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY rev DESC, l_partkey) AS rk
  FROM (
    SELECT l_suppkey, l_partkey,
           sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) / 10000.0 AS rev
    FROM lineitem GROUP BY 1, 2
  )
) WHERE rk <= {k}
"""


register("topk_parts_per_supplier", q_topk_per_group, topk_parts_per_supplier_sql())


# -- W5: deterministic last-value-per-group --------------------------------
def q_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train.iloc[-1] generalization [PRACTICA3.py:75]: latest lineitem
    per (part, supplier) with a total deterministic tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey", "l_suppkey").orderBy(
        F.col("l_shipdate").desc(), F.col("l_orderkey").desc(), F.col("l_linenumber").desc()
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_partkey", "l_suppkey", "l_shipdate", "l_quantity", "l_orderkey")
    )


register(
    "last_sale_per_series",
    q_last_per_group,
    """
SELECT l_partkey, l_suppkey, l_shipdate, l_quantity, l_orderkey FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_partkey, l_suppkey
    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rk
  FROM lineitem
) WHERE rk = 1
""",
)


# -- W3: trailing moving average (PRACTICA3.py:143-145) --------------------
def q_trailing_ma(spark: SparkSession, sf_dir: str, *, window: int = 4) -> DataFrame:
    """window-week trailing MA over each weekly series (frame
    rowsBetween(-(window-1), 0)). Keyword constants are
    fuzz-injectable (tools/fuzz_oracles.py)."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample
    from .flagship import KEYS

    dense = weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")), KEYS, "invoice_date", "units_sold"
    )
    w = Window.partitionBy(*KEYS).orderBy("week").rowsBetween(-(window - 1), 0)
    return dense.select(
        *KEYS,
        "week",
        F.round("units_sold", 2).alias("units"),
        F.round(F.avg("units_sold").over(w), 4).alias("ma4"),
    )


from . import oracle_fragments as _OF  # noqa: E402


def trailing_moving_average_sql(window: int = 4) -> str:
    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
{_OF.WEEKLY_CTE.strip()},
{_OF.DENSE_CTE.strip()}
SELECT product_id, store_id, week, round(units_sold, 2) AS units,
       round(avg(units_sold) OVER (
         PARTITION BY product_id, store_id ORDER BY week
         ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW), 4) AS ma4
FROM dense
"""


register("trailing_moving_average", q_trailing_ma, trailing_moving_average_sql())


# -- Round 7, part 4: classic warehouse join shapes -------------------------
# TPC-H Q7/Q10/Q22 silhouettes over the star schema [SURVEY §2.3 join
# family widening]. Each keeps money exact-integer inside the plan
# (functions/exact.py) and broadcasts every dimension so the fact table
# shuffles at most once.


def q_volume_shipping(
    spark: SparkSession, sf_dir: str, *, y0: int = 1996, y1: int = 1997
) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between supplier and
    customer nations by ship year. The fact scans once with the year
    filter pushed to parquet; supplier, customer, and BOTH nation
    aliases broadcast (two tiny hash joins, no fact shuffle until the
    final group-by); revenue is the exact scaled-integer sum.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    from ..functions.exact import exact_money_sum

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").between(y0, y1)
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    n_s = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_c = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def volume_shipping_sql(y0: int = 1996, y1: int = 1997) -> str:
    return f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(round_even(CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) / 1e2, 0) AS BIGINT) / 1e2 AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE year(l_shipdate) BETWEEN {y0} AND {y1}
  AND ns.n_name <> nc.n_name
GROUP BY 1, 2, 3
"""


register("volume_shipping_nation_pairs", q_volume_shipping, volume_shipping_sql())


def q_returned_item_losses(
    spark: SparkSession,
    sf_dir: str,
    *,
    year: int = 1996,
    flag: str = "R",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top-k customers by revenue lost to returned
    items (flag lines on one year's orders). Ordering runs on the
    EXACT scaled-integer revenue (ties broken by c_custkey) so the
    top-k set is deterministic and engine-independent; the rounded
    double is derived after the cut. orderBy().limit(k) compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == flag)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == year
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev_i = F.sum(
        F.bround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
            "long"
        )
    ).alias("rev_i")
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rev_i, F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("rev_i").desc(), F.col("c_custkey"))
        .limit(k)
    )
    return top.select(
        "c_custkey",
        "c_name",
        "n_name",
        (F.bround(F.col("rev_i") / F.lit(100.0), 0).cast("long") / F.lit(100.0)).alias(
            "lost_revenue"
        ),
        "n_lines",
    )


def returned_item_losses_sql(year: int = 1996, flag: str = "R", k: int = 20) -> str:
    return f"""
WITH agg AS (
  SELECT c_custkey, c_name, n_name,
         CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS rev_i,
         count(*) AS n_lines
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  WHERE l_returnflag = '{flag}' AND year(o_orderdate) = {year}
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name,
       CAST(round_even(rev_i / 1e2, 0) AS BIGINT) / 1e2 AS lost_revenue, n_lines
FROM agg
ORDER BY rev_i DESC, c_custkey
LIMIT {k}
"""


register("returned_item_losses", q_returned_item_losses, returned_item_losses_sql())


def q_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive account
    balance who have never ordered, rolled up by market segment. The
    above-average test stays integer-exact — cents * n_pos >
    total_cents avoids a double average entirely — the global scalar
    arrives via a broadcast 1-row cross join (no driver action, no
    collect), and "never ordered" is a left-anti join (Spark's
    null-safe NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.bround(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    stats = cust.filter(F.col("cents") > 0).agg(
        F.sum("cents").cast("long").alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    elig = cust.crossJoin(F.broadcast(stats)).filter(
        F.col("cents") * F.col("n_pos") > F.col("total_cents")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    never = elig.join(orders, elig.c_custkey == orders.o_custkey, "left_anti")
    return never.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("cents") / 1e2, 2).alias("total_acctbal"),
    )


register(
    "global_sales_opportunity",
    q_global_sales_opportunity,
    """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round_even(c_acctbal * 100, 0) AS BIGINT) AS cents
  FROM customer
),
stats AS (
  SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(count(*) AS BIGINT) AS n_pos
  FROM c WHERE cents > 0
),
elig AS (
  SELECT c.* FROM c CROSS JOIN stats s
  WHERE c.cents * s.n_pos > s.total_cents
),
never AS (
  SELECT * FROM elig e
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = e.c_custkey)
)
SELECT c_mktsegment, count(*) AS n_cust,
       round(CAST(sum(cents) AS BIGINT) / 1e2, 2) AS total_acctbal
FROM never GROUP BY 1
""",
)


# -- Round 7, part 5: predicate/aggregate silhouettes (Q6/Q14/Q17/Q18/Q19)
# Each exercises a distinct plan feature: pure scan pushdown, join-side
# conditional aggregation, self-join against a per-group average,
# HAVING-gated semi-join, and a disjunctive multi-table predicate.


def q_forecasted_discount_revenue(
    spark: SparkSession,
    sf_dir: str,
    *,
    year: int = 1997,
    d_lo: float = 0.05,
    d_hi: float = 0.07,
    qty_cap: int = 24,
) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue effect of eliminating a
    discount band. NO join, no group-by — the whole query is a
    conjunctive range predicate that must reach the parquet scan
    (PushedFilters on quantity + discount) feeding one exact 4dp sum;
    the emitted double is the unrounded single division.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == year)
        & (F.col("l_discount") >= d_lo)
        & (F.col("l_discount") <= d_hi)
        & (F.col("l_quantity") < qty_cap)
    )
    rev_i = F.sum(
        F.bround(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0).cast("long")
    )
    return li.agg(
        (rev_i / F.lit(1e4)).alias("revenue_effect"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def forecasted_discount_revenue_sql(
    year: int = 1997, d_lo: float = 0.05, d_hi: float = 0.07, qty_cap: int = 24
) -> str:
    return f"""
SELECT CAST(sum(CAST(round_even(l_extendedprice * l_discount * 10000, 0) AS BIGINT)) AS BIGINT) / 1e4 AS revenue_effect,
       count(*) AS n_lines
FROM lineitem
WHERE year(l_shipdate) = {year}
  AND l_discount >= {d_lo} AND l_discount <= {d_hi}
  AND l_quantity < {qty_cap}
"""


register(
    "forecasted_discount_revenue",
    q_forecasted_discount_revenue,
    forecasted_discount_revenue_sql(),
)


def q_promo_revenue_share(
    spark: SparkSession,
    sf_dir: str,
    *,
    year: int = 1997,
    months: tuple = (6, 7, 8),
    ptype: str = "PROMO",
) -> DataFrame:
    """TPC-H Q14 shape: PROMO parts' share of summer-1997 revenue.
    Conditional aggregation AFTER a broadcast part join — one scan, two
    exact integer sums, share = one double expression over the two
    BIGINTs (no intermediate rounding). Keyword constants are
    fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == year) & (F.month("l_shipdate").isin(*months))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_i = F.bround(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == ptype, disc_i).otherwise(F.lit(0)))
        .cast("long")
        .alias("promo_i"),
        F.sum(disc_i).cast("long").alias("total_i"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    return agg.select(
        (F.col("promo_i") / F.lit(1e4)).alias("promo_revenue"),
        (F.col("total_i") / F.lit(1e4)).alias("total_revenue"),
        ((F.lit(100.0) * F.col("promo_i")) / F.col("total_i")).alias("promo_share_pct"),
        "n_lines",
    )


def promo_revenue_share_sql(
    year: int = 1997, months: tuple = (6, 7, 8), ptype: str = "PROMO"
) -> str:
    mlist = ", ".join(str(m) for m in months)
    return f"""
WITH agg AS (
  SELECT CAST(sum(CASE WHEN p_type = '{ptype}'
                       THEN CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS promo_i,
         CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS total_i,
         count(*) AS n_lines
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = {year} AND month(l_shipdate) IN ({mlist})
)
SELECT promo_i / 1e4 AS promo_revenue,
       total_i / 1e4 AS total_revenue,
       (1e2 * promo_i) / total_i AS promo_share_pct,
       n_lines
FROM agg
"""


register("promo_revenue_share", q_promo_revenue_share, promo_revenue_share_sql())


def q_small_quantity_avg_yearly(
    spark: SparkSession, sf_dir: str, *, inv_factor: int = 5
) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue lost if orders below 1/inv_factor
    of a part's average quantity were not taken. The per-part average
    join is the interesting plan: lineitem aggregates to part grain,
    joins BACK to lineitem on l_partkey (shuffle join — at 100 TB both
    sides are fact-sized and co-partition on the key; no broadcast),
    and the below-average test stays integer-exact:
    inv_factor*qty_i*n < sumq_i avoids the double average entirely.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.bround(F.col("l_quantity") * 100, 0).cast("long").alias("qty_i"),
        F.bround(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_i"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty_i").cast("long").alias("sumq_i"),
        F.count(F.lit(1)).alias("n_li"),
    )
    small = li.join(per_part, "l_partkey").filter(
        F.lit(inv_factor) * F.col("qty_i") * F.col("n_li") < F.col("sumq_i")
    )
    return small.agg(
        (F.sum("price_i").cast("long") / F.lit(7e2)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


def small_quantity_avg_yearly_sql(inv_factor: int = 5) -> str:
    return f"""
WITH li AS (
  SELECT l_partkey,
         CAST(round_even(l_quantity * 100, 0) AS BIGINT) AS qty_i,
         CAST(round_even(l_extendedprice * 100, 0) AS BIGINT) AS price_i
  FROM lineitem
),
per_part AS (
  SELECT l_partkey, CAST(sum(qty_i) AS BIGINT) AS sumq_i,
         CAST(count(*) AS BIGINT) AS n_li
  FROM li GROUP BY 1
)
SELECT CAST(sum(price_i) AS BIGINT) / 7e2 AS avg_yearly,
       count(*) AS n_small_lines
FROM li JOIN per_part USING (l_partkey)
WHERE {inv_factor} * qty_i * n_li < sumq_i
"""


register(
    "small_quantity_avg_yearly",
    q_small_quantity_avg_yearly,
    small_quantity_avg_yearly_sql(),
)


def q_large_volume_customers(
    spark: SparkSession, sf_dir: str, *, qty_min: int = 150
) -> DataFrame:
    """TPC-H Q18 shape: customers whose single order exceeds qty_min
    units total. The HAVING gate runs on the lineitem aggregate BEFORE
    any join (the shrunken order list then drives semi-join-sized
    probes into orders and a broadcast customer enrichment).
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.bround(F.col("l_quantity") * 100, 0).cast("long")).alias("qty_i"))
        .filter(F.col("qty_i") > qty_min * 100)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("l_orderkey").alias("o_orderkey"),
            "o_totalprice",
            (F.col("qty_i") / F.lit(1e2)).alias("total_qty"),
        )
    )


def large_volume_customers_sql(qty_min: int = 150) -> str:
    return f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round_even(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS qty_i
  FROM lineitem GROUP BY 1
  HAVING qty_i > {qty_min * 100}
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice,
       qty_i / 1e2 AS total_qty
FROM big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


register("large_volume_customers", q_large_volume_customers, large_volume_customers_sql())


# (brand, size_lo, size_hi, qty_lo, qty_hi) disjuncts; the scan
# envelope is max(qty_hi) over the bands.
_Q19_BANDS = (
    ("Brand#12", 1, 15, 1, 15),
    ("Brand#23", 1, 25, 10, 25),
    ("Brand#34", 1, 35, 20, 35),
)


def q_brand_size_band_revenue(
    spark: SparkSession, sf_dir: str, *, bands: tuple = _Q19_BANDS
) -> DataFrame:
    """TPC-H Q19 shape (adapted to this schema's columns): revenue from
    disjunctive brand/size/quantity bands. The OR-of-ANDs mixes
    columns from both tables, so only the union envelope
    (l_quantity <= max qty_hi) can push to the scan; the band
    predicate evaluates post-join inside codegen. Keyword constants
    are fuzz-injectable (tools/fuzz_oracles.py)."""
    envelope = max(b[4] for b in bands)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") <= envelope)
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = None
    for brand, s_lo, s_hi, q_lo, q_hi in bands:
        clause = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        band = clause if band is None else (band | clause)
    rev_i = F.sum(
        F.bround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
            "long"
        )
    )
    return j.filter(band).agg(
        (rev_i / F.lit(1e4)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def brand_size_band_revenue_sql(bands: tuple = _Q19_BANDS) -> str:
    envelope = max(b[4] for b in bands)
    disjuncts = "\n    OR ".join(
        f"(p_brand = '{brand}' AND p_size BETWEEN {s_lo} AND {s_hi} "
        f"AND l_quantity BETWEEN {q_lo} AND {q_hi})"
        for brand, s_lo, s_hi, q_lo, q_hi in bands
    )
    return f"""
SELECT CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) / 1e4 AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity <= {envelope}
  AND ({disjuncts})
"""


register(
    "brand_size_band_revenue",
    q_brand_size_band_revenue,
    brand_size_band_revenue_sql(),
)


# -- round-8 classic-join silhouettes: Q3 / Q5 / Q8 / Q15 --------------------
# Same discipline as the Q7/Q10/Q22 family above: money exact-integer
# inside the plan, every dimension broadcast, the fact shuffles at most
# once, top-k via TakeOrderedAndProject. Q4/Q9/Q11/Q12/Q16/Q20/Q21 need
# columns the testdata schema does not carry (commitdate/receiptdate/
# shipmode/partsupp) and are intentionally out of scope.
_Q3_CUTOFF = "1998-07-01"


def q_shipping_priority(
    spark: SparkSession,
    sf_dir: str,
    *,
    cutoff: str = _Q3_CUTOFF,
    segment: str = "BUILDING",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top-k unshipped orders by revenue for one
    market segment — orders placed before the cutoff with lines still
    shipping after it. The segment filter prunes the broadcast
    customer side; both date predicates push to the parquet scans;
    the per-order aggregate groups on the already-co-keyed
    (l_orderkey, o_orderdate, o_orderpriority) so the fact shuffles
    once; the cut is TakeOrderedAndProject on the EXACT integer
    revenue with the order key as tiebreak. Keyword constants are
    fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit(cutoff)
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit(cutoff)
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == segment
    )
    rev_i = F.sum(
        F.bround(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0)
        .cast("long")
    ).alias("rev_i")
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(rev_i, F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("rev_i").desc(), F.col("l_orderkey"))
        .limit(k)
    )
    return top.select(
        F.col("l_orderkey").alias("orderkey"),
        (F.bround(F.col("rev_i") / F.lit(100.0), 0).cast("long") / F.lit(100.0))
        .alias("revenue"),
        "order_date",
        "o_orderpriority",
        "n_lines",
    )


def shipping_priority_sql(
    cutoff: str = _Q3_CUTOFF, segment: str = "BUILDING", k: int = 10
) -> str:
    return f"""
WITH agg AS (
  SELECT l_orderkey AS orderkey,
         CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS rev_i,
         CAST(o_orderdate AS DATE) AS order_date,
         o_orderpriority,
         count(*) AS n_lines
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = '{segment}'
    AND CAST(o_orderdate AS DATE) < DATE '{cutoff}'
    AND CAST(l_shipdate AS DATE) > DATE '{cutoff}'
  GROUP BY 1, 3, 4
)
SELECT orderkey,
       CAST(round_even(rev_i / 1e2, 0) AS BIGINT) / 1e2 AS revenue,
       order_date, o_orderpriority, n_lines
FROM agg
ORDER BY rev_i DESC, orderkey
LIMIT {k}
"""


register("shipping_priority_topk", q_shipping_priority, shipping_priority_sql())


def q_local_supplier_volume(
    spark: SparkSession, sf_dir: str, *, region: str = "ASIA", year: int = 1996
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation from orders where customer
    and supplier share the nation, one region, one year. The
    region->nation chain collapses into ONE broadcast dim (5 rows);
    customer and supplier broadcast; the c_nationkey = s_nationkey
    equality is applied at the supplier join so mismatched rows never
    reach the aggregate; one fact shuffle for the final group-by.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    from ..functions.exact import exact_money_sum

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == year
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nations = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region").filter(F.col("r_name") == region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nations), supp.s_nationkey == nations.n_nationkey)
        .groupBy("n_name")
        .agg(
            exact_money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def local_supplier_volume_sql(region: str = "ASIA", year: int = 1996) -> str:
    return f"""
SELECT n_name,
       CAST(round_even(CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) / 1e2, 0) AS BIGINT) / 1e2 AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = '{region}' AND year(o_orderdate) = {year}
GROUP BY 1
"""


register("local_supplier_volume", q_local_supplier_volume, local_supplier_volume_sql())


def q_nation_market_share(
    spark: SparkSession,
    sf_dir: str,
    *,
    region: str = "AMERICA",
    ptype: str = "ECONOMY",
    nation: str = "NATION_3",
    y0: int = 1996,
    y1: int = 1997,
) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's
    revenue in one part type, per order year. Numerator and
    denominator are BOTH exact scaled-integer sums inside one
    conditional aggregate (one fact pass, no self-join); the share is
    a single BIGINT/BIGINT division — bit-identical IEEE on any
    engine, never re-rounded. Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").between(y0, y1)
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year"))
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == ptype
    ).select("p_partkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n_c = (
        load_table(spark, sf_dir, "nation")
        .join(
            load_table(spark, sf_dir, "region").filter(
                F.col("r_name") == region
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev_cents = F.bround(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .groupBy("o_year")
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == nation, rev_cents).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("nation_rev_i"),
            F.sum(rev_cents).cast("long").alias("total_rev_i"),
        )
        .select(
            "o_year",
            (F.col("nation_rev_i") / F.col("total_rev_i")).alias("mkt_share"),
            (F.bround(F.col("total_rev_i") / F.lit(100.0), 0).cast("long")
             / F.lit(100.0)).alias("total_revenue"),
        )
    )


def nation_market_share_sql(
    region: str = "AMERICA",
    ptype: str = "ECONOMY",
    nation: str = "NATION_3",
    y0: int = 1996,
    y1: int = 1997,
) -> str:
    return f"""
WITH agg AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(sum(CASE WHEN ns.n_name = '{nation}'
                       THEN CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS nation_rev_i,
         CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS total_rev_i
  FROM lineitem
  JOIN part     ON l_partkey = p_partkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region   ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE r_name = '{region}' AND p_type = '{ptype}'
    AND year(o_orderdate) BETWEEN {y0} AND {y1}
  GROUP BY 1
)
SELECT o_year,
       nation_rev_i / total_rev_i AS mkt_share,
       CAST(round_even(total_rev_i / 1e2, 0) AS BIGINT) / 1e2 AS total_revenue
FROM agg
"""


register("nation_market_share", q_nation_market_share, nation_market_share_sql())


def q_top_supplier_quarter(
    spark: SparkSession,
    sf_dir: str,
    *,
    q_start: str = "1996-01-01",
    q_end: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over one
    quarter — the classic view + correlated max. The per-supplier
    aggregate runs once and is reused for both the 1-row global max
    (broadcast) and the equality filter, via localCheckpoint (the
    repo's standard multi-consumer cut); ties on the EXACT integer
    revenue all surface, deterministically. Keyword constants are
    fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.to_date("l_shipdate") >= F.lit(q_start))
        & (F.to_date("l_shipdate") < F.lit(q_end))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.bround(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
                ).cast("long")
            ).cast("long").alias("rev_i")
        )
        .localCheckpoint(eager=True)
    )
    mx = per.agg(F.max("rev_i").alias("mx"))
    return (
        per.join(F.broadcast(mx), per.rev_i == F.col("mx"))
        .join(F.broadcast(supp), per.l_suppkey == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            (F.bround(F.col("rev_i") / F.lit(100.0), 0).cast("long")
             / F.lit(100.0)).alias("total_revenue"),
        )
    )


def top_supplier_quarter_sql(
    q_start: str = "1996-01-01", q_end: str = "1996-04-01"
) -> str:
    return f"""
WITH per AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round_even(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS rev_i
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{q_start}'
    AND CAST(l_shipdate AS DATE) < DATE '{q_end}'
  GROUP BY 1
)
SELECT l_suppkey AS suppkey, s_name,
       CAST(round_even(rev_i / 1e2, 0) AS BIGINT) / 1e2 AS total_revenue
FROM per
JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_i = (SELECT max(rev_i) FROM per)
"""


register("top_supplier_quarter", q_top_supplier_quarter, top_supplier_quarter_sql())


def q_late_shipment_priority(
    spark: SparkSession, sf_dir: str, *, late_days: int = 90
) -> DataFrame:
    """TPC-H Q12's core semantics on this schema (no shipmode column):
    per order priority, how many lines shipped LATE (more than
    late_days after the order date) vs on time, and the late share.
    One fact-fact join on the co-keyed order key, integer day-diff
    predicate in codegen, conditional counts in a single aggregate —
    the share is one BIGINT/BIGINT division, never re-rounded.
    Keyword constants are fuzz-injectable (tools/fuzz_oracles.py)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    late = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > late_days
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(late.cast("long")).cast("long").alias("n_late"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            "n_late",
            (F.col("n_late") / F.col("n_lines")).alias("late_share"),
        )
    )


def late_shipment_priority_sql(late_days: int = 90) -> str:
    return f"""
WITH agg AS (
  SELECT o_orderpriority,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                      CAST(l_shipdate AS DATE)) > {late_days}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
)
SELECT o_orderpriority, n_lines, n_late,
       n_late / n_lines AS late_share
FROM agg
"""


register("late_shipment_priority", q_late_shipment_priority, late_shipment_priority_sql())


def q_waiting_supplier_count(
    spark: SparkSession,
    sf_dir: str,
    *,
    late_days: int = 90,
    status: str = "F",
) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting) on this
    schema: for finished (status) orders with AT LEAST TWO suppliers,
    count each supplier's late lines (shipped >late_days after the
    order date) on orders where it was the ONLY late supplier — the
    exists(other supplier) + not-exists(other LATE supplier) pair of
    correlated subqueries. Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py).

    Plan shape: the classic formulation self-joins lineitem twice
    (exists + anti); here both correlated tests collapse into window
    aggregates over ONE per-(order, supplier) rollup. The rollup is
    explicitly repartitioned on l_orderkey ALONE before the pair
    groupBy: hash partitioning on a subset of the grouping keys
    satisfies the aggregate's ClusteredDistribution AND both
    Window.partitionBy(l_orderkey) requirements, so the whole
    qualification (agg + two window functions + filter) rides ONE
    exchange. (r9 shipped the groupBy shuffled on the PAIR, which
    does NOT satisfy distribution on l_orderkey alone — the plan
    carried an avoidable second full-fact exchange before the
    window; r9 verdict "what's wrong" #1.) At 100 TB: one
    lineitem⋈orders join, one qualification exchange, broadcast
    supplier⋈nation enrichment, TakeOrderedAndProject top-100."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == status)
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > late_days
    ).cast("long")
    par = spark.sparkContext.defaultParallelism
    pso = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # One exchange for the whole qualification: clustering on the
        # ORDER key (a subset of the grouping keys) satisfies the pair
        # aggregate and both l_orderkey windows below, where the
        # default pair-keyed agg shuffle would force a second exchange
        # before the window.
        .repartition(par, "l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(late).cast("long").alias("n_late_lines"))
    )
    w = Window.partitionBy("l_orderkey")
    qual = (
        pso.withColumn("n_supps", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_late_supps",
            F.sum((F.col("n_late_lines") > 0).cast("long")).over(w),
        )
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1)
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        qual.groupBy("l_suppkey")
        .agg(F.sum("n_late_lines").cast("long").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .select("s_name", "n_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def waiting_supplier_count_sql(late_days: int = 90, status: str = "F") -> str:
    return f"""
WITH l AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) > {late_days}
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = '{status}'
),
pso AS (
  SELECT l_orderkey, l_suppkey, CAST(sum(late) AS BIGINT) AS n_late_lines
  FROM l GROUP BY 1, 2
),
qual AS (
  SELECT l_suppkey, n_late_lines FROM pso p1
  WHERE n_late_lines > 0
    AND EXISTS (SELECT 1 FROM pso p2
                WHERE p2.l_orderkey = p1.l_orderkey
                  AND p2.l_suppkey <> p1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM pso p3
                    WHERE p3.l_orderkey = p1.l_orderkey
                      AND p3.l_suppkey <> p1.l_suppkey
                      AND p3.n_late_lines > 0)
)
SELECT s_name, n_name, CAST(sum(n_late_lines) AS BIGINT) AS numwait
FROM qual
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
ORDER BY numwait DESC, s_name
LIMIT 100
"""


register("waiting_supplier_count", q_waiting_supplier_count, waiting_supplier_count_sql())


def q_dominant_supplier_parts(
    spark: SparkSession,
    sf_dir: str,
    *,
    year: int = 1996,
    name_token: str = "gear",
    min_supps: int = 4,
) -> DataFrame:
    """TPC-H Q20 shape (excess-availability suppliers) on this schema
    (no partsupp table): suppliers holding a DOMINANT share of a
    contested part's one-year shipments — per (part, supplier)
    quantity vs the correlated per-part total (the scalar subquery
    threshold: share > 1/2), restricted to name-token parts shipped by
    >= min_supps distinct suppliers that year, then a SEMI join up to
    the supplier dimension. Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py).

    Plan shape: part-name filter is a broadcast join pushed below the
    aggregation (prunes lineitem before the shuffle); the correlated
    scalar collapses into a window SUM over the (part, supplier)
    rollup (same single-exchange trick as waiting_supplier_count);
    the supplier qualification is a left-semi broadcast join, so no
    supplier row is duplicated and no de-dup shuffle is needed.
    Integer cent-quantities keep the 2*q > tot gate exact on both
    engines."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{name_token}%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == year)
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            "l_partkey",
            "l_suppkey",
            F.bround(F.col("l_quantity") * 100, 0).cast("long").alias("qty_i"),
        )
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty_i").cast("long").alias("q_i")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        ps.withColumn("tot_i", F.sum("q_i").over(w).cast("long"))
        .withColumn("n_supps", F.count(F.lit(1)).over(w))
        .filter(
            (F.col("n_supps") >= min_supps)
            & (F.lit(2) * F.col("q_i") > F.col("tot_i"))
        )
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        supp.join(
            F.broadcast(dominant), supp.s_suppkey == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def dominant_supplier_parts_sql(
    year: int = 1996, name_token: str = "gear", min_supps: int = 4
) -> str:
    return f"""
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(round_even(l_quantity * 100, 0) AS BIGINT) AS qty_i
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(l_shipdate) = {year} AND p_name LIKE '%{name_token}%'
),
ps AS (
  SELECT l_partkey, l_suppkey, CAST(sum(qty_i) AS BIGINT) AS q_i
  FROM li GROUP BY 1, 2
)
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM ps p1
  WHERE (SELECT count(*) FROM ps p2 WHERE p2.l_partkey = p1.l_partkey) >= {min_supps}
    AND 2 * p1.q_i > (SELECT CAST(sum(p3.q_i) AS BIGINT) FROM ps p3
                      WHERE p3.l_partkey = p1.l_partkey)
)
ORDER BY s_suppkey
"""


register(
    "dominant_supplier_parts",
    q_dominant_supplier_parts,
    dominant_supplier_parts_sql(),
)


def q_product_type_profit(
    spark: SparkSession,
    sf_dir: str,
    *,
    name_token: str = "widget",
    cost_ratio: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year) on this
    schema (no partsupp, so supply cost is the documented proxy
    cost_ratio * p_retailprice per unit): profit = revenue minus cost
    over one part-name family, grouped by supplier nation and order
    year.

    Plan shape: part-name broadcast prune BELOW everything (shrinks
    the fact before any other join), supplier/nation broadcast, ONE
    fact-fact shuffle join on the order key for the year column, one
    aggregate exchange on the tiny (nation, year) domain. Profit stays
    exact 4dp-integer inside the plan; the emitted double is a single
    final division. Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py); cost_ratio draws stay on a 2-decimal grid
    so the scaled product is exactly representable."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{name_token}%"))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == part.p_partkey
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    profit_i = F.bround(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(cost_ratio) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000,
        0,
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.sum(profit_i).cast("long").alias("profit_i"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            "nation",
            "o_year",
            (F.col("profit_i") / F.lit(1e4)).alias("profit"),
            "n_lines",
        )
    )


def product_type_profit_sql(
    name_token: str = "widget", cost_ratio: float = 0.6
) -> str:
    return f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round_even((l_extendedprice * (1 - l_discount)
                                 - {cost_ratio} * p_retailprice * l_quantity) * 10000, 0) AS BIGINT)) AS BIGINT) / 1e4 AS profit,
       count(*) AS n_lines
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%{name_token}%'
GROUP BY 1, 2
"""


register("product_type_profit", q_product_type_profit, product_type_profit_sql())
