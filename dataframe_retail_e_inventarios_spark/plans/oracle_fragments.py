"""Shared DuckDB SQL fragments for the oracle side of the correctness
harness. Each fragment mirrors, expression-for-expression, the Spark
operators in operators/ and plans/ so the driver's side-by-side compare
(row-count + schema + order-insensitive value-hash) is meaningful.

DuckDB notes vs Spark:
- isodow(): 1=Mon..7=Sun, so next-Sunday offset is (7 - isodow) % 7
  (Spark dayofweek(): 1=Sun..7=Sat -> (8 - dow) % 7).
- generate_series over DATE + INTERVAL yields TIMESTAMPs -> cast back
  to DATE to match Spark's sequence<date>.
- quantile_cont == Spark percentile (exact, linear interpolation).
"""

# lineitem -> cleaned sales fact (operators/cleaning.clean_sales).
CLEAN_SALES_CTE = """
sales AS (
  SELECT l_partkey AS product_id, l_suppkey AS store_id,
         l_shipdate AS invoice_date,
         coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) AS units_sold
  FROM lineitem
  WHERE coalesce(TRY_CAST(l_quantity AS DOUBLE), 0.0) >= 0
)"""

# sales -> sparse weekly sums with pandas W-SUN labels
# (operators/resample.weekly_resample_sum).
WEEKLY_CTE = """
weekly AS (
  SELECT product_id, store_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales
  GROUP BY 1, 2, 3
)"""

# weekly -> dense weekly series (operators/resample.weekly_dense_resample;
# the oracle states it as bounds + week spine + left join).
DENSE_CTE = """
bounds AS (
  SELECT product_id, store_id, min(week) AS mn, max(week) AS mx
  FROM weekly GROUP BY 1, 2
),
spine AS (
  SELECT product_id, store_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
                                     CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.store_id, s.week,
         coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s
  LEFT JOIN weekly w USING (product_id, store_id, week)
)"""

# dense -> winsorized + recency-ranked series
# (operators/winsorize.winsorize_by_group + operators/split.add_recency_rank).
WINSORIZE_RANK_CTE = """
wins AS (
  SELECT *,
    count(CASE WHEN units_sold > 0 THEN 1 END)
      OVER (PARTITION BY product_id, store_id) AS n_pos,
    quantile_cont(CASE WHEN units_sold > 0 THEN units_sold END, 0.01)
      OVER (PARTITION BY product_id, store_id) AS lo,
    quantile_cont(CASE WHEN units_sold > 0 THEN units_sold END, 0.99)
      OVER (PARTITION BY product_id, store_id) AS hi
  FROM dense
),
ranked AS (
  SELECT product_id, store_id, week, units_sold,
    CASE WHEN n_pos > 5
         THEN least(greatest(units_sold, lo), hi)
         ELSE units_sold END AS units_w,
    row_number() OVER (PARTITION BY product_id, store_id
                       ORDER BY week DESC) AS rn
  FROM wins
)"""

# The full prefix used by the flagship oracle and several per-operator
# oracles: sales -> weekly -> dense -> winsorized/ranked.
DENSE_SERIES_CTES = ",\n".join(
    [
        CLEAN_SALES_CTE.strip(),
        WEEKLY_CTE.strip(),
        DENSE_CTE.strip(),
        WINSORIZE_RANK_CTE.strip(),
    ]
)
