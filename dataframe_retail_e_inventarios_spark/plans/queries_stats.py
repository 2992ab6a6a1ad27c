"""Statistical operator queries [SURVEY §2.4 A6-A7, A16].

The two classic silent-mismatch traps live here (SURVEY §7.4):
exact linear-interpolation percentile (pandas default) and POPULATION
std-dev (np.std ddof=0) — checked value-for-value against DuckDB's
quantile_cont / stddev_pop.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.cleaning import clean_sales
from ..operators.resample import weekly_dense_resample
from ..registry import register
from ..sources.readers import load_table
from . import oracle_fragments as OF
from .flagship import KEYS


def _dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")), KEYS, "invoice_date", "units_sold"
    )


# -- A6: exact per-series winsorization bounds (PRACTICA3.py:103-106) ------
def q_winsorize_bounds(
    spark: SparkSession,
    sf_dir: str,
    *,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    min_pos: int = 5,
) -> DataFrame:
    """Every series, with bounds only where winsorization applies
    (n_pos > min_pos, PRACTICA3.py:104) — null bounds mean
    pass-through. Keyword constants are fuzz-injectable
    (tools/fuzz_oracles.py)."""
    pos = F.when(F.col("units_sold") > 0, F.col("units_sold"))
    agg = (
        _dense(spark, sf_dir)
        .groupBy(*KEYS)
        .agg(
            F.count(pos).alias("n_pos"),
            F.round(F.percentile(pos, F.lit(p_lo)), 4).alias("_lo"),
            F.round(F.percentile(pos, F.lit(p_hi)), 4).alias("_hi"),
        )
    )
    applies = F.col("n_pos") > min_pos
    return agg.select(
        *KEYS,
        "n_pos",
        F.when(applies, F.col("_lo")).alias("lower_q"),
        F.when(applies, F.col("_hi")).alias("upper_q"),
    )


def winsorize_bounds_sql(
    p_lo: float = 0.01, p_hi: float = 0.99, min_pos: int = 5
) -> str:
    return f"""
WITH {OF.CLEAN_SALES_CTE.strip()},
{OF.WEEKLY_CTE.strip()},
{OF.DENSE_CTE.strip()}
SELECT product_id, store_id, n_pos,
  CASE WHEN n_pos > {min_pos} THEN lo END AS lower_q,
  CASE WHEN n_pos > {min_pos} THEN hi END AS upper_q
FROM (
  SELECT product_id, store_id,
    count(CASE WHEN units_sold > 0 THEN 1 END) AS n_pos,
    round(quantile_cont(CASE WHEN units_sold > 0 THEN units_sold END, {p_lo}), 4) AS lo,
    round(quantile_cont(CASE WHEN units_sold > 0 THEN units_sold END, {p_hi}), 4) AS hi
  FROM dense GROUP BY 1, 2
)
"""


register("winsorize_bounds", q_winsorize_bounds, winsorize_bounds_sql())


# -- A7: population std-dev of train demand (PRACTICA3.py:70) --------------
def q_sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy(*KEYS).orderBy(F.col("week").desc())
    dense = _dense(spark, sf_dir).withColumn("rn", F.row_number().over(w))
    return (
        dense.groupBy(*KEYS)
        .agg(
            F.count("*").alias("n_weeks"),
            F.round(
                F.coalesce(F.stddev_pop(F.when(F.col("rn") > 4, F.col("units_sold"))), F.lit(0.0)),
                4,
            ).alias("sigma_pop"),
            # The wrong (sample) flavor, published so the suite proves
            # the two diverge and we picked the right one.
            F.round(
                F.coalesce(F.stddev_samp(F.when(F.col("rn") > 4, F.col("units_sold"))), F.lit(0.0)),
                4,
            ).alias("sigma_samp"),
        )
        .filter(F.col("n_weeks") >= 12)
    )


register(
    "demand_sigma_pop",
    q_sigma,
    f"""
WITH {OF.CLEAN_SALES_CTE.strip()},
{OF.WEEKLY_CTE.strip()},
{OF.DENSE_CTE.strip()},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY product_id, store_id
                               ORDER BY week DESC) AS rn
  FROM dense
)
SELECT product_id, store_id, count(*) AS n_weeks,
  round(coalesce(stddev_pop(CASE WHEN rn > 4 THEN units_sold END), 0.0), 4) AS sigma_pop,
  round(coalesce(stddev_samp(CASE WHEN rn > 4 THEN units_sold END), 0.0), 4) AS sigma_samp
FROM ranked GROUP BY 1, 2
HAVING count(*) >= 12
""",
)


# -- A16: cross-model element-wise median ensemble (PRACTICA3.py:150-151) --
def q_ensemble_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three deterministic 'models' per series (trailing-4 MA, trailing-8
    MA, whole-train mean); the ensemble is the per-series median —
    unpivoted to rows and aggregated with exact median."""
    w = Window.partitionBy(*KEYS).orderBy(F.col("week").desc())
    dense = _dense(spark, sf_dir).withColumn("rn", F.row_number().over(w))
    rn = F.col("rn")
    models = dense.groupBy(*KEYS).agg(
        F.count("*").alias("n_weeks"),
        F.avg(F.when((rn > 4) & (rn <= 8), F.col("units_sold"))).alias("m_ma4"),
        F.avg(F.when((rn > 4) & (rn <= 12), F.col("units_sold"))).alias("m_ma8"),
        F.avg(F.when(rn > 4, F.col("units_sold"))).alias("m_mean"),
    ).filter(F.col("n_weeks") >= 12)
    unpivoted = models.select(
        *KEYS, F.explode(F.array("m_ma4", "m_ma8", "m_mean")).alias("pred")
    )
    return unpivoted.groupBy(*KEYS).agg(
        F.round(F.median("pred"), 4).alias("ensemble"),
        F.count("*").alias("n_models"),
    )


register(
    "ensemble_median",
    q_ensemble_median,
    f"""
WITH {OF.CLEAN_SALES_CTE.strip()},
{OF.WEEKLY_CTE.strip()},
{OF.DENSE_CTE.strip()},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY product_id, store_id
                               ORDER BY week DESC) AS rn
  FROM dense
),
models AS (
  SELECT product_id, store_id, count(*) AS n_weeks,
    avg(CASE WHEN rn > 4 AND rn <= 8 THEN units_sold END) AS m_ma4,
    avg(CASE WHEN rn > 4 AND rn <= 12 THEN units_sold END) AS m_ma8,
    avg(CASE WHEN rn > 4 THEN units_sold END) AS m_mean
  FROM ranked GROUP BY 1, 2
  HAVING count(*) >= 12
),
unpivoted AS (
  SELECT product_id, store_id, unnest([m_ma4, m_ma8, m_mean]) AS pred
  FROM models
)
SELECT product_id, store_id, round(median(pred), 4) AS ensemble,
       count(*) AS n_models
FROM unpivoted GROUP BY 1, 2
""",
)


# -- ML feature engineering: smoothed target encoding ----------------------
_TE_SMOOTH = 50


def q_target_encoding_brand(
    spark: SparkSession, sf_dir: str, m: int | None = None
) -> DataFrame:
    """Smoothed mean target encoding of p_brand against line quantity:
    encoded = (sum_brand + m * prior) / (n_brand + m) with m=50 — the
    additive-smoothing encoder every tabular-ML pipeline ships, which
    shrinks rare categories toward the global mean instead of
    memorizing them.

    Exactness: quantity is integral, so both the brand sums and the
    global prior are exact BIGINT ratios; the smoothing formula then
    runs the same double ops on identical inputs in both engines. One
    fact scan (broadcast dim join), map-side partial aggregation, and
    a broadcast of the single-row prior."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m = m if m is not None else _TE_SMOOTH
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    per_brand = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(F.bround(F.col("l_quantity"), 0).cast("long")).alias("s"),
    )
    prior = per_brand.agg(
        (F.sum("s") / F.sum("n")).alias("prior")
    )
    out = per_brand.crossJoin(F.broadcast(prior))
    enc = (F.col("s") + m * F.col("prior")) / (F.col("n") + m)
    return out.select(
        "p_brand",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("raw_mean"),
        F.round(enc, 6).alias("encoded"),
        F.round("prior", 6).alias("prior"),
    ).orderBy("p_brand")


def target_encoding_brand_sql(m: int | None = None) -> str:
    # smoothing strength fuzz-drawn (r12): the shrinkage toward the
    # prior must agree at every m, including m far beyond any brand n.
    m = m if m is not None else _TE_SMOOTH
    return f"""
WITH per_brand AS (
  SELECT p.p_brand, count(*) AS n,
         sum(CAST(round_even(l.l_quantity, 0) AS BIGINT)) AS s
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
pr AS (SELECT sum(s) / CAST(sum(n) AS DOUBLE) AS prior FROM per_brand)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       round(s / CAST(n AS DOUBLE), 6) AS raw_mean,
       round((s + {m} * prior) / (n + {m}), 6) AS encoded,
       round(prior, 6) AS prior
FROM per_brand CROSS JOIN pr
ORDER BY p_brand
"""


register(
    "target_encoding_brand",
    q_target_encoding_brand,
    target_encoding_brand_sql(),
)


# -- Weight of evidence / information value --------------------------------
def q_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence banding of order priority against the
    finished-order outcome (o_orderstatus = 'F'): WOE_g =
    ln(event-share / non-event-share), with each group's IV
    contribution (share-gap x WOE) — the credit-scoring-style
    predictive-power screen for a categorical feature.

    All shares are exact integer-count ratios; the single ln runs on
    identical doubles in both engines and rounds at 6dp. One scan,
    one tiny aggregation, totals broadcast back over the 5 groups."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("long").alias("evt"),
    )
    g = o.groupBy("o_orderpriority").agg(
        F.sum("evt").alias("n_evt"),
        F.sum(F.lit(1) - F.col("evt")).alias("n_non"),
    )
    tot = g.agg(
        F.sum("n_evt").alias("t_evt"), F.sum("n_non").alias("t_non")
    )
    x = g.crossJoin(F.broadcast(tot))
    evt_share = F.col("n_evt") / F.col("t_evt")
    non_share = F.col("n_non") / F.col("t_non")
    woe = F.log(evt_share / non_share)
    return x.select(
        "o_orderpriority",
        "n_evt",
        "n_non",
        F.round(evt_share, 6).alias("evt_share"),
        F.round(non_share, 6).alias("non_share"),
        F.round(woe, 6).alias("woe"),
        F.round((evt_share - non_share) * woe, 6).alias("iv_contribution"),
    ).orderBy("o_orderpriority")


register(
    "woe_information_value",
    q_woe_information_value,
    """
WITH g AS (
  SELECT o_orderpriority,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_evt,
         sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS n_non
  FROM orders GROUP BY 1
),
t AS (SELECT sum(n_evt) AS t_evt, sum(n_non) AS t_non FROM g)
SELECT o_orderpriority,
       CAST(n_evt AS BIGINT) AS n_evt,
       CAST(n_non AS BIGINT) AS n_non,
       round(n_evt / CAST(t_evt AS DOUBLE), 6) AS evt_share,
       round(n_non / CAST(t_non AS DOUBLE), 6) AS non_share,
       round(ln((n_evt / CAST(t_evt AS DOUBLE)) / (n_non / CAST(t_non AS DOUBLE))), 6) AS woe,
       round((n_evt / CAST(t_evt AS DOUBLE) - n_non / CAST(t_non AS DOUBLE))
             * ln((n_evt / CAST(t_evt AS DOUBLE)) / (n_non / CAST(t_non AS DOUBLE))), 6)
         AS iv_contribution
FROM g CROSS JOIN t
ORDER BY o_orderpriority
""",
)


# -- Kaplan-Meier survival: signup -> first purchase -----------------------
_KM_CUTOFF_DAYS = 7


def q_survival_km_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time from signup to first
    purchase, with administrative censoring at 7 days — the estimator
    behind conversion-latency and churn dashboards, done properly
    (censored users leave the risk set without counting as events).

    Distributed shape: the per-user pass reduces events to one
    (duration, event) row per user; everything after operates on the
    day-grid frame, whose size is bounded by the censoring horizon
    (<= 8 rows) — so the risk-set prefix sums and the cumulative
    product run as TRIANGULAR BROADCAST JOINS over metadata-scale
    frames (operators/prefix.py's trick), never a single-partition
    window. The KM product is exp of an exact scaled-BIGINT sum of
    per-day ln(1 - d/n) terms (bround <-> round_even: the terms are
    negative), so the curve is bit-identical across engines and
    partitionings. A day where d = n drives survival to exactly 0
    via a flag, not ln(0)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("su"))
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("su"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"), F.min("su").alias("su"))
    )
    days = F.floor(
        F.timestamp_diff("MICROSECOND", F.col("su"), F.col("fp")) / 86400e6
    )
    per_user = (
        su.join(fp.select("user_id", "fp"), "user_id", "left")
        .select(
            F.when(
                F.col("fp").isNull()
                | (days > _KM_CUTOFF_DAYS), F.lit(_KM_CUTOFF_DAYS)
            )
            .otherwise(days)
            .cast("long")
            .alias("dur"),
            (
                F.col("fp").isNotNull() & (days <= _KM_CUTOFF_DAYS)
            ).cast("long").alias("evt"),
        )
    )
    grid = per_user.groupBy("dur").agg(
        F.sum("evt").alias("d"),
        F.sum(F.lit(1) - F.col("evt")).alias("c"),
    )
    total = grid.agg(F.sum(F.col("d") + F.col("c")).alias("total"))
    prev = grid.select(
        F.col("dur").alias("p_dur"), (F.col("d") + F.col("c")).alias("p_out")
    )
    risk = (
        grid.crossJoin(F.broadcast(total))
        .join(F.broadcast(prev), F.col("p_dur") < F.col("dur"), "left")
        .groupBy("dur", "d", "c", "total")
        .agg(F.coalesce(F.sum("p_out"), F.lit(0)).alias("before"))
        .withColumn("n_risk", F.col("total") - F.col("before"))
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.bround(F.log(F.lit(1.0) - F.col("d") / F.col("n_risk")) * 1e9, 0).cast(
            "long"
        ),
    ).otherwise(F.lit(0))
    dead = (F.col("d") == F.col("n_risk")).cast("int")
    e = risk.select("dur", "d", "c", "n_risk", term.alias("term"), dead.alias("dead"))
    prev2 = e.select(
        F.col("dur").alias("p_dur"),
        F.col("term").alias("p_term"),
        F.col("dead").alias("p_dead"),
    )
    f = (
        e.join(F.broadcast(prev2), F.col("p_dur") <= F.col("dur"))
        .groupBy("dur", "n_risk", "d", "c")
        .agg(
            F.sum("p_term").alias("ls"),
            F.max("p_dead").alias("anydead"),
        )
    )
    surv = F.when(F.col("anydead") == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.col("ls") / 1e9), 6)
    )
    return f.select(
        F.col("dur").alias("day"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        surv.alias("survival"),
    ).orderBy("day")


register(
    "survival_km_signup_purchase",
    q_survival_km_signup_purchase,
    f"""
WITH su AS (
  SELECT user_id, min(ts) AS su FROM events WHERE event_type = 'signup'
  GROUP BY 1
),
fp AS (
  SELECT e.user_id, min(e.ts) AS fp
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'purchase' AND e.ts > su.su
  GROUP BY 1
),
per_user AS (
  SELECT
    CASE WHEN fp.fp IS NULL
           OR floor(date_diff('microsecond', su.su, fp.fp) / 86400e6) > {_KM_CUTOFF_DAYS}
         THEN {_KM_CUTOFF_DAYS}
         ELSE CAST(floor(date_diff('microsecond', su.su, fp.fp) / 86400e6) AS BIGINT)
    END AS dur,
    CASE WHEN fp.fp IS NOT NULL
           AND floor(date_diff('microsecond', su.su, fp.fp) / 86400e6) <= {_KM_CUTOFF_DAYS}
         THEN 1 ELSE 0 END AS evt
  FROM su LEFT JOIN fp ON su.user_id = fp.user_id
),
grid AS (
  SELECT dur, sum(evt) AS d, sum(1 - evt) AS c FROM per_user GROUP BY 1
),
w AS (
  SELECT *,
    (SELECT sum(d + c) FROM grid) AS total,
    coalesce(sum(d + c) OVER (ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM grid
),
e AS (
  SELECT dur, d, c, total - before AS n_risk,
    CASE WHEN d > 0 AND d < total - before
         THEN CAST(round_even(ln(1 - d / CAST(total - before AS DOUBLE)) * 1e9, 0) AS BIGINT)
         ELSE 0 END AS term,
    CASE WHEN d = total - before THEN 1 ELSE 0 END AS dead
  FROM w
),
f AS (
  SELECT dur, n_risk, d, c,
    sum(term) OVER (ORDER BY dur) AS ls,
    max(dead) OVER (ORDER BY dur) AS anydead
  FROM e
)
SELECT dur AS day,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       CASE WHEN anydead = 1 THEN 0.0
            ELSE round(exp(ls / 1e9), 6) END AS survival
FROM f ORDER BY day
""",
)


# -- Chi-square independence test ------------------------------------------
def q_chi_square_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence screen for two categoricals
    (customer market segment x nation): observed counts vs
    independence-expected counts, per-cell contributions summed into
    the statistic with dof — the first question of any segmentation
    analysis ('is this split real?').

    Observed counts and margins are exact integers; each cell's
    (o - e)^2 / e is computed on identical doubles in both engines
    and snapped to a scaled BIGINT before the total (accumulation-
    order-proof). One scan; margins broadcast back over the bounded
    cell grid (|segments| x |nations|)."""
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").alias("o")
    ).localCheckpoint(eager=True)
    rowm = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("row_n"))
    colm = cells.groupBy("c_nationkey").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("n"))
    x = (
        cells.join(F.broadcast(rowm), "c_mktsegment")
        .join(F.broadcast(colm), "c_nationkey")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("row_n") * F.col("col_n") / F.col("n")
    term = F.bround((F.col("o") - e) * (F.col("o") - e) / e * 1e9, 0).cast("long")
    agg = x.agg(
        F.round(F.sum(term) / 1e9, 6).alias("chi2"),
        F.countDistinct("c_mktsegment").alias("n_seg"),
        F.countDistinct("c_nationkey").alias("n_nat"),
    )
    return agg.select(
        "chi2",
        ((F.col("n_seg") - 1) * (F.col("n_nat") - 1)).alias("dof"),
        "n_seg",
        "n_nat",
    )


register(
    "chi_square_segment_nation",
    q_chi_square_segment_nation,
    """
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS o
  FROM customer GROUP BY 1, 2
),
rowm AS (SELECT c_mktsegment, sum(o) AS row_n FROM cells GROUP BY 1),
colm AS (SELECT c_nationkey, sum(o) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT sum(o) AS n FROM cells)
SELECT
  round(sum(CAST(round_even((o - row_n * col_n / CAST(n AS DOUBLE))
                            * (o - row_n * col_n / CAST(n AS DOUBLE))
                            / (row_n * col_n / CAST(n AS DOUBLE)) * 1e9, 0) AS BIGINT))
        / 1e9, 6) AS chi2,
  CAST((count(DISTINCT c.c_mktsegment) - 1) * (count(DISTINCT c.c_nationkey) - 1) AS BIGINT) AS dof,
  CAST(count(DISTINCT c.c_mktsegment) AS BIGINT) AS n_seg,
  CAST(count(DISTINCT c.c_nationkey) AS BIGINT) AS n_nat
FROM cells c
JOIN rowm USING (c_mktsegment)
JOIN colm USING (c_nationkey)
CROSS JOIN tot
""",
)


# -- Population stability index (distribution drift) -----------------------
_PSI_BIN = 20000  # $20k price bins


def q_psi_order_price_drift(
    spark: SparkSession, sf_dir: str, bin_width: int | None = None
) -> DataFrame:
    """Population Stability Index between the first and second half of
    the order history, over fixed $20k total-price bins — the standard
    production-ML drift monitor (PSI < 0.1 stable, > 0.25 shifted).
    PSI = sum over bins of (p_a - p_b) * ln(p_a / p_b), with 0-count
    bins floored at 1e-6 share (the conventional guard, applied
    identically on both engines).

    One scan splits on the midpoint date (derived from min/max, no
    second pass); bin counts are exact integers, shares exact ratios,
    and each bin's PSI term is snapped to a scaled BIGINT before the
    total. Bin count is value-range-bounded, so everything after the
    first aggregate is metadata-scale."""
    bin_width = bin_width if bin_width is not None else _PSI_BIN
    o = load_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    bounds = o.agg(
        F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx")
    )
    x = o.crossJoin(F.broadcast(bounds))
    mid = F.date_add(
        F.col("mn"), (F.datediff(F.col("mx"), F.col("mn")) / 2).cast("int")
    )
    binned = x.select(
        F.floor(F.col("o_totalprice") / bin_width).cast("long").alias("bin"),
        F.when(F.col("o_orderdate") <= mid, 1).otherwise(0).alias("is_a"),
    )
    g = binned.groupBy("bin").agg(
        F.sum("is_a").alias("n_a"),
        F.sum(F.lit(1) - F.col("is_a")).alias("n_b"),
    )
    tot = g.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    j = g.crossJoin(F.broadcast(tot))
    p_a = F.greatest(F.col("n_a") / F.col("t_a"), F.lit(1e-6))
    p_b = F.greatest(F.col("n_b") / F.col("t_b"), F.lit(1e-6))
    term = F.bround((p_a - p_b) * F.log(p_a / p_b) * 1e9, 0).cast("long")
    return j.agg(
        F.round(F.sum(term) / 1e9, 6).alias("psi"),
        F.count("*").alias("n_bins"),
        F.sum("n_a").alias("n_period_a"),
        F.sum("n_b").alias("n_period_b"),
    )


def psi_order_price_drift_sql(bin_width: int | None = None) -> str:
    # bin width fuzz-drawn (r12): coarser/finer bins reshape the whole
    # PSI term set (and which bins hit the 1e-6 floor).
    bin_width = bin_width if bin_width is not None else _PSI_BIN
    return f"""
WITH bounds AS (SELECT min(o_orderdate) AS mn, max(o_orderdate) AS mx FROM orders),
binned AS (
  SELECT CAST(floor(o_totalprice / {bin_width}) AS BIGINT) AS bin,
         CASE WHEN o_orderdate <= mn + CAST(date_diff('day', mn, mx) // 2 AS INT) * INTERVAL 1 DAY
              THEN 1 ELSE 0 END AS is_a
  FROM orders CROSS JOIN bounds
),
g AS (SELECT bin, sum(is_a) AS n_a, sum(1 - is_a) AS n_b FROM binned GROUP BY 1),
t AS (SELECT sum(n_a) AS t_a, sum(n_b) AS t_b FROM g)
SELECT
  round(sum(CAST(round_even((greatest(n_a / CAST(t_a AS DOUBLE), 1e-6)
                             - greatest(n_b / CAST(t_b AS DOUBLE), 1e-6))
                            * ln(greatest(n_a / CAST(t_a AS DOUBLE), 1e-6)
                                 / greatest(n_b / CAST(t_b AS DOUBLE), 1e-6)) * 1e9, 0) AS BIGINT))
        / 1e9, 6) AS psi,
  CAST(count(*) AS BIGINT) AS n_bins,
  CAST(sum(n_a) AS BIGINT) AS n_period_a,
  CAST(sum(n_b) AS BIGINT) AS n_period_b
FROM g CROSS JOIN t
"""


register(
    "psi_order_price_drift",
    q_psi_order_price_drift,
    psi_order_price_drift_sql(),
)


# -- Welch's t-test between customer segments ------------------------------
def q_welch_ttest_price_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of mean order value between
    every pair of customer market segments — the A/B-readout shape
    (does segment X really spend more per order than segment Y?),
    with the Welch–Satterthwaite degrees of freedom reported beside
    the statistic.

    Parity recipe (price_elasticity_by_brand's): order totals snap to
    exact cents; per-segment moments are n (long), sum (long — 1.8e12
    max, far inside int64) and sum-of-squares accumulated in
    DECIMAL(30,0) <-> HUGEINT (per-term squares reach 3.6e15, their
    sums overflow int64) — exact and associative under any shuffle
    order. The t/dof closed forms then run on doubles cast from those
    identical integers with an expression tree mirrored verbatim in
    the oracle. One broadcast join + one 5-row aggregate; the self-pair
    theta join broadcasts into a nested-loop join, never a
    CartesianProduct (tools/plan_audit.py pins both).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.bround(F.col("o_totalprice") * 1e2, 0).cast("long")
    m = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), cents.alias("c"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sx"),
            F.sum((F.col("c") * F.col("c")).cast("decimal(30,0)")).alias("sxx"),
        )
    )

    def _stats(side: str):
        n_d = F.col(f"{side}.n").cast("double")
        sx_d = F.col(f"{side}.sx").cast("double")
        sxx_d = F.col(f"{side}.sxx").cast("double")
        mean = sx_d / n_d
        var = (sxx_d - sx_d * sx_d / n_d) / (n_d - F.lit(1.0))
        return n_d, mean, var

    a, b = m.alias("a"), m.alias("b")
    na, ma, va = _stats("a")
    nb, mb, vb = _stats("b")
    sea, seb = va / na, vb / nb
    se2 = sea + seb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        sea * sea / (na - F.lit(1.0)) + seb * seb / (nb - F.lit(1.0))
    )
    return (
        a.join(F.broadcast(b), F.col("a.seg") < F.col("b.seg"))
        .select(
            F.col("a.seg").alias("seg_a"),
            F.col("b.seg").alias("seg_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(ma / 1e2, 2).alias("mean_a"),
            F.round(mb / 1e2, 2).alias("mean_b"),
            F.bround(t, 6).alias("t_stat"),
            F.round(dof, 4).alias("welch_dof"),
        )
        .orderBy("seg_a", "seg_b")
    )


register(
    "welch_ttest_price_segments",
    q_welch_ttest_price_segments,
    """
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round_even(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
m AS (
  SELECT seg, count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS sx,
         sum(cents * cents) AS sxx
  FROM j GROUP BY seg
),
p AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS n_a, b.n AS n_b,
         CAST(a.n AS DOUBLE) AS na, CAST(a.sx AS DOUBLE) AS sxa,
         CAST(a.sxx AS DOUBLE) AS sxxa,
         CAST(b.n AS DOUBLE) AS nb, CAST(b.sx AS DOUBLE) AS sxb,
         CAST(b.sxx AS DOUBLE) AS sxxb
  FROM m a JOIN m b ON a.seg < b.seg
),
s AS (
  SELECT seg_a, seg_b, n_a, n_b, na, nb,
         sxa / na AS ma, sxb / nb AS mb,
         ((sxxa - sxa * sxa / na) / (na - 1.0)) / na AS sea,
         ((sxxb - sxb * sxb / nb) / (nb - 1.0)) / nb AS seb
  FROM p
)
SELECT seg_a, seg_b, n_a, n_b,
       round(ma / 1e2, 2) AS mean_a,
       round(mb / 1e2, 2) AS mean_b,
       round_even((ma - mb) / sqrt(sea + seb), 6) + 0.0 AS t_stat,
       round(((sea + seb) * (sea + seb))
             / (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)), 4) AS welch_dof
FROM s
ORDER BY seg_a, seg_b
""",
)
