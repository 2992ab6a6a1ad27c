"""Trend / regression / graph-centrality parity-plus queries
[SURVEY §2.4 aggregation family + §2.11 curation depth]:

- TPC-H-shaped pricing summary (the canonical multi-aggregate scan —
  one pass, map-side partials, exact scaled-integer money sums);
- per-series OLS demand trend (closed-form regression from five exact
  integer sums — the distributed form of `regr_slope`/`regr_r2` that
  stays bit-identical across engines AND shuffle orders);
- Holt linear-trend forecast (double exponential smoothing as a
  struct-accumulator fold — extends the EWMA/Croston recursive-fold
  family with two coupled state variables);
- PageRank over the event-transition graph (fixed-iteration dataflow
  loop; the oracle unrolls the same five iterations as chained CTEs);
- Gopher-style document quality rules (Rae et al. 2021 §A1.1 repetition
  /format heuristics re-expressed as pure column expressions);
- skew-salted brand revenue (the salted join from
  operators/partitioning.py registered as a query: same answer as the
  plain join oracle, but the hot key is spread over 8 tasks).

Scale posture notes are on each query. Everything is built-in column
expressions — no Python UDFs, no driver-side collects (the PageRank
loop is a fixed 5-iteration plan build, not a convergence probe).

SERIES-LENGTH BOUND (the one per-group materialization in this
family): several queries collect each product's dense weekly series
into an array (`collect_list` sites below). That array's length is
bounded by the CALENDAR — one element per week between the series'
first and last sale, i.e. ~520 for a decade — and is INDEPENDENT of
row volume: the weekly pre-aggregation collapses any number of fact
rows per (product, week) into one element before collection. Scaling
the fact 100x widens the aggregate's input, never the array. The
bound breaks only if key granularity changes (e.g. per-minute
buckets), which is a different query. Locked in by
tests/test_trend_property.py::test_series_arrays_calendar_bounded_at_520_weeks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from . import oracle_fragments as _OF
from ..functions.exact import (
    exact_decimal_sum,
    exact_decimal_sum_sql,
    exact_money_sum,
    exact_money_sum_sql,
)
from ..registry import register
from ..sources.readers import load_table


def _r4(c: F.Column) -> F.Column:
    """Shared scale->half-even->divide rounding (see functions/exact.py:
    round(double, n) multiplies internally with engine-specific
    rounding; the explicit shared multiply removes the divergence)."""
    return F.bround(c * 10000.0, 0) / 10000.0


# The trailing `+ 0.0` folds IEEE -0.0 to +0.0: DuckDB's round_even
# keeps the sign of a negative underflow (-1e-9 -> -0.0) while Spark's
# bround goes through Java BigDecimal, which has no signed zero — the
# exact value divergence behind the r3 driver hash mismatches on
# ols/mann-kendall/autocorrelation (CORRECTNESS_r03).
_R4_SQL = "(round_even(({x}) * 10000.0, 0) / 10000.0) + 0.0"


# -- TPC-H Q1-shaped pricing summary ---------------------------------------
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical scan-heavy report: one filtered pass over the fact,
    grouped on a 6-value composite key, producing 8 aggregates.

    Scale: Catalyst compiles this to partial_hashagg -> exchange(6 keys)
    -> final_hashagg — the shuffle moves ~6 rows per map task regardless
    of fact size, so it scales with input bandwidth only. Money sums use
    scaled-BIGINT arithmetic (functions/exact.py) which is associative —
    results are independent of partition count, a reproducibility
    requirement at 1000 executors, not just oracle parity. (At 100 TB
    the 6-decimal scaling of sum(charge) approaches int64 range around
    ~10^12 rows per group; the same helper on DECIMAL(38,6) lifts that
    bound without changing the plan shape.)"""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.bround(F.col("l_quantity"), 0).cast("long")).alias("sum_qty"),
            F.round(exact_decimal_sum(F.col("l_extendedprice"), 2), 2).alias(
                "sum_base_price"
            ),
            exact_money_sum(disc_price, 4).alias("sum_disc_price"),
            exact_money_sum(charge, 6).alias("sum_charge"),
            F.count("*").alias("count_order"),
            _r4(
                F.sum(F.bround(F.col("l_quantity"), 0).cast("long")) / F.count("*")
            ).alias("avg_qty"),
            _r4(exact_decimal_sum(F.col("l_extendedprice"), 2) / F.count("*")).alias(
                "avg_price"
            ),
            _r4(exact_decimal_sum(F.col("l_discount"), 2) / F.count("*")).alias(
                "avg_disc"
            ),
        )
    )
    return out


# DuckDB sum(BIGINT) yields HUGEINT, which pandas-fetches as float64
# ("5.0" vs Spark's int64 "5") — a driver-hash mismatch even when the
# values are equal (CORRECTNESS_r03). Every oracle that exposes an
# integral sum re-casts it to BIGINT.
_QTY_SUM = "CAST(sum(CAST(round_even(l_quantity, 0) AS BIGINT)) AS BIGINT)"
register(
    "tpch_pricing_summary",
    q_pricing_summary,
    f"""
SELECT l_returnflag, l_linestatus,
       {_QTY_SUM} AS sum_qty,
       round({exact_decimal_sum_sql('l_extendedprice', 2)}, 2) AS sum_base_price,
       {exact_money_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {exact_money_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       count(*) AS count_order,
       {_R4_SQL.format(x=f'{_QTY_SUM} / count(*)')} AS avg_qty,
       {_R4_SQL.format(x=exact_decimal_sum_sql('l_extendedprice', 2) + ' / count(*)')} AS avg_price,
       {_R4_SQL.format(x=exact_decimal_sum_sql('l_discount', 2) + ' / count(*)')} AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
""",
)


# -- per-series OLS demand trend -------------------------------------------
def q_ols_demand_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares time trend per product over its dense weekly
    series: slope (units/week), intercept, and R² from the closed form
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²).

    Spark ships `regr_slope`/`regr_r2`, but their double co-moment
    merges are accumulation-order-dependent — two runs with different
    partition counts can differ in the last ulp. Here x is the dense
    week position and y an integral demand count, so all five moments
    are EXACT BIGINT sums (associative); the closed form then computes
    identical doubles on any engine and any shuffle order. One
    dense-resample shuffle + one aggregate; the moment sums are
    map-side partial, so the exchange carries 5 longs per series."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    w = Window.partitionBy("product_id").orderBy("week")
    xy = dense.select(
        "product_id",
        F.row_number().over(w).cast("long").alias("x"),
        F.bround(F.col("units_sold"), 0).cast("long").alias("y"),
    )
    m = xy.groupBy("product_id").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / den_x
    intercept = (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
    r2 = F.when(den_y > 0, num * num / (den_x * den_y))
    return (
        m.filter(F.col("n") >= 12)
        .select(
            "product_id",
            "n",
            _r4(slope).alias("slope"),
            _r4(intercept).alias("intercept"),
            _r4(r2).alias("r2"),
        )
    )


register(
    "ols_demand_trend",
    q_ols_demand_trend,
    f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales
  GROUP BY 1, 2
),
bounds AS (
  SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1
),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
xy AS (
  SELECT product_id,
         CAST(row_number() OVER (PARTITION BY product_id ORDER BY week) AS BIGINT) AS x,
         CAST(round_even(units_sold, 0) AS BIGINT) AS y
  FROM dense
),
m AS (
  SELECT product_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM xy GROUP BY 1
),
c AS (
  SELECT product_id, n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS num,
         CAST(n * sxx - sx * sx AS DOUBLE) AS den_x,
         CAST(n * syy - sy * sy AS DOUBLE) AS den_y,
         CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy
  FROM m WHERE n >= 12
)
SELECT product_id, n,
       {_R4_SQL.format(x='num / den_x')} AS slope,
       {_R4_SQL.format(x='(CAST(sy AS DOUBLE) - (num / den_x) * sx) / n')} AS intercept,
       {_R4_SQL.format(x='CASE WHEN den_y > 0 THEN num * num / (den_x * den_y) END')} AS r2
FROM c
""",
)


# -- Holt linear-trend forecast (double exponential smoothing) -------------
HOLT_ALPHA = 0.3
HOLT_BETA = 0.1
HOLT_HORIZON = 4
HOLT_FIT_WEEKS = 104


def q_holt_linear_forecast(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = HOLT_ALPHA,
    beta: float = HOLT_BETA,
) -> DataFrame:
    """Holt's linear method per dense product series — the trend-aware
    member of the recursive-smoothing family (EWMA = level only,
    Croston = intermittent): l_t = αx_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, h-step forecast l_n + h·b_n.
    Init l₁=x₁, b₁=0 (the zero-trend seed; the fold's first element IS
    the seed state, mirroring DuckDB list_reduce semantics).

    Distributed form: the two coupled state variables ride one struct
    accumulator through `F.aggregate` over each series' own array —
    same single-shuffle shape as ewma_weekly_demand, and the
    sequential fold order makes the doubles bit-identical across
    engines and partition counts (reference for the family:
    PRACTICA3.py:129-140 fits statsmodels Holt-Winters per group; this
    is the additive-trend core as pure dataflow). The fit window is the
    TRAILING 104 weeks: exponential smoothing forgets the past anyway
    (weight (1-α)^104 ≈ 5e-17), and the bound caps per-series state —
    the fold is O(104) per series no matter how old the series gets,
    which is what keeps the operator flat-cost at 100 TB of history."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    series = dense.groupBy("product_id").agg(
        F.count("*").alias("n_weeks"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("week", "units_sold"))),
            lambda s: s["units_sold"],
        ).alias("xs_all"),
    )
    series = series.withColumn(
        "xs",
        F.slice(
            F.col("xs_all"),
            F.greatest(F.size("xs_all") - (HOLT_FIT_WEEKS - 1), F.lit(1)),
            HOLT_FIT_WEEKS,
        ),
    )
    a, b = alpha, beta
    pairs = F.transform(
        F.col("xs"), lambda x: F.struct(x.alias("l"), F.lit(0.0).alias("b"))
    )

    def step(acc, p):
        l_new = a * p["l"] + (1 - a) * (acc["l"] + acc["b"])
        # l_new appears twice; both engines inline the same expression,
        # so the repetition is free of divergence (and Catalyst CSEs it).
        b_new = b * (l_new - acc["l"]) + (1 - b) * acc["b"]
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    state = F.aggregate(
        F.slice(pairs, 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(pairs, 1),
        step,
    )
    return (
        series.filter(F.col("n_weeks") >= 12)
        .select(
            "product_id",
            "n_weeks",
            _r4(state["l"]).alias("level"),
            _r4(state["b"]).alias("trend"),
            _r4(
                F.greatest(state["l"] + HOLT_HORIZON * state["b"], F.lit(0.0))
            ).alias("forecast_h4"),
        )
    )


# Oracle note: DuckDB 1.0's list_reduce mutates a STRUCT accumulator
# field-by-field (when the 'b' field is computed, struct_extract(acc,
# 'l') already returns the NEW level) — the struct-fold twin of Spark's
# F.aggregate silently diverges. The oracle therefore unrolls the same
# recursion as a RECURSIVE CTE, whose semantics are functional: step t
# joins element t+1 and computes (l, b) from the PREVIOUS row only.
# Constants are pre-folded in Python (0.7 = 1-α etc.) so both engines
# parse the identical double literal.


def holt_linear_forecast_sql(
    alpha: float = HOLT_ALPHA, beta: float = HOLT_BETA
) -> str:
    _A = repr(alpha)
    _1A = repr(1 - alpha)
    _B = repr(beta)
    _1B = repr(1 - beta)
    _LNEW = f"{_A}::DOUBLE * x.x + {_1A}::DOUBLE * (r.l + r.b)"
    return f"""
WITH RECURSIVE {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales
  GROUP BY 1, 2
),
bounds AS (
  SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1
),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
xy AS (
  SELECT product_id, CAST(rn - off AS BIGINT) AS t, x FROM (
    SELECT product_id,
           row_number() OVER (PARTITION BY product_id ORDER BY week) AS rn,
           greatest(count(*) OVER (PARTITION BY product_id) - {HOLT_FIT_WEEKS}, 0) AS off,
           units_sold AS x
    FROM dense
  ) WHERE rn > off
),
nmax AS (
  SELECT product_id, count(*) AS n_weeks,
         least(count(*), {HOLT_FIT_WEEKS}) AS n_fit
  FROM dense GROUP BY 1 HAVING count(*) >= 12
),
rec AS (
  SELECT x.product_id, x.t, x.x AS l, 0.0::DOUBLE AS b
  FROM xy x JOIN nmax USING (product_id) WHERE x.t = 1
  UNION ALL
  SELECT r.product_id, r.t + 1,
         {_LNEW} AS l,
         {_B}::DOUBLE * (({_LNEW}) - r.l) + {_1B}::DOUBLE * r.b AS b
  FROM rec r JOIN xy x ON x.product_id = r.product_id AND x.t = r.t + 1
)
SELECT r.product_id, n.n_weeks,
       {_R4_SQL.format(x='r.l')} AS level,
       {_R4_SQL.format(x='r.b')} AS trend,
       {_R4_SQL.format(x=f'greatest(r.l + {HOLT_HORIZON} * r.b, 0.0::DOUBLE)')} AS forecast_h4
FROM rec r JOIN nmax n ON r.product_id = n.product_id AND r.t = n.n_fit
"""


register("holt_linear_forecast", q_holt_linear_forecast, holt_linear_forecast_sql())


# -- PageRank over the event-transition graph ------------------------------
PR_DAMPING = 0.85
PR_ITERS = 5
_PR_SCALE = 1_000_000_000_000.0  # 1e12: quantize per-iteration sums exact


def q_pagerank_events(
    spark: SparkSession,
    sf_dir: str,
    damping: float = PR_DAMPING,
    iters: int = PR_ITERS,
) -> DataFrame:
    """PageRank centrality of event types in the first-order behavior
    graph (edges = consecutive-event transition counts, the same graph
    as event_transition_matrix): which states do user journeys
    concentrate in. Fixed 5 iterations, damping 0.85, dangling mass
    redistributed uniformly.

    Scale: the loop body is pure dataflow — join(rank ⋈ edges) →
    aggregate — whose cost is O(|edges|) per round, and |edges| ≤
    |event types|² regardless of fact size; the expensive part (edge
    extraction) is one user-keyed window pass over the fact, done once.
    Per-node incoming sums are quantized to scaled BIGINTs before
    summing so every iteration is exactly associative — rank vectors
    are bit-identical across engines, partition counts, AND iteration
    fusion choices (the same trick exact.py uses for money). The
    5-iteration unroll is a static plan (no convergence probe, no
    driver collect); the oracle unrolls the identical five CTEs."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .agg(F.count("*").alias("n"))
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    out_tot = edges.groupBy("src").agg(F.sum("n").alias("out_n"))
    # Edge weight = n/out_n, fixed for all iterations.
    ew = edges.join(out_tot, "src").select(
        "src", "dst", (F.col("n") / F.col("out_n")).alias("wgt")
    )
    n_nodes = nodes.agg(F.count("*").alias("n_nodes"))
    rank = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (1.0 / F.col("n_nodes")).alias("pr"), "n_nodes"
    )
    # Each iteration reads `rank` three times (dangling, contrib, join);
    # without a cut the lazy plan re-derives it 3^k times by round k.
    # The rank vector is |event types| rows — checkpointing it per round
    # keeps the plan linear in iterations (same rule as
    # operators/graph.py's label-propagation loop). The edge list is cut
    # once for the same reason.
    ew = ew.localCheckpoint(eager=True)
    out_tot = out_tot.localCheckpoint(eager=True)
    rank = rank.localCheckpoint(eager=True)
    d = damping
    for _ in range(iters):
        dangling = (
            rank.join(out_tot, rank["node"] == out_tot["src"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.bround(F.col("pr") * _PR_SCALE, 0).cast("long")), F.lit(0)
                ).alias("dang_scaled")
            )
        )
        contrib = (
            rank.join(ew, rank["node"] == ew["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.bround(F.col("pr") * F.col("wgt") * _PR_SCALE, 0).cast("long")
                ).alias("in_scaled")
            )
        )
        rank = (
            rank.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (1 - d) / F.col("n_nodes")
                    + d
                    * (
                        F.coalesce(F.col("in_scaled"), F.lit(0)) / _PR_SCALE
                        + F.col("dang_scaled") / _PR_SCALE / F.col("n_nodes")
                    )
                ).alias("pr"),
                "n_nodes",
            )
            .localCheckpoint(eager=True)
        )
    return rank.select("node", _r4(F.col("pr") * 10000.0).alias("pr_x10k")).orderBy(
        "node"
    )


def pagerank_event_graph_sql(
    damping: float = PR_DAMPING, iters: int = PR_ITERS
) -> str:
    d = repr(damping)
    sc = _PR_SCALE
    cte = [
        """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
edges AS (
  SELECT prev_type AS src, event_type AS dst, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT count(*) AS n_nodes FROM nodes),
out_tot AS (SELECT src, sum(n) AS out_n FROM edges GROUP BY 1),
ew AS (SELECT src, dst, n / out_n AS wgt FROM edges JOIN out_tot USING (src)),
pr0 AS (SELECT node, 1.0::DOUBLE / n_nodes AS pr FROM nodes CROSS JOIN nn)"""
    ]
    for k in range(iters):
        cte.append(
            f"""
dang{k} AS (
  SELECT coalesce(sum(CAST(round_even(pr * {sc}, 0) AS BIGINT)), 0) AS dang_scaled
  FROM pr{k} WHERE node NOT IN (SELECT src FROM out_tot)
),
contrib{k} AS (
  SELECT dst AS node, sum(CAST(round_even(pr * wgt * {sc}, 0) AS BIGINT)) AS in_scaled
  FROM pr{k} JOIN ew ON pr{k}.node = ew.src
  GROUP BY 1
),
pr{k + 1} AS (
  SELECT n.node,
         (1::DOUBLE - {d}::DOUBLE) / nn.n_nodes
         + {d}::DOUBLE * (coalesce(c.in_scaled, 0) / {sc}
                          + dang{k}.dang_scaled / {sc} / nn.n_nodes) AS pr
  FROM pr{k} n
  LEFT JOIN contrib{k} c ON n.node = c.node
  CROSS JOIN nn CROSS JOIN dang{k}
)"""
        )
    body = ",\n".join(cte)
    return (
        body
        + f"""
SELECT node, {_R4_SQL.format(x=f'pr * 10000.0')} AS pr_x10k
FROM pr{iters}
ORDER BY node
"""
    )


register("pagerank_event_graph", q_pagerank_events, pagerank_event_graph_sql())


# -- Gopher-style document quality rules -----------------------------------
def q_gopher_quality(
    spark: SparkSession,
    sf_dir: str,
    *,
    words_lo: int = 50,
    words_hi: int = 100_000,
    wl_lo: float = 3.0,
    wl_hi: float = 10.0,
    sym_max: float = 0.1,
    bullet_max: float = 0.9,
    ellip_max: float = 0.3,
    alpha_min: float = 0.8,
    min_stop: int = 2,
) -> DataFrame:
    """Gopher rule-based quality flags per document (Rae et al. 2021,
    Appendix A1.1, thresholds as published defaults): word count in
    [words_lo, words_hi], mean word length in [wl_lo, wl_hi],
    symbol-to-word ratio (# / ellipsis) ≤ sym_max, ≤ bullet_max of
    lines bullet-led, ≤ ellip_max of lines ellipsis-ended, ≥ alpha_min
    of words containing an alphabetic char, and ≥ min_stop distinct
    stopwords present. `gopher_keep` = conjunction — the pre-filter a
    training pipeline applies before any model-based scoring. All
    thresholds fuzz-drawn on clean 2-decimal grids (r12): every
    keep/drop gate is probed at perturbed boundaries against the
    oracle rebuilt from the same constants.

    Scale: narrow projection (doc_id + text), zero shuffles — every
    rule is a per-row expression pipeline over the text column, so the
    operator is embarrassingly parallel and bandwidth-bound; all
    ratios are exact-integer-count divisions rounded through the
    shared half-even scheme before comparison so keep/drop decisions
    can't flip across engines at a threshold boundary."""
    from ..operators.textops import STOPWORDS, tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = _r4(
        F.when(n_words > 0, sum_word_len.cast("double") / n_words)
    )
    n_hash = F.length(F.col("text")) - F.length(
        F.regexp_replace(F.col("text"), "#", "")
    )
    n_ellip = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), r"\.\.\.", ""))
    ) / 3
    sym_ratio = _r4(F.when(n_words > 0, (n_hash + n_ellip) / n_words))
    lines = F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l))
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: F.substring(l, 1, 1).isin("-", "*"))
    ).cast("long")
    n_ellip_line = F.size(
        F.filter(lines, lambda l: l.endswith("..."))
    ).cast("long")
    bullet_frac = _r4(F.when(n_lines > 0, n_bullet.cast("double") / n_lines))
    ellip_frac = _r4(F.when(n_lines > 0, n_ellip_line.cast("double") / n_lines))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    alpha_frac = _r4(F.when(n_words > 0, n_alpha.cast("double") / n_words))
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in STOPWORDS]))
    ).cast("long")
    flags = {
        "words_ok": (n_words >= words_lo) & (n_words <= words_hi),
        "mean_wl_ok": (mean_wl >= wl_lo) & (mean_wl <= wl_hi),
        "symbol_ok": sym_ratio <= sym_max,
        "bullet_ok": bullet_frac <= bullet_max,
        "ellipsis_ok": ellip_frac <= ellip_max,
        "alpha_ok": alpha_frac >= alpha_min,
        "stopword_ok": n_stop >= min_stop,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellip_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("gopher_keep"),
    )


def _gopher_oracle(
    words_lo: int = 50,
    words_hi: int = 100_000,
    wl_lo: float = 3.0,
    wl_hi: float = 10.0,
    sym_max: float = 0.1,
    bullet_max: float = 0.9,
    ellip_max: float = 0.3,
    alpha_min: float = 0.8,
    min_stop: int = 2,
) -> str:
    from ..operators.textops import STOPWORDS, TOKENS_SQL

    toks = TOKENS_SQL.format(t="text")
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    r4 = _R4_SQL
    return f"""
WITH base AS (
  SELECT doc_id, text,
         {toks} AS toks,
         list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, t -> CAST(length(t) AS BIGINT))) AS BIGINT) AS sum_wl,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
         (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3 AS n_ellip,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*'))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellip_line,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_intersect(list_distinct(toks), [{stops}])) AS BIGINT) AS n_stop
  FROM base
),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0 THEN {r4.format(x='CAST(sum_wl AS DOUBLE) / n_words')} END AS mean_word_len,
         CASE WHEN n_words > 0 THEN {r4.format(x='(n_hash + n_ellip) / n_words')} END AS symbol_ratio,
         CASE WHEN n_lines > 0 THEN {r4.format(x='CAST(n_bullet AS DOUBLE) / n_lines')} END AS bullet_line_frac,
         CASE WHEN n_lines > 0 THEN {r4.format(x='CAST(n_ellip_line AS DOUBLE) / n_lines')} END AS ellipsis_line_frac,
         CASE WHEN n_words > 0 THEN {r4.format(x='CAST(n_alpha AS DOUBLE) / n_words')} END AS alpha_word_frac,
         n_stop AS n_stopwords
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_frac,
       ellipsis_line_frac, alpha_word_frac, n_stopwords,
       (n_words >= {words_lo} AND n_words <= {words_hi}) AS words_ok,
       (mean_word_len >= {wl_lo!r} AND mean_word_len <= {wl_hi!r}) AS mean_wl_ok,
       (symbol_ratio <= {sym_max!r}) AS symbol_ok,
       (bullet_line_frac <= {bullet_max!r}) AS bullet_ok,
       (ellipsis_line_frac <= {ellip_max!r}) AS ellipsis_ok,
       (alpha_word_frac >= {alpha_min!r}) AS alpha_ok,
       (n_stopwords >= {min_stop}) AS stopword_ok,
       (n_words >= {words_lo} AND n_words <= {words_hi}
        AND mean_word_len >= {wl_lo!r} AND mean_word_len <= {wl_hi!r}
        AND symbol_ratio <= {sym_max!r} AND bullet_line_frac <= {bullet_max!r}
        AND ellipsis_line_frac <= {ellip_max!r} AND alpha_word_frac >= {alpha_min!r}
        AND n_stopwords >= {min_stop}) AS gopher_keep
FROM r
"""


register("gopher_quality_flags", q_gopher_quality, _gopher_oracle())


# -- skew-salted brand revenue ---------------------------------------------
def q_salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue through the SALTED join (operators/partitioning.py):
    the part dimension is exploded across 8 salt values and the fact's
    salt is a deterministic row hash, so a part key carrying a
    pathological share of the fact lands in 8 tasks instead of one
    straggler. Semantically identical to the plain equi-join — the
    oracle IS the plain join — which is the point: salting is a
    physical rewrite, not a semantic one. (For moderate skew AQE's
    skew-join split does this automatically; explicit salting covers
    the keys AQE can't split, e.g. a skewed build side feeding a
    downstream aggregate.)"""
    from ..operators.partitioning import salted_join
    from .queries_layout import _brand_revenue

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return _brand_revenue(salted_join(li, part, "l_partkey"))


register(
    "skew_salted_brand_revenue",
    q_salted_brand_revenue,
    f"""
SELECT p_brand,
       {exact_money_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
""",
)


# -- Theta-method forecast (M3-winning two-theta combination) --------------
THETA_ALPHA = 0.3


def q_theta_forecast(
    spark: SparkSession,
    sf_dir: str,
    alpha: float = THETA_ALPHA,
    *,
    sales: DataFrame | None = None,
) -> DataFrame:
    """Theta method (Assimakopoulos & Nikolopoulos 2000) per dense
    product series: decompose into the theta=0 line (the OLS linear
    trend — pure long-run signal) and the theta=2 line (2·y − trend,
    doubled curvature); forecast = ½·(trend extrapolation) + ½·(SES of
    the theta=2 line). The M3-competition benchmark combiner, built
    entirely from parts this repo already verifies: exact-BIGINT OLS
    moments (ols_demand_trend) and the scalar EWMA fold
    (ewma_weekly_demand — scalar accumulator, so the DuckDB twin is
    safe; see holt's docstring for why struct states are not).

    One dense-resample shuffle + one aggregate; Σy/Σxy are plain row
    sums INSIDE the aggregate (map-side partial), Σx/Σx² come from the
    closed forms n(n+1)/2 and n(n+1)(2n+1)/6 — all integers, so
    slope/intercept are bit-identical everywhere.

    Evaluation-shape note: the moments and the sorted series array are
    aggregate OUTPUTS, not inline expressions — an Aggregate is a
    materialization barrier, so the downstream theta-line lambda reads
    them as O(1) attributes. Inlining the fold-based moments into the
    per-element lambda (the first draft) made each z element re-derive
    an O(n) expression → O(n³) interpreted evaluation per series.

    Memory bound: the collected ys array is calendar-bounded (one
    element per week of the series' span — see the module docstring),
    so per-group state does not grow with fact volume; the 520-week
    property test pins this. ``sales`` injects a synthetic cleaned
    sales frame (product_id/invoice_date/units_sold) for such tests."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    if sales is None:
        sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    w = Window.partitionBy("product_id").orderBy("week")
    xy = dense.select(
        "product_id",
        F.row_number().over(w).cast("long").alias("x"),
        F.bround(F.col("units_sold"), 0).cast("long").alias("y"),
    )
    series = (
        xy.groupBy("product_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("x", "y"))), lambda s: s["y"]
            ).alias("ys"),
        )
        .filter(F.col("n") >= 12)
    )

    n, sy, sxy = F.col("n"), F.col("sy"), F.col("sxy")
    sx = n * (n + 1) / F.lit(2)  # long/long -> double, exact for n < 2^26
    sxx = n * (n + 1) * (2 * n + 1) / F.lit(6)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n

    a = alpha
    ys = F.col("ys")
    z = F.transform(
        F.sequence(F.lit(1).cast("long"), n),
        lambda i: 2.0 * F.element_at(ys, i.cast("int")) - (intercept + slope * i),
    )
    ses = F.aggregate(
        F.slice(z, 2, F.greatest(F.size(z) - 1, F.lit(0))),
        F.element_at(z, 1),
        lambda acc, x: a * x + (1 - a) * acc,
    )
    linear_h4 = intercept + slope * (n + HOLT_HORIZON)
    theta_fc = F.greatest(0.5 * linear_h4 + 0.5 * ses, F.lit(0.0))
    return series.select(
        "product_id",
        "n",
        _r4(ses).alias("ses_theta2"),
        _r4(linear_h4).alias("linear_h4"),
        _r4(theta_fc).alias("theta_forecast_h4"),
    )


def theta_forecast_sql(alpha: float = THETA_ALPHA) -> str:
    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales
  GROUP BY 1, 2
),
bounds AS (
  SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1
),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
series AS (
  SELECT product_id, CAST(count(*) AS BIGINT) AS n,
         list_transform(list(units_sold ORDER BY week),
                        x -> CAST(round_even(x, 0) AS BIGINT)) AS ys
  FROM dense GROUP BY 1 HAVING count(*) >= 12
),
mom AS (
  SELECT product_id, n, ys,
         list_sum(ys) AS sy,
         list_sum(list_transform(range(1, CAST(n + 1 AS INTEGER)),
                                 i -> CAST(i AS BIGINT) * ys[i])) AS sxy,
         n * (n + 1) / 2 AS sx,
         n * (n + 1) * (2 * n + 1) / 6 AS sxx
  FROM series
),
fit AS (
  SELECT product_id, n, ys,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         sx, sy
  FROM mom
),
fit2 AS (
  SELECT product_id, n, ys, slope,
         (sy - slope * sx) / n AS intercept
  FROM fit
),
zline AS (
  SELECT product_id, n, slope, intercept,
         list_transform(range(1, CAST(n + 1 AS INTEGER)),
                        i -> 2.0::DOUBLE * ys[i] - (intercept + slope * CAST(i AS BIGINT))) AS z
  FROM fit2
),
folded AS (
  SELECT product_id, n, slope, intercept,
         list_reduce(z, (acc, x) ->
             {alpha!r}::DOUBLE * x + (1::DOUBLE - {alpha!r}::DOUBLE) * acc) AS ses
  FROM zline
)
SELECT product_id, n,
       {_R4_SQL.format(x='ses')} AS ses_theta2,
       {_R4_SQL.format(x=f'intercept + slope * (n + {HOLT_HORIZON})')} AS linear_h4,
       {_R4_SQL.format(x=f'greatest(0.5::DOUBLE * (intercept + slope * (n + {HOLT_HORIZON})) + 0.5::DOUBLE * ses, 0.0::DOUBLE)')} AS theta_forecast_h4
FROM folded
"""


register("theta_forecast", q_theta_forecast, theta_forecast_sql())


# -- Mann-Kendall trend test -----------------------------------------------
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric monotone-trend test per product series
    (Mann 1945 / Kendall's S): S = Σ_{{i<j}} sign(y_j − y_i), variance
    with the tie correction Var = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18,
    z = (S − sign(S))/√Var. The distribution-free complement to
    ols_demand_trend: robust to the zero-inflated weeks OLS is pulled
    around by. `trend` classifies at |z| > 1.96 (5% two-sided).

    Scale: the pair sum is O(m²) per series but m is the FIT WINDOW
    (≤ 104 trailing weeks, same bound as holt) — a constant, so the
    operator stays linear in series count; the quadratic term runs as
    a nested JVM higher-order fold over each series' own array, never
    as a self-join. S and the tie term are exact BIGINTs (associative,
    engine-independent); only the final z division touches doubles."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    # The fit-window array is an aggregate OUTPUT (materialization
    # barrier): the quadratic pair lambda below then reads it as an
    # O(1) attribute instead of re-deriving a slice+transform chain
    # per element (see theta_forecast's evaluation-shape note).
    series = dense.groupBy("product_id").agg(
        F.count("*").alias("n_weeks"),
        F.transform(
            F.slice(
                F.sort_array(F.collect_list(F.struct("week", "units_sold"))),
                F.greatest(F.count("*").cast("int") - (HOLT_FIT_WEEKS - 1), F.lit(1)),
                HOLT_FIT_WEEKS,
            ),
            lambda s: F.bround(s["units_sold"], 0).cast("long"),
        ).alias("ys"),
    ).filter(F.col("n_weeks") >= 12)
    series = series.withColumn("m", F.size("ys").cast("long"))

    ys, m = F.col("ys"), F.col("m")
    s_stat = F.aggregate(
        F.sequence(F.lit(2).cast("long"), m),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.aggregate(
            F.sequence(F.lit(1).cast("long"), j - 1),
            F.lit(0).cast("long"),
            lambda acc2, i: acc2
            + F.signum(
                (F.element_at(ys, j.cast("int")) - F.element_at(ys, i.cast("int"))).cast(
                    "double"
                )
            ).cast("long"),
        ),
    )
    # Tie term over value run counts, computed from the array itself
    # (values are integral longs): for each distinct value, t = number
    # of occurrences.
    tie_term = F.aggregate(
        F.array_distinct(ys),
        F.lit(0).cast("long"),
        lambda acc, v: acc
        + (
            lambda t: t * (t - 1) * (2 * t + 5)
        )(F.size(F.filter(ys, lambda y: y == v)).cast("long")),
    )
    var_s = (m * (m - 1) * (2 * m + 5) - tie_term) / F.lit(18.0)
    z = F.when(
        var_s > 0,
        (s_stat - F.signum(s_stat.cast("double")).cast("long")) / F.sqrt(var_s),
    )
    z_r = _r4(z)
    return series.select(
        "product_id",
        F.col("n_weeks"),
        F.col("m").alias("n_fit"),
        s_stat.alias("s_stat"),
        _r4(var_s).alias("var_s"),
        z_r.alias("z"),
        F.when(z_r > 1.96, F.lit("increasing"))
        .when(z_r < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    )


register(
    "mann_kendall_trend",
    q_mann_kendall,
    f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales
  GROUP BY 1, 2
),
bounds AS (
  SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1
),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
series AS (
  SELECT product_id, CAST(count(*) AS BIGINT) AS n_weeks,
         list(units_sold ORDER BY week) AS xs_all
  FROM dense GROUP BY 1 HAVING count(*) >= 12
),
fitwin AS (
  SELECT product_id, n_weeks,
         list_transform(
           xs_all[greatest(len(xs_all) - {HOLT_FIT_WEEKS - 1}, 1):],
           x -> CAST(round_even(x, 0) AS BIGINT)) AS ys
  FROM series
),
stats AS (
  SELECT product_id, n_weeks, CAST(len(ys) AS BIGINT) AS m,
         list_sum(list_transform(range(2, CAST(len(ys) + 1 AS INTEGER)), j ->
           coalesce(list_sum(list_transform(range(1, j), i ->
             CAST(sign(ys[j] - ys[i]) AS BIGINT))), 0))) AS s_stat,
         list_sum(list_transform(list_distinct(ys), v ->
           CAST(len(list_filter(ys, y -> y = v)) AS BIGINT)
           * (CAST(len(list_filter(ys, y -> y = v)) AS BIGINT) - 1)
           * (2 * CAST(len(list_filter(ys, y -> y = v)) AS BIGINT) + 5))) AS tie_term
  FROM fitwin
),
calc AS (
  SELECT product_id, n_weeks, m, s_stat,
         (m * (m - 1) * (2 * m + 5) - tie_term) / 18.0::DOUBLE AS var_s
  FROM stats
)
SELECT product_id, n_weeks, m AS n_fit, CAST(s_stat AS BIGINT) AS s_stat,
       {_R4_SQL.format(x='var_s')} AS var_s,
       {_R4_SQL.format(x='CASE WHEN var_s > 0 THEN (s_stat - CAST(sign(s_stat) AS BIGINT)) / sqrt(var_s) END')} AS z,
       CASE WHEN {_R4_SQL.format(x='CASE WHEN var_s > 0 THEN (s_stat - CAST(sign(s_stat) AS BIGINT)) / sqrt(var_s) END')} > 1.96 THEN 'increasing'
            WHEN {_R4_SQL.format(x='CASE WHEN var_s > 0 THEN (s_stat - CAST(sign(s_stat) AS BIGINT)) / sqrt(var_s) END')} < -1.96 THEN 'decreasing'
            ELSE 'no_trend' END AS trend
FROM calc
""",
)


# -- three-model backtest with per-series model selection ------------------
BT_HORIZON = 4
BT_WINDOW = HOLT_FIT_WEEKS + BT_HORIZON  # trailing fit+holdout window


def q_forecast_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's backtest loop (PRACTICA3.py:110-151: hold out
    the last 4 weeks, fit on the rest, compare per-model MAPE) run as
    ONE dataflow over every series at once, for three native
    forecasters: trailing MA(4), Holt linear, and Theta. Emits each
    model's masked MAPE (reference A12 semantics: mean over nonzero
    actuals, x100; plain-MAE fallback when the holdout is all zeros)
    and the winning model per series — distributed model selection
    with zero Python in the loop.

    Shape: the trailing BT_WINDOW weeks ride one product-keyed
    partitioning (two window passes for position/length, one
    aggregate). Train-side regression moments are CONDITIONAL ROW SUMS
    inside the aggregate (exact BIGINTs, map-side partial) — not folds
    over the series array — so every per-element lambda downstream
    reads O(1) attributes (see the evaluation-shape note above).
    Forecast horizons are 4-element transforms; the Holt fold runs
    once per series over its own train array."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    w = Window.partitionBy("product_id").orderBy("week")
    wp = Window.partitionBy("product_id")
    rows = (
        dense.select(
            "product_id",
            "week",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count("*").over(wp).cast("long").alias("n_all"),
            F.bround(F.col("units_sold"), 0).cast("long").alias("y"),
        )
        .withColumn("off", F.greatest(F.col("n_all") - BT_WINDOW, F.lit(0)))
        .filter((F.col("rn") > F.col("off")) & (F.col("n_all") >= 16))
        .withColumn("x", F.col("rn") - F.col("off"))
        .withColumn(
            "n_train", F.least(F.col("n_all"), F.lit(BT_WINDOW)) - BT_HORIZON
        )
        .withColumn("is_train", F.col("x") <= F.col("n_train"))
    )
    series = rows.groupBy("product_id").agg(
        F.max("n_all").alias("n_weeks"),
        F.max("n_train").alias("n_train"),
        F.sum(F.when(F.col("is_train"), F.col("y"))).alias("sy"),
        F.sum(F.when(F.col("is_train"), F.col("x") * F.col("y"))).alias("sxy"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("x", "y"))), lambda s: s["y"]
        ).alias("ys"),
    )

    nt, sy, sxy, ys = F.col("n_train"), F.col("sy"), F.col("sxy"), F.col("ys")
    # OLS closed forms over train positions 1..n_train (exact ints).
    sx = nt * (nt + 1) / F.lit(2)
    sxx = nt * (nt + 1) * (2 * nt + 1) / F.lit(6)
    slope = (nt * sxy - sx * sy) / (nt * sxx - sx * sx)
    intercept = (sy - slope * sx) / nt

    a, b = HOLT_ALPHA, HOLT_BETA
    train = F.slice(ys, 1, nt.cast("int"))
    pairs = F.transform(
        train, lambda x: F.struct(x.cast("double").alias("l"), F.lit(0.0).alias("b"))
    )
    holt_state = F.aggregate(
        F.slice(pairs, 2, F.greatest(F.size(pairs) - 1, F.lit(0))),
        F.element_at(pairs, 1),
        lambda acc, p: F.struct(
            (a * p["l"] + (1 - a) * (acc["l"] + acc["b"])).alias("l"),
            (
                b * ((a * p["l"] + (1 - a) * (acc["l"] + acc["b"])) - acc["l"])
                + (1 - b) * acc["b"]
            ).alias("b"),
        ),
    )
    z = F.transform(
        F.sequence(F.lit(1).cast("long"), nt),
        lambda i: 2.0 * F.element_at(ys, i.cast("int")) - (intercept + slope * i),
    )
    ses = F.aggregate(
        F.slice(z, 2, F.greatest(F.size(z) - 1, F.lit(0))),
        F.element_at(z, 1),
        lambda acc, x: THETA_ALPHA * x + (1 - THETA_ALPHA) * acc,
    )
    ma4 = (
        F.element_at(ys, nt.cast("int"))
        + F.element_at(ys, (nt - 1).cast("int"))
        + F.element_at(ys, (nt - 2).cast("int"))
        + F.element_at(ys, (nt - 3).cast("int"))
    ) / 4.0

    def fc_holt(h):
        return F.greatest(holt_state["l"] + h * holt_state["b"], F.lit(0.0))

    def fc_theta(h):
        return F.greatest(
            0.5 * (intercept + slope * (nt + h)) + 0.5 * ses, F.lit(0.0)
        )

    def fc_ma4(h):
        return F.greatest(ma4, F.lit(0.0))

    def mape(fc_fn):
        # Reference A12: mean over nonzero actuals of |a-f|/a * 100;
        # all-zero holdout -> plain MAE. Fixed h=1..4 summation order.
        hs = F.sequence(F.lit(1).cast("long"), F.lit(BT_HORIZON).cast("long"))
        actual = lambda h: F.element_at(ys, (nt + h).cast("int")).cast("double")
        nz = F.size(F.filter(hs, lambda h: actual(h) != 0.0)).cast("long")
        err_sum = F.aggregate(
            hs,
            F.lit(0.0),
            lambda acc, h: acc
            + F.when(
                actual(h) != 0.0, F.abs((actual(h) - fc_fn(h)) / actual(h))
            ).otherwise(0.0),
        )
        mae = (
            F.aggregate(
                hs, F.lit(0.0), lambda acc, h: acc + F.abs(actual(h) - fc_fn(h))
            )
            / float(BT_HORIZON)
        )
        return F.when(nz > 0, err_sum / nz * 100.0).otherwise(mae)

    m_ma4 = F.bround(mape(fc_ma4) * 10000.0, 0) / 10000.0
    m_holt = F.bround(mape(fc_holt) * 10000.0, 0) / 10000.0
    m_theta = F.bround(mape(fc_theta) * 10000.0, 0) / 10000.0
    best = (
        F.when((m_holt <= m_ma4) & (m_holt <= m_theta), F.lit("holt"))
        .when(m_ma4 <= m_theta, F.lit("ma4"))
        .otherwise(F.lit("theta"))
    )
    return series.select(
        "product_id",
        "n_weeks",
        "n_train",
        m_ma4.alias("mape_ma4"),
        m_holt.alias("mape_holt"),
        m_theta.alias("mape_theta"),
        best.alias("best_model"),
    )


def _model_selection_oracle() -> str:
    a, one_a = repr(HOLT_ALPHA), repr(1 - HOLT_ALPHA)
    b, one_b = repr(HOLT_BETA), repr(1 - HOLT_BETA)
    ta, one_ta = repr(THETA_ALPHA), repr(1 - THETA_ALPHA)
    lnew = f"{a}::DOUBLE * CAST(x.y AS DOUBLE) + {one_a}::DOUBLE * (r.l + r.b)"
    # Per-horizon error terms, summed in fixed h order.
    def err_terms(f_expr: str) -> tuple[str, str, str]:
        nz = " + ".join(
            f"(CASE WHEN CAST(ys[n_train + {h}] AS DOUBLE) != 0.0 THEN 1 ELSE 0 END)"
            for h in range(1, BT_HORIZON + 1)
        )
        s = " + ".join(
            f"(CASE WHEN CAST(ys[n_train + {h}] AS DOUBLE) != 0.0 THEN "
            f"abs((CAST(ys[n_train + {h}] AS DOUBLE) - ({f_expr.format(h=h)})) / CAST(ys[n_train + {h}] AS DOUBLE)) ELSE 0.0 END)"
            for h in range(1, BT_HORIZON + 1)
        )
        mae = " + ".join(
            f"abs(CAST(ys[n_train + {h}] AS DOUBLE) - ({f_expr.format(h=h)}))"
            for h in range(1, BT_HORIZON + 1)
        )
        return nz, s, mae

    f_ma4 = "greatest(ma4, 0.0::DOUBLE)"
    f_holt = "greatest(hl + {h} * hb, 0.0::DOUBLE)"
    f_theta = f"greatest(0.5::DOUBLE * (intercept + slope * (n_train + {{h}})) + 0.5::DOUBLE * ses, 0.0::DOUBLE)"
    nz0, s_ma4, mae_ma4 = err_terms(f_ma4)
    _, s_holt, mae_holt = err_terms(f_holt)
    _, s_theta, mae_theta = err_terms(f_theta)

    def mape_sql(s, mae):
        return (
            f"round_even((CASE WHEN ({nz0}) > 0 THEN ({s}) / ({nz0}) * 100.0 "
            f"ELSE ({mae}) / {float(BT_HORIZON)} END) * 10000.0, 0) / 10000.0"
        )

    return f"""
WITH RECURSIVE {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
bounds AS (SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
ranked AS (
  SELECT product_id, week,
         CAST(row_number() OVER (PARTITION BY product_id ORDER BY week) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY product_id) AS BIGINT) AS n_all,
         CAST(round_even(units_sold, 0) AS BIGINT) AS y
  FROM dense
),
trimmed AS (
  SELECT product_id, n_all, rn - greatest(n_all - {BT_WINDOW}, 0) AS x, y,
         least(n_all, {BT_WINDOW}) - {BT_HORIZON} AS n_train
  FROM ranked
  WHERE rn > greatest(n_all - {BT_WINDOW}, 0) AND n_all >= 16
),
series AS (
  SELECT product_id, max(n_all) AS n_weeks, max(n_train) AS n_train,
         sum(CASE WHEN x <= n_train THEN y END) AS sy,
         sum(CASE WHEN x <= n_train THEN x * y END) AS sxy,
         list(y ORDER BY x) AS ys
  FROM trimmed GROUP BY 1
),
fit AS (
  SELECT *,
         (n_train * sxy - (n_train * (n_train + 1) / 2) * sy)
           / (n_train * (n_train * (n_train + 1) * (2 * n_train + 1) / 6)
              - (n_train * (n_train + 1) / 2) * (n_train * (n_train + 1) / 2)) AS slope
  FROM series
),
fit2 AS (
  SELECT *, (sy - slope * (n_train * (n_train + 1) / 2)) / n_train AS intercept
  FROM fit
),
theta_ses AS (
  SELECT product_id,
         list_reduce(
           list_transform(range(1, CAST(n_train + 1 AS INTEGER)),
                          i -> 2.0::DOUBLE * ys[i] - (intercept + slope * CAST(i AS BIGINT))),
           (acc, x) -> {ta}::DOUBLE * x + {one_ta}::DOUBLE * acc) AS ses
  FROM fit2
),
hx AS (
  SELECT product_id, x, y, n_train FROM trimmed WHERE x <= n_train
),
holt AS (
  SELECT product_id, CAST(1 AS BIGINT) AS t, CAST(y AS DOUBLE) AS l, 0.0::DOUBLE AS b, n_train
  FROM hx WHERE x = 1
  UNION ALL
  SELECT r.product_id, r.t + 1, {lnew},
         {b}::DOUBLE * (({lnew}) - r.l) + {one_b}::DOUBLE * r.b, r.n_train
  FROM holt r JOIN hx x ON x.product_id = r.product_id AND x.x = r.t + 1
),
holt_end AS (
  SELECT product_id, l AS hl, b AS hb FROM holt WHERE t = n_train
),
final AS (
  SELECT f.product_id, f.n_weeks, f.n_train, f.ys, f.slope, f.intercept,
         t.ses, h.hl, h.hb,
         CAST(ys[n_train] + ys[n_train - 1] + ys[n_train - 2] + ys[n_train - 3] AS DOUBLE) / 4.0 AS ma4
  FROM fit2 f
  JOIN theta_ses t USING (product_id)
  JOIN holt_end h USING (product_id)
)
SELECT product_id, n_weeks, n_train,
       {mape_sql(s_ma4, mae_ma4)} AS mape_ma4,
       {mape_sql(s_holt, mae_holt)} AS mape_holt,
       {mape_sql(s_theta, mae_theta)} AS mape_theta,
       CASE WHEN {mape_sql(s_holt, mae_holt)} <= {mape_sql(s_ma4, mae_ma4)}
             AND {mape_sql(s_holt, mae_holt)} <= {mape_sql(s_theta, mae_theta)} THEN 'holt'
            WHEN {mape_sql(s_ma4, mae_ma4)} <= {mape_sql(s_theta, mae_theta)} THEN 'ma4'
            ELSE 'theta' END AS best_model
FROM final
"""


register(
    "forecast_model_selection",
    q_forecast_model_selection,
    _model_selection_oracle(),
)


# -- per-series autocorrelation (lags 1, 4, 8) -----------------------------
ACF_LAGS = (1, 4, 8)


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of weekly demand at lags 1/4/8 per
    product — the cycle diagnostic that tells a planner whether
    demand has weekly persistence or monthly/bi-monthly seasonality
    (and tells the forecast family which lags matter). Standard
    estimator: r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)², expanded so
    every moment (Σy, Σy², Σ y_t·y_{t+k}) is an EXACT BIGINT — the
    lag cross-moments fold once over the series' own array
    (aggregate-output barrier, O(n) per lag), everything else is
    O(1) attribute arithmetic. One dense-resample shuffle + one
    aggregate, same skeleton as the rest of the family."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    dense = weekly_dense_resample(sales, ["product_id"], "invoice_date", "units_sold")
    w = Window.partitionBy("product_id").orderBy("week")
    xy = dense.select(
        "product_id",
        F.row_number().over(w).cast("long").alias("x"),
        F.bround(F.col("units_sold"), 0).cast("long").alias("y"),
    )
    series = (
        xy.groupBy("product_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("sy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("x", "y"))), lambda s: s["y"]
            ).alias("ys"),
        )
        .filter(F.col("n") >= 16)
    )
    n, sy, syy, ys = F.col("n"), F.col("sy"), F.col("syy"), F.col("ys")
    mean = sy.cast("double") / n
    # Σ(y-ȳ)² = syy - sy²/n, exact-int inputs -> deterministic double.
    den = syy.cast("double") - sy.cast("double") * sy / n

    def acf(k: int):
        # Σ_{t=1..n-k} y_t·y_{t+k} as an exact BIGINT fold.
        cross = F.aggregate(
            F.sequence(F.lit(1).cast("long"), n - k),
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.element_at(ys, t.cast("int"))
            * F.element_at(ys, (t + k).cast("int")),
        )
        # Σ(y_t−ȳ)(y_{t+k}−ȳ) over the overlap; head/tail partial sums
        # are exact-int folds as well.
        head = F.aggregate(
            F.sequence(F.lit(1).cast("long"), n - k),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.element_at(ys, t.cast("int")),
        )
        tail = F.aggregate(
            F.sequence(F.lit(k + 1).cast("long"), n),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.element_at(ys, t.cast("int")),
        )
        num = (
            cross.cast("double")
            - mean * head
            - mean * tail
            + (n - k) * mean * mean
        )
        return F.when(den > 0, _r4(num / den))

    return series.select(
        "product_id",
        "n",
        *[acf(k).alias(f"acf_{k}") for k in ACF_LAGS],
    )


def _acf_oracle() -> str:
    def acf_sql(k: int) -> str:
        cross = (
            f"list_sum(list_transform(range(1, CAST(n - {k} + 1 AS INTEGER)), "
            f"t -> ys[t] * ys[t + {k}]))"
        )
        head = (
            f"list_sum(list_transform(range(1, CAST(n - {k} + 1 AS INTEGER)), t -> ys[t]))"
        )
        tail = (
            f"list_sum(list_transform(range({k} + 1, CAST(n + 1 AS INTEGER)), t -> ys[t]))"
        )
        num = (
            f"CAST({cross} AS DOUBLE) - mean * ({head}) - mean * ({tail})"
            f" + (n - {k}) * mean * mean"
        )
        return f"CASE WHEN den > 0 THEN {_R4_SQL.format(x=f'({num}) / den')} END"

    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
bounds AS (SELECT product_id, min(week) AS mn, max(week) AS mx FROM weekly GROUP BY 1),
spine AS (
  SELECT product_id,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
dense AS (
  SELECT s.product_id, s.week, coalesce(w.units_sold, 0.0) AS units_sold
  FROM spine s LEFT JOIN weekly w USING (product_id, week)
),
series AS (
  SELECT product_id, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(round_even(units_sold, 0) AS BIGINT)) AS sy,
         sum(CAST(round_even(units_sold, 0) AS BIGINT) * CAST(round_even(units_sold, 0) AS BIGINT)) AS syy,
         list_transform(list(units_sold ORDER BY week), x -> CAST(round_even(x, 0) AS BIGINT)) AS ys
  FROM dense GROUP BY 1 HAVING count(*) >= 16
),
m AS (
  SELECT product_id, n, ys,
         CAST(sy AS DOUBLE) / n AS mean,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS den
  FROM series
)
SELECT product_id, n,
       {acf_sql(1)} AS acf_1,
       {acf_sql(4)} AS acf_4,
       {acf_sql(8)} AS acf_8
FROM m
"""


register("demand_autocorrelation", q_autocorrelation, _acf_oracle())


# -- economic order quantity (EOQ) -----------------------------------------
EOQ_ORDER_COST = 50.0     # S: fixed cost per order
EOQ_HOLDING_COST = 2.0    # H: per unit per year


def q_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson EOQ per product: Q* = sqrt(2·D·S / H) with annualized
    demand D estimated over the series' calendar span — the classic
    order-sizing complement to the flagship's safety-stock/ROP
    (PRACTICA3.py:68-81 computes WHEN to order; EOQ computes HOW MUCH
    per order to minimize ordering+holding cost). Pure aggregates:
    one weekly rollup + one product aggregate; demand totals are exact
    BIGINTs so D and Q* are deterministic doubles everywhere."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_resample_sum

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = weekly_resample_sum(sales, ("product_id",), "invoice_date", "units_sold")
    agg = weekly.groupBy("product_id").agg(
        F.sum(F.bround("units_sold", 0).cast("long")).alias("total_units"),
        (
            (F.datediff(F.max("week"), F.min("week")) / 7 + 1).cast("long")
        ).alias("weeks_span"),
    )
    d_annual = F.col("total_units").cast("double") * 52.0 / F.col("weeks_span")
    eoq = F.sqrt(2.0 * d_annual * EOQ_ORDER_COST / EOQ_HOLDING_COST)
    return (
        agg.filter(F.col("weeks_span") >= 12)
        .select(
            "product_id",
            "weeks_span",
            "total_units",
            _r4(d_annual).alias("annual_demand"),
            _r4(eoq).alias("eoq_units"),
            _r4(d_annual / eoq).alias("orders_per_year"),
        )
    )


register(
    "eoq_order_quantity",
    q_eoq,
    f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
agg AS (
  SELECT product_id,
         sum(CAST(round_even(units_sold, 0) AS BIGINT)) AS total_units,
         CAST(datediff('day', min(week), max(week)) / 7 + 1 AS BIGINT) AS weeks_span
  FROM weekly GROUP BY 1
),
c AS (
  SELECT product_id, weeks_span, CAST(total_units AS BIGINT) AS total_units,
         CAST(total_units AS DOUBLE) * 52.0 / weeks_span AS d_annual
  FROM agg WHERE weeks_span >= 12
)
SELECT product_id, weeks_span, total_units,
       {_R4_SQL.format(x='d_annual')} AS annual_demand,
       {_R4_SQL.format(x=f'sqrt(2.0 * d_annual * {EOQ_ORDER_COST} / {EOQ_HOLDING_COST})')} AS eoq_units,
       {_R4_SQL.format(x=f'd_annual / sqrt(2.0 * d_annual * {EOQ_ORDER_COST} / {EOQ_HOLDING_COST})')} AS orders_per_year
FROM c
""",
)


# -- deterministic per-series demand mode ----------------------------------
def q_demand_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent weekly demand level per product with a
    DETERMINISTIC tie-break (highest count, then smallest value) via
    max_by over a (count, -value) struct — engines disagree on bare
    mode()'s tie choice, so the portable form is the argmax composition
    (same reason the repo avoids first()/mode() everywhere else). Two
    stacked aggregates on the same key — the second is nearly free
    because the first already partitioned by product."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_resample_sum

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = weekly_resample_sum(sales, ("product_id",), "invoice_date", "units_sold")
    counts = weekly.groupBy(
        "product_id", F.bround("units_sold", 0).cast("long").alias("demand")
    ).agg(F.count("*").alias("c"))
    # Composite orderable key (count major, smallest-value minor) packed
    # into one BIGINT: DuckDB's arg_max can't order by a struct, and the
    # packed key is portable to any engine with a plain argmax.
    key = F.col("c") * F.lit(1_000_000_000_000) + (
        F.lit(1_000_000_000_000) - F.col("demand")
    )
    return counts.groupBy("product_id").agg(
        F.max_by(F.col("demand"), key).alias("mode_demand"),
        F.max("c").alias("mode_weeks"),
        F.count("*").alias("n_distinct_levels"),
    )


register(
    "demand_mode",
    q_demand_mode,
    f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
counts AS (
  SELECT product_id, CAST(round_even(units_sold, 0) AS BIGINT) AS demand,
         count(*) AS c
  FROM weekly GROUP BY 1, 2
)
SELECT product_id,
       arg_max(demand, c * 1000000000000 + (1000000000000 - demand)) AS mode_demand,
       max(c) AS mode_weeks,
       count(*) AS n_distinct_levels
FROM counts GROUP BY 1
""",
)


# -- multi-quantile demand distribution ------------------------------------
QUANTILES = (0.25, 0.5, 0.75, 0.9)


def q_demand_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-product demand distribution summary in ONE aggregate pass:
    `percentile(col, array(q...))` computes every cut from a single
    sorted buffer instead of one aggregate per quantile (4x less state
    at 100 TB series cardinality than four scalar percentile calls).
    Exact linear interpolation ↔ DuckDB's quantile_cont list form;
    results unpivoted to (product, q, value) rows."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_resample_sum

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = weekly_resample_sum(sales, ("product_id",), "invoice_date", "units_sold")
    agg = weekly.groupBy("product_id").agg(
        F.percentile(
            "units_sold", F.array(*[F.lit(q) for q in QUANTILES])
        ).alias("qs"),
        F.count("*").alias("n_weeks"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(q) for q in QUANTILES]).alias("q"),
        F.col("qs").alias("v"),
    )
    return agg.filter(F.col("n_weeks") >= 12).select(
        "product_id",
        "n_weeks",
        F.explode(pairs).alias("p"),
    ).select(
        "product_id",
        "n_weeks",
        F.col("p.q").alias("q"),
        _r4(F.col("p.v")).alias("demand_at_q"),
    )


_QLIST = ", ".join(str(q) for q in QUANTILES)
register(
    "demand_quartiles",
    q_demand_quartiles,
    f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
agg AS (
  SELECT product_id, count(*) AS n_weeks,
         quantile_cont(units_sold, [{_QLIST}]) AS qs
  FROM weekly GROUP BY 1 HAVING count(*) >= 12
),
ql AS (SELECT unnest([{_QLIST}]) AS q, generate_subscripts([{_QLIST}], 1) AS i)
SELECT a.product_id, a.n_weeks, CAST(ql.q AS DOUBLE) AS q,
       {_R4_SQL.format(x='a.qs[ql.i]')} AS demand_at_q
FROM agg a CROSS JOIN ql
""",
)


# -- Triangle counting on the co-purchase graph ----------------------------
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph
    (edges = part pairs sharing >= 2 orders). Enumeration uses the
    degree-ordered orientation (the classic compact-forward trick,
    public literature): every undirected edge points from its
    lower-(degree, id) endpoint to the higher one, so each triangle is
    found EXACTLY once as two out-edges of its smallest vertex closed
    by a third oriented edge — and the wedge join's fan-out is bounded
    by out-degrees, which orientation caps near sqrt(m) instead of the
    max raw degree (the hub-explosion guard at scale). Ordering uses
    one integer key deg*10^9 + id, identical in both engines, so the
    orientation — and therefore the hash — is deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= 2)
        .select("p1", "p2")
    )
    pairs = pairs.localCheckpoint(eager=True)  # degree agg + orientation both read it
    deg = (
        pairs.select(F.col("p1").alias("v"))
        .unionAll(pairs.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    okey = (F.col("d") * F.lit(1_000_000_000) + F.col("v")).alias("okey")
    keyed = deg.select("v", okey)
    k1 = keyed.select(F.col("v").alias("p1"), F.col("okey").alias("k1"))
    k2 = keyed.select(F.col("v").alias("p2"), F.col("okey").alias("k2"))
    e = pairs.join(k1, "p1").join(k2, "p2")
    oriented = e.select(
        F.when(F.col("k1") < F.col("k2"), F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(F.col("k1") < F.col("k2"), F.col("k1")).otherwise(F.col("k2")).alias("ksrc"),
        F.when(F.col("k1") < F.col("k2"), F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(F.col("k1") < F.col("k2"), F.col("k2")).otherwise(F.col("k1")).alias("kdst"),
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.kdst") < F.col("e2.kdst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("va"),
            F.col("e1.dst").alias("vb"),
            F.col("e2.dst").alias("vc"),
        )
    )
    verts = (
        tri.select(F.col("va").alias("part"))
        .unionAll(tri.select(F.col("vb").alias("part")))
        .unionAll(tri.select(F.col("vc").alias("part")))
    )
    return (
        verts.groupBy("part")
        .agg(F.count("*").cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "part")
        .limit(100)
    )


register(
    "triangle_count_copurchase",
    q_triangle_count,
    """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
),
deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT p1 AS v FROM pairs UNION ALL SELECT p2 AS v FROM pairs
  ) GROUP BY 1
),
keyed AS (SELECT v, d * 1000000000 + v AS okey FROM deg),
oriented AS (
  SELECT CASE WHEN ka.okey < kb.okey THEN p1 ELSE p2 END AS src,
         CASE WHEN ka.okey < kb.okey THEN ka.okey ELSE kb.okey END AS ksrc,
         CASE WHEN ka.okey < kb.okey THEN p2 ELSE p1 END AS dst,
         CASE WHEN ka.okey < kb.okey THEN kb.okey ELSE ka.okey END AS kdst
  FROM pairs
  JOIN keyed ka ON ka.v = p1
  JOIN keyed kb ON kb.v = p2
),
tri AS (
  SELECT e1.src AS va, e1.dst AS vb, e2.dst AS vc
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src AND e1.kdst < e2.kdst
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT va AS part FROM tri
  UNION ALL SELECT vb FROM tri
  UNION ALL SELECT vc FROM tri
)
GROUP BY part
ORDER BY n_triangles DESC, part
LIMIT 100
""",
)


# -- Cross-sectional price elasticity per brand ----------------------------
def q_price_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of demand per brand: regress
    ln(total quantity) on ln(realized unit price) across the brand's
    PARTS. Aggregating to one point per (brand, part) first makes the
    regression population catalog-bounded (parts per brand), so the
    moment magnitudes are independent of fact-row volume — the same
    bounding argument as the calendar-bounded series arrays above.

    Parity recipe (ols_demand_trend's, extended to double features):
    each ln is rounded at 1e-6 and scaled to an exact BIGINT (both
    features positive, so HALF_UP == half-away); per-row products stay
    under 2^47 and their sums accumulate in DECIMAL(30,0) on Spark /
    HUGEINT in DuckDB — exact and associative — so the closed-form
    numerator/denominator are identical integers cast to identical
    doubles on both engines, under any shuffle order."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    per_part = j.groupBy("p_brand", "p_partkey").agg(
        F.sum(F.bround(F.col("l_quantity"), 0).cast("long")).alias("qty"),
        exact_decimal_sum(F.col("l_extendedprice"), 2).alias("rev"),
    )
    xy = per_part.select(
        "p_brand",
        F.round(F.log(F.col("rev") / F.col("qty")) * 1e6, 0).cast("long").alias("x"),
        F.round(F.log(F.col("qty").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("y"),
    )
    m = xy.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(20,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(20,0)")).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(10,0)")
    sxd = F.col("sx").cast("decimal(20,0)")
    syd = F.col("sy").cast("decimal(20,0)")
    num = (nd * F.col("sxy") - sxd * syd).cast("double")
    den = (nd * F.col("sxx") - sxd * sxd).cast("double")
    return (
        m.filter(F.col("n") >= 10)
        .select("p_brand", "n", _r4(num / den).alias("elasticity"))
        .orderBy("p_brand")
    )


register(
    "price_elasticity_by_brand",
    q_price_elasticity_by_brand,
    f"""
WITH pp AS (
  SELECT p.p_brand, l.l_partkey,
         sum(CAST(round_even(l.l_quantity, 0) AS BIGINT)) AS qty,
         {exact_decimal_sum_sql('l.l_extendedprice', 2)} AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
xy AS (
  SELECT p_brand,
         CAST(round(ln(rev / qty) * 1e6, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(qty AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM pp
),
m AS (
  SELECT p_brand, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       {_R4_SQL.format(x='CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)')}
         AS elasticity
FROM m WHERE n >= 10 ORDER BY p_brand
""",
)


# -- Offline CUSUM change-point detection ----------------------------------
_CUSUM_MIN_WEEKS = 12


def q_cusum_change_points(
    spark: SparkSession, sf_dir: str, min_weeks: int | None = None
) -> DataFrame:
    """Offline CUSUM change-point scan per product series: S_t =
    sum_{i<=t}(x_i - mean), change point = the week at argmax |S_t| —
    the standard level-shift detector a demand-monitoring job runs
    after each load.

    Exactness: weekly units are integral (quantities), so the scan
    works on T_t = n * S_t = n * csum_t - t * total — ALL BIGINT
    (multiplying through by n clears the mean's division): the
    running sum, the argmax ranking, and the tiebreak are exact
    integer comparisons with zero cross-engine float drift; division
    back to units happens only in the rounded output column.

    Plan: one weekly pre-aggregate shuffle, per-series window scan
    (partitioned by product — never a global window), ranked pick of
    the peak row. Series length is calendar-bounded (~520), volume
    scales only the pre-aggregate."""
    from ..operators.cleaning import clean_sales

    min_weeks = min_weeks if min_weeks is not None else _CUSUM_MIN_WEEKS
    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = (
        sales.withColumn(
            "week",
            F.date_add(
                F.col("invoice_date").cast("date"),
                (8 - F.dayofweek(F.col("invoice_date").cast("date"))) % 7,
            ),
        )
        .groupBy("product_id", "week")
        .agg(F.round(F.sum("units_sold"), 0).cast("long").alias("xq"))
    )
    per = Window.partitionBy("product_id")
    wseq = per.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    scanned = (
        weekly.withColumn("n", F.count("*").over(per))
        .withColumn("total", F.sum("xq").over(per))
        .withColumn("csum", F.sum("xq").over(wseq))
        .withColumn("t", F.row_number().over(per.orderBy("week")))
        .filter(F.col("n") >= min_weeks)
        .withColumn(
            "T_t", F.col("n") * F.col("csum") - F.col("t") * F.col("total")
        )
    )
    pick = Window.partitionBy("product_id").orderBy(
        F.abs(F.col("T_t")).desc(), F.col("week").asc()
    )
    return (
        scanned.withColumn("rk", F.row_number().over(pick))
        .filter(F.col("rk") == 1)
        .select(
            "product_id",
            F.col("n").cast("long").alias("n_weeks"),
            F.col("total").cast("long").alias("total_units"),
            F.col("week").alias("change_week"),
            F.round(F.col("T_t") / F.col("n"), 4).alias("cusum_peak"),
        )
        .orderBy("product_id")
    )


def cusum_change_points_sql(min_weeks: int | None = None) -> str:
    # history floor fuzz-drawn (r12): the admission edge decides which
    # series get a change point at all.
    min_weeks = min_weeks if min_weeks is not None else _CUSUM_MIN_WEEKS
    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         CAST(round(sum(units_sold), 0) AS BIGINT) AS xq
  FROM sales GROUP BY 1, 2
),
scanned AS (
  SELECT product_id, week, xq,
         count(*) OVER (PARTITION BY product_id) AS n,
         sum(xq) OVER (PARTITION BY product_id) AS total,
         sum(xq) OVER (PARTITION BY product_id ORDER BY week
                       ROWS UNBOUNDED PRECEDING) AS csum,
         row_number() OVER (PARTITION BY product_id ORDER BY week) AS t
  FROM weekly
),
peaks AS (
  SELECT *, n * csum - t * total AS T_t,
         row_number() OVER (PARTITION BY product_id
                            ORDER BY abs(n * csum - t * total) DESC, week ASC) AS rk
  FROM scanned WHERE n >= {min_weeks}
)
SELECT product_id,
       CAST(n AS BIGINT) AS n_weeks,
       CAST(total AS BIGINT) AS total_units,
       week AS change_week,
       round(T_t / CAST(n AS DOUBLE), 4) AS cusum_peak
FROM peaks WHERE rk = 1 ORDER BY product_id
"""


register(
    "cusum_change_points",
    q_cusum_change_points,
    cusum_change_points_sql(),
)


# -- Deterministic bootstrap CI for mean weekly demand ---------------------
_BOOT_B = 100
_BOOT_MIN_WEEKS = 20


def q_bootstrap_ci_weekly_demand(
    spark: SparkSession,
    sf_dir: str,
    n_boot: int | None = None,
    min_weeks: int | None = None,
    tail: float = 0.025,
) -> DataFrame:
    """Bootstrap 95% confidence interval for each product's mean
    weekly demand — uncertainty quantification for the planner, with
    a DETERMINISTIC resampler: resample b draws its n indices from
    md5(product:b:j) mod n (the repo's engine-portable seed), so both
    engines materialize the identical {_BOOT_B} resample means and the
    CI is hash-checkable, not merely statistically similar.

    Exactness: resample means are integer sums (weekly units are
    integral) divided once, identical doubles in both engines; the CI
    quantiles are the DISCRETE flavor (percentile_approx with max
    accuracy <-> quantile_disc, the percentile_disc_quantity pairing)
    — an order STATISTIC picks an element, so no interpolation
    arithmetic exists to drift in the last ulp (the continuous flavor
    measured 3 off-by-1e-4 cells at sf0.01; discrete is also the
    textbook choice for bootstrap percentile intervals).

    Plan: weekly pre-aggregate, per-series array collect (calendar-
    bounded length), one generator explode to n x B index rows joined
    by ORDINAL into the array — no data shuffle after the series
    collect; the per-product output is 1 row."""
    from ..operators.cleaning import clean_sales

    n_boot = n_boot if n_boot is not None else _BOOT_B
    min_weeks = min_weeks if min_weeks is not None else _BOOT_MIN_WEEKS
    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = (
        sales.withColumn(
            "week",
            F.date_add(
                F.col("invoice_date").cast("date"),
                (8 - F.dayofweek(F.col("invoice_date").cast("date"))) % 7,
            ),
        )
        .groupBy("product_id", "week")
        .agg(F.round(F.sum("units_sold"), 0).cast("long").alias("xq"))
    )
    series = (
        weekly.groupBy("product_id")
        .agg(
            F.count("*").alias("n"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("week", "xq"))),
                lambda s: s["xq"],
            ).alias("xs"),
        )
        .filter(F.col("n") >= min_weeks)
        # deterministic 10% hash sample of the catalog (md5 bucket, the
        # sample_stratified_hash convention): the bootstrap costs n x B
        # lambda evaluations per series, so the registered query bounds
        # the review list the way a planner actually runs it — CI the
        # series under review, not the whole catalog in one pass
        .filter(
            F.conv(
                F.substring(F.md5(F.col("product_id").cast("string")), 1, 2), 16, 10
            ).cast("long")
            % 10
            == 0
        )
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b")
    draws = series.select("product_id", "n", "xs", b)
    j = F.sequence(F.lit(0), F.col("n") - 1)
    idx_hash = lambda jj: F.pmod(  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("product_id"), F.col("b"), jj.cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.col("n"),
    )
    resample_sum = F.aggregate(
        j,
        F.lit(0).cast("long"),
        lambda acc, jj: acc
        + F.element_at(F.col("xs"), (idx_hash(jj) + 1).cast("int")),
    )
    means = draws.select(
        "product_id",
        "n",
        (resample_sum / F.col("n")).alias("mean_b"),
    )
    return (
        means.groupBy("product_id", "n")
        .agg(
            F.round(
                F.expr(f"percentile_approx(mean_b, {tail!r}, 2147483647)"), 4
            ).alias("ci_lo"),
            F.round(
                F.expr("percentile_approx(mean_b, 0.5, 2147483647)"), 4
            ).alias("ci_med"),
            F.round(
                F.expr(f"percentile_approx(mean_b, {1 - tail!r}, 2147483647)"), 4
            ).alias("ci_hi"),
        )
        .select(
            "product_id",
            F.col("n").cast("long").alias("n_weeks"),
            "ci_lo",
            "ci_med",
            "ci_hi",
        )
        .orderBy("product_id")
    )


def bootstrap_ci_weekly_demand_sql(
    n_boot: int | None = None,
    min_weeks: int | None = None,
    tail: float = 0.025,
) -> str:
    # resample count, history floor and CI tail fuzz-drawn (r12): the
    # deterministic md5 resampler and the DISCRETE order-statistic
    # quantile must agree at every (B, floor, level). 1 - tail is
    # Python-computed on both sides (same IEEE double).
    n_boot = n_boot if n_boot is not None else _BOOT_B
    min_weeks = min_weeks if min_weeks is not None else _BOOT_MIN_WEEKS
    hi = 1 - tail
    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         CAST(round(sum(units_sold), 0) AS BIGINT) AS xq
  FROM sales GROUP BY 1, 2
),
series AS (
  SELECT product_id, count(*) AS n, list(xq ORDER BY week) AS xs
  FROM weekly GROUP BY 1
  HAVING count(*) >= {min_weeks}
     AND CAST(('0x' || substr(md5(CAST(product_id AS VARCHAR)), 1, 2)) AS BIGINT) % 10 = 0
),
draws AS (
  SELECT product_id, n, xs, unnest(range(0, {n_boot})) AS b FROM series
),
means AS (
  SELECT product_id, n,
         list_reduce(
           list_transform(range(0, CAST(n AS INTEGER)), jj ->
             xs[CAST(CAST(('0x' || substr(md5(product_id || ':' || b || ':' || jj),
                                          1, 15)) AS BIGINT) % n AS INTEGER) + 1]),
           (acc, x) -> acc + x) / CAST(n AS DOUBLE) AS mean_b
  FROM draws
)
SELECT product_id, CAST(n AS BIGINT) AS n_weeks,
       round(quantile_disc(mean_b, {tail!r}), 4) AS ci_lo,
       round(quantile_disc(mean_b, 0.5), 4) AS ci_med,
       round(quantile_disc(mean_b, {hi!r}), 4) AS ci_hi
FROM means GROUP BY product_id, n ORDER BY product_id
"""


register(
    "bootstrap_ci_weekly_demand",
    q_bootstrap_ci_weekly_demand,
    bootstrap_ci_weekly_demand_sql(),
)


# -- co-purchase node similarity (neighborhood Jaccard) --------------------
def q_copurchase_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item similarity on the co-purchase graph: for part pairs
    co-occurring in >= 2 baskets, the Jaccard of their ORDER
    neighborhoods |O(a) ∩ O(b)| / |O(a) ∪ O(b)| — the classic
    neighborhood-overlap recommender signal (SimRank's first hop),
    sharper than raw lift for head items because the union normalizes
    popularity away.

    Scale shape: candidate pairs come from the per-order self-join
    (baskets are bounded — ~7 lines/order — so pair volume is linear
    in orders, never |parts|²); degrees are one group-by; the
    support >= 2 gate bounds the output to genuinely co-bought pairs.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    d = li.dropDuplicates(["l_orderkey", "l_partkey"])
    deg = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("deg"))
    a, b = d.alias("a"), d.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_orders"))
        .filter(F.col("shared_orders") >= 2)
    )
    da = deg.select(F.col("l_partkey").alias("part_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("l_partkey").alias("part_b"), F.col("deg").alias("deg_b"))
    return (
        shared.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "shared_orders",
            "deg_a",
            "deg_b",
            F.round(
                F.col("shared_orders")
                / (F.col("deg_a") + F.col("deg_b") - F.col("shared_orders")),
                6,
            ).alias("jaccard"),
        )
    )


register(
    "copurchase_node_jaccard",
    q_copurchase_node_jaccard,
    """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
deg AS (SELECT l_partkey, count(*) AS deg FROM d GROUP BY l_partkey),
sh AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS shared_orders
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT sh.part_a, sh.part_b, sh.shared_orders,
       da.deg AS deg_a, db.deg AS deg_b,
       round(sh.shared_orders
             / CAST(da.deg + db.deg - sh.shared_orders AS DOUBLE), 6) AS jaccard
FROM sh
JOIN deg da ON da.l_partkey = sh.part_a
JOIN deg db ON db.l_partkey = sh.part_b
""",
)
