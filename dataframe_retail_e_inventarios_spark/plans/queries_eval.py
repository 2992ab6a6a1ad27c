"""Model-evaluation and ranking-fusion queries.

The training-data pipeline's read-out side: once a corpus is filtered,
deduped and a model trained on it, the SAME engine is asked to score
the model — exact ROC-AUC over billions of scored rows, calibration /
Brier reliability tables, rank correlations, distribution-distance
tests between cohorts, hybrid-retrieval rank fusion, and inequality
(Gini/Lorenz) concentration audits.

Every query here is exact-integer inside (counts, cents, doubled
ranks; DECIMAL(38,0) <-> HUGEINT where products can cross int64) with
one double-valued closed form at the end whose expression tree is
mirrored verbatim in the DuckDB oracle — the Welch-t recipe
(queries_stats.py). Scale posture per query:

- ROC-AUC: tie-aware rank-sum form over the GROUPED score domain
  (one row per distinct score, bounded by the per-doc token count),
  prefix sums via the warning-free triangular join — never a global
  window over data rows, never an all-pairs join.
- Calibration/Brier: the score domain is the 11-value discount grid,
  so the whole reliability table is one bounded group-by.
- Spearman: BOTH rank dimensions live on bounded domains
  (quantity 1..50, discount 0..10 cents-of-rate), so tie-averaged
  ranks come from bounded count tables and the moment sums fold over
  at most 550 (q, d) cells per brand — one scan, zero windows.
- KS: fixed-width price bins give a bounded ECDF spine per segment.
- RRF: per-list rank<=k filters compile to Spark's WindowGroupLimit
  (partial top-k BEFORE the shuffle), the bounded-candidate contract
  real retrieval fusion has.
- Gini: ranks come from operators/distributed_rank.with_global_rank
  (range-partitioned scan + metadata-scale offsets), nation-relative
  via a 25-row broadcast offset table — never a per-nation sort task.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.distributed_rank import with_global_rank
from ..operators.prefix import exclusive_prefix_offsets
from ..operators.textops import TOKENS_SQL, tokens
from ..registry import register
from ..sources.readers import load_table

_TOKS = TOKENS_SQL.format(t="text")

# English marker tokens (the lang_id_heuristic 'en' row) reused as the
# classifier under evaluation: score = how many marker hits a document
# has, label = whether it is tagged 'en'.
_EN_MARKERS = ("the", "and", "of", "is")


# -- exact tie-aware ROC-AUC ------------------------------------------------
def q_roc_auc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the en-marker-count score against the lang='en'
    label, tie-aware (Mann-Whitney U with the half-credit tie term).

    U doubled to stay integral: U2 = sum over distinct scores s of
    n_pos(s) * (2 * cum_neg_below(s) + n_neg(s)); AUC = U2 / (2*P*N).
    The per-score frame has one row per DISTINCT score (bounded by max
    tokens per doc), so the exclusive prefix sum runs on the triangular
    broadcast join (operators/prefix.py) — no global window, no
    all-pairs. Accumulation in DECIMAL(38,0): n_pos * cum_neg is
    rows x rows and crosses int64 long before 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    score = F.size(F.filter(toks, lambda x: x.isin(*_EN_MARKERS)))
    per_score = (
        docs.select(
            score.alias("s"),
            (F.col("lang") == "en").cast("long").alias("y"),
        )
        .groupBy("s")
        .agg(
            F.sum("y").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
        )
        # bounded (one row per distinct score); three consumers (prefix
        # key frame, prefix counts, the join) would otherwise each
        # replan the corpus tokenize scan
        .localCheckpoint(eager=True)
    )
    cum = exclusive_prefix_offsets(per_score, "s", "n_neg", "cum_neg_below")
    j = per_score.join(F.broadcast(cum), "s")
    u2_term = (
        F.col("n_pos").cast("decimal(38,0)")
        * (F.lit(2) * F.col("cum_neg_below") + F.col("n_neg")).cast("decimal(38,0)")
    )
    agg = j.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(u2_term).alias("u2"),
    )
    p_d = F.col("n_pos").cast("double")
    n_d = F.col("n_neg").cast("double")
    auc = F.col("u2").cast("double") / (F.lit(2.0) * p_d * n_d)
    return agg.select(
        "n_pos",
        "n_neg",
        F.bround(auc, 6).alias("auc"),
        F.bround(F.lit(2.0) * auc - F.lit(1.0), 6).alias("gini_coef"),
    )


register(
    "roc_auc_langid",
    q_roc_auc_langid,
    f"""
WITH scored AS (
  SELECT len(list_filter({_TOKS}, x -> x IN ('the', 'and', 'of', 'is'))) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
per_score AS (
  SELECT s, sum(y) AS n_pos, count(*) - sum(y) AS n_neg
  FROM scored GROUP BY s
),
cum AS (
  SELECT s, n_pos, n_neg,
         coalesce(sum(n_neg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg_below
  FROM per_score
),
agg AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos,
         CAST(sum(n_neg) AS BIGINT) AS n_neg,
         sum(CAST(n_pos AS HUGEINT) * (2 * cum_neg_below + n_neg)) AS u2
  FROM cum
)
SELECT n_pos, n_neg,
       round_even(CAST(u2 AS DOUBLE)
                  / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
         + 0.0 AS auc,
       round_even(2.0 * (CAST(u2 AS DOUBLE)
                  / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0, 6)
         + 0.0 AS gini_coef
FROM agg
""",
)


# -- calibration reliability bins + Brier -----------------------------------
def q_calibration_bins_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the discount-as-return-probability toy
    model: p_hat = l_discount * 10 (the 11-value grid), outcome
    y = (l_returnflag = 'R'). Per bin: observed rate, calibration gap,
    mean Brier contribution — the Brier numerator is the exact integer
    n*d^2 - 20*d*sum_y + 100*sum_y (d = discount in hundredths), so the
    only doubles are final divisions. One bounded group-by; scale-free.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_discount", "l_returnflag")
    d = F.bround(F.col("l_discount") * 100, 0).cast("long")
    y = (F.col("l_returnflag") == "R").cast("long")
    g = (
        li.select(d.alias("d"), y.alias("y"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n_obs"), F.sum("y").alias("n_pos"))
    )
    brier_num = (
        F.col("n_obs") * F.col("d") * F.col("d")
        - F.lit(20) * F.col("d") * F.col("n_pos")
        + F.lit(100) * F.col("n_pos")
    ).cast("decimal(38,0)")
    n_d = F.col("n_obs").cast("double")
    return (
        g.select(
            (F.col("d").cast("double") / F.lit(10.0)).alias("p_pred"),
            F.col("n_obs"),
            F.col("n_pos"),
            F.bround(F.col("n_pos").cast("double") / n_d, 6).alias("obs_rate"),
            F.bround(
                F.col("d").cast("double") / F.lit(10.0)
                - F.col("n_pos").cast("double") / n_d,
                6,
            ).alias("calib_gap"),
            F.bround(brier_num.cast("double") / (F.lit(100.0) * n_d), 6).alias(
                "brier"
            ),
        )
        .orderBy("p_pred")
    )


register(
    "calibration_bins_brier",
    q_calibration_bins_brier,
    """
WITH g AS (
  SELECT CAST(round_even(l_discount * 100, 0) AS BIGINT) AS d,
         count(*) AS n_obs,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n_pos
  FROM lineitem GROUP BY 1
)
SELECT CAST(d AS DOUBLE) / 10.0 AS p_pred,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(n_pos AS BIGINT) AS n_pos,
       round_even(CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE), 6) + 0.0 AS obs_rate,
       round_even(CAST(d AS DOUBLE) / 10.0
                  - CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE), 6) + 0.0 AS calib_gap,
       round_even(CAST(n_obs * d * d - 20 * d * n_pos + 100 * n_pos AS DOUBLE)
                  / (100.0 * CAST(n_obs AS DOUBLE)), 6) + 0.0 AS brier
FROM g
ORDER BY p_pred
""",
)


# -- Spearman rank correlation on bounded domains ---------------------------
def q_spearman_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Spearman rho between l_quantity and l_discount.

    Both variables live on BOUNDED domains (quantity 1..50, discount
    0..10 hundredths), so tie-averaged ranks never need a window over
    data rows: per-brand marginal count tables (<=50 and <=11 rows)
    give doubled average ranks r2 = 2*cum_below + cnt + 1 via a
    bounded triangular join, and the cross moments fold over the
    <=550-cell joint (q, d) count table. Moments in DECIMAL(38,0)
    (r2x*r2y*count crosses int64 at scale); the Pearson-on-ranks
    closed form runs on doubles cast from those exact integers,
    mirrored verbatim in the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("long").alias("q"),
        F.bround(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    # bounded (<=550 cells per brand); the two rank passes and the
    # moment fold all consume it — checkpoint so the lineitem join +
    # aggregate run once
    joint = (
        base.groupBy("brand", "q", "d")
        .agg(F.count(F.lit(1)).alias("n_qd"))
        .localCheckpoint(eager=True)
    )

    def _ranks(dim: str) -> DataFrame:
        marg = joint.groupBy("brand", dim).agg(F.sum("n_qd").alias("cnt"))
        below = marg.select(
            F.col("brand").alias("_b"),
            F.col(dim).alias("_v"),
            F.col("cnt").alias("_c"),
        )
        return (
            marg.join(
                F.broadcast(below),
                (F.col("brand") == F.col("_b")) & (F.col("_v") < F.col(dim)),
                "left",
            )
            .groupBy("brand", dim, "cnt")
            .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("cum_below"))
            .select(
                "brand",
                dim,
                (F.lit(2) * F.col("cum_below") + F.col("cnt") + F.lit(1)).alias(
                    f"r2_{dim}"
                ),
            )
        )
    rq, rd = _ranks("q"), _ranks("d")
    cells = joint.join(rq, ["brand", "q"]).join(rd, ["brand", "d"])
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = cells.groupBy("brand").agg(
        F.sum("n_qd").cast("long").alias("n"),
        F.sum(dec(F.col("n_qd") * F.col("r2_q"))).alias("sx"),
        F.sum(dec(F.col("n_qd") * F.col("r2_d"))).alias("sy"),
        F.sum(dec(F.col("n_qd") * F.col("r2_q") * F.col("r2_q"))).alias("sxx"),
        F.sum(dec(F.col("n_qd") * F.col("r2_d") * F.col("r2_d"))).alias("syy"),
        F.sum(dec(F.col("n_qd") * F.col("r2_q") * F.col("r2_d"))).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    rho = (n_d * sxy - sx * sy) / F.sqrt(
        (n_d * sxx - sx * sx) * (n_d * syy - sy * sy)
    )
    return m.select(
        "brand", "n", F.bround(rho, 6).alias("spearman_rho")
    ).orderBy("brand")


register(
    "spearman_qty_discount",
    q_spearman_qty_discount,
    """
WITH base AS (
  SELECT p.p_brand AS brand, CAST(l.l_quantity AS BIGINT) AS q,
         CAST(round_even(l.l_discount * 100, 0) AS BIGINT) AS d
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
r AS (
  SELECT brand, q, d,
         2 * (rank() OVER (PARTITION BY brand ORDER BY q)) - 2
           + count(*) OVER (PARTITION BY brand, q) + 1 AS r2q,
         2 * (rank() OVER (PARTITION BY brand ORDER BY d)) - 2
           + count(*) OVER (PARTITION BY brand, d) + 1 AS r2d
  FROM base
),
m AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(r2q AS HUGEINT)) AS sx, sum(CAST(r2d AS HUGEINT)) AS sy,
         sum(CAST(r2q AS HUGEINT) * r2q) AS sxx,
         sum(CAST(r2d AS HUGEINT) * r2d) AS syy,
         sum(CAST(r2q AS HUGEINT) * r2d) AS sxy
  FROM r GROUP BY brand
)
SELECT brand, n,
       round_even((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         + 0.0 AS spearman_rho
FROM m
ORDER BY brand
""",
)


# -- two-sample Kolmogorov-Smirnov over binned ECDFs ------------------------
_KS_BIN_CENTS = 500_000  # $5,000-wide price bins -> bounded spine


def q_ks_price_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise two-sample KS distance between market segments' order-
    price distributions on a fixed $5,000 bin grid. The binned ECDF
    spine is BOUNDED (~110 bins regardless of data volume), so the
    cumulative window runs over bins, never rows. The sup statistic is
    found on exact integers — max |cum_a*n_b - cum_b*n_a| in
    DECIMAL(38,0) (the cross product exceeds int64 at scale) — and
    divided once at the end.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.bround(F.col("o_totalprice") * 1e2, 0).cast("long")
    binned = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.floor(cents / F.lit(_KS_BIN_CENTS)).alias("bin"),
        )
        .groupBy("seg", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # bounded (segs x price bins); four consumers (bin spine, seg
        # spine, the dense join, totals) would otherwise each replan
        # the orders join + aggregate
        .localCheckpoint(eager=True)
    )
    spine = binned.select("bin").distinct().crossJoin(
        F.broadcast(binned.select("seg").distinct())
    )
    dense = spine.join(binned, ["seg", "bin"], "left").fillna(0, subset=["cnt"])
    w = Window.partitionBy("seg").orderBy("bin")
    cdf = dense.select(
        "seg", "bin", F.sum("cnt").over(w).cast("long").alias("cum")
    )
    totals = binned.groupBy("seg").agg(F.sum("cnt").cast("long").alias("n"))
    a = cdf.join(totals, "seg").select(
        F.col("seg").alias("seg_a"),
        "bin",
        F.col("cum").alias("cum_a"),
        F.col("n").alias("n_a"),
    )
    b = cdf.join(totals, "seg").select(
        F.col("seg").alias("seg_b"),
        F.col("bin").alias("bin_b"),
        F.col("cum").alias("cum_b"),
        F.col("n").alias("n_b"),
    )
    diff = F.abs(
        F.col("cum_a").cast("decimal(38,0)") * F.col("n_b")
        - F.col("cum_b").cast("decimal(38,0)") * F.col("n_a")
    )
    pairs = (
        a.join(b, (F.col("seg_a") < F.col("seg_b")) & (F.col("bin") == F.col("bin_b")))
        .groupBy("seg_a", "seg_b", "n_a", "n_b")
        .agg(F.max(diff).alias("sup_scaled"))
    )
    ks = F.col("sup_scaled").cast("double") / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return pairs.select(
        "seg_a", "seg_b", "n_a", "n_b", F.bround(ks, 6).alias("ks_stat")
    ).orderBy("seg_a", "seg_b")


register(
    "ks_price_segments",
    q_ks_price_segments,
    f"""
WITH binned AS (
  SELECT c.c_mktsegment AS seg,
         CAST(floor(CAST(round_even(o.o_totalprice * 100, 0) AS BIGINT)
                    / {_KS_BIN_CENTS}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
spine AS (
  SELECT seg, bin FROM (SELECT DISTINCT seg FROM binned)
  CROSS JOIN (SELECT DISTINCT bin FROM binned)
),
dense AS (
  SELECT s.seg, s.bin, coalesce(b.cnt, 0) AS cnt
  FROM spine s LEFT JOIN binned b ON s.seg = b.seg AND s.bin = b.bin
),
cdf AS (
  SELECT seg, bin,
         CAST(sum(cnt) OVER (PARTITION BY seg ORDER BY bin) AS BIGINT) AS cum
  FROM dense
),
totals AS (SELECT seg, CAST(sum(cnt) AS BIGINT) AS n FROM binned GROUP BY seg)
SELECT a.seg AS seg_a, b.seg AS seg_b, ta.n AS n_a, tb.n AS n_b,
       round_even(CAST(max(abs(CAST(a.cum AS HUGEINT) * tb.n
                                - CAST(b.cum AS HUGEINT) * ta.n)) AS DOUBLE)
                  / (CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE)), 6) + 0.0 AS ks_stat
FROM cdf a
JOIN cdf b ON a.seg < b.seg AND a.bin = b.bin
JOIN totals ta ON ta.seg = a.seg
JOIN totals tb ON tb.seg = b.seg
GROUP BY 1, 2, 3, 4
ORDER BY seg_a, seg_b
""",
)


# -- reciprocal rank fusion -------------------------------------------------
_RRF_K = 60
_RRF_CANDIDATES = 64
_RRF_TOP = 5


def q_reciprocal_rank_fusion(
    spark: SparkSession,
    sf_dir: str,
    rrf_k: int = _RRF_K,
    candidates: int = _RRF_CANDIDATES,
    top: int = _RRF_TOP,
) -> DataFrame:
    """Hybrid-retrieval rank fusion per source: fuse a token-count
    ranking and a char-length ranking with RRF
    (score = sum over lists of 1/(60 + rank)), keep the fused top-5.

    The rank<=64 candidate filters compile to WindowGroupLimit —
    Spark inserts a per-partition top-k BEFORE the rank shuffle, so
    each list is the bounded candidate set real fusion operates on,
    not a full-corpus sort. The two RRF terms are added in a fixed
    operand order (absent list contributes 0.0), bit-reproducible in
    the oracle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", F.size(tokens("text")).alias("n_toks")
    )
    w_tok = Window.partitionBy("source").orderBy(
        F.col("n_toks").desc(), F.col("doc_id").asc()
    )
    w_len = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    la = (
        docs.withColumn("rank_tok", F.row_number().over(w_tok))
        .where(F.col("rank_tok") <= candidates)
        .select("source", "doc_id", "rank_tok")
    )
    lb = (
        docs.withColumn("rank_len", F.row_number().over(w_len))
        .where(F.col("rank_len") <= candidates)
        .select("source", "doc_id", "rank_len")
    )
    fused = la.join(lb, ["source", "doc_id"], "full").select(
        "source",
        "doc_id",
        "rank_tok",
        "rank_len",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_tok")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_len")), F.lit(0.0)
            )
        ).alias("_rrf"),
    )
    w_out = Window.partitionBy("source").orderBy(
        F.col("_rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_out))
        .where(F.col("fused_rank") <= top)
        .select(
            "source",
            "fused_rank",
            "doc_id",
            "rank_tok",
            "rank_len",
            F.bround(F.col("_rrf"), 6).alias("rrf_score"),
        )
        .orderBy("source", "fused_rank")
    )


def reciprocal_rank_fusion_sql(
    rrf_k: int = _RRF_K,
    candidates: int = _RRF_CANDIDATES,
    top: int = _RRF_TOP,
) -> str:
    # RRF geometry fuzz-drawn (r12): the k smoothing constant, the
    # per-list candidate cutoff (WindowGroupLimit bound) and the fused
    # top-N must agree at every drawn shape.
    return f"""
WITH d AS (
  SELECT doc_id, source, n_chars, len({_TOKS}) AS n_toks FROM documents
),
la AS (
  SELECT source, doc_id, rank_tok FROM (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_toks DESC, doc_id ASC) AS rank_tok
    FROM d
  ) WHERE rank_tok <= {candidates}
),
lb AS (
  SELECT source, doc_id, rank_len FROM (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id ASC) AS rank_len
    FROM d
  ) WHERE rank_len <= {candidates}
),
fused AS (
  SELECT coalesce(la.source, lb.source) AS source,
         coalesce(la.doc_id, lb.doc_id) AS doc_id,
         la.rank_tok, lb.rank_len,
         coalesce(1e0 / ({rrf_k} + la.rank_tok), 0e0)
           + coalesce(1e0 / ({rrf_k} + lb.rank_len), 0e0) AS rrf
  FROM la FULL OUTER JOIN lb
    ON la.source = lb.source AND la.doc_id = lb.doc_id
)
SELECT source, fused_rank, doc_id, rank_tok, rank_len,
       round_even(rrf, 6) + 0.0 AS rrf_score
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY rrf DESC, doc_id ASC) AS fused_rank
  FROM fused
)
WHERE fused_rank <= {top}
ORDER BY source, fused_rank
"""


register(
    "reciprocal_rank_fusion",
    q_reciprocal_rank_fusion,
    reciprocal_rank_fusion_sql(),
)


# -- split-conformal forecast intervals -------------------------------------
_CONF_ALPHA_NUM = 9  # 1 - alpha = 0.9, kept as the integer 9/10
_CONF_TEST_WEEKS = 4
_CONF_MIN_CAL = 10


def q_conformal_forecast_intervals(
    spark: SparkSession,
    sf_dir: str,
    alpha_num: int = _CONF_ALPHA_NUM,
    test_weeks: int = _CONF_TEST_WEEKS,
    min_cal: int = _CONF_MIN_CAL,
) -> DataFrame:
    """Split-conformal prediction intervals around the 4-week trailing
    MA forecast, per weekly series: calibration residuals -> the
    ceil(0.9*(n+1))-th order statistic is the interval half-width
    q_hat; report empirical coverage on the held-out last 4 weeks.

    Exactness: weekly units are integral, so the residual
    |4*y_t - sum(y_{t-4..t-1})| is an exact BIGINT (never a windowed
    float sum — engines disagree on frame-sum association), the
    conformal rank k = (9*(n_cal+1) + 9) // 10 is pure integer
    arithmetic, and the order statistic comes from
    element_at(array_sort(...), k). Per-series state is bounded by the
    series span in weeks (the weekly_dense_resample contract), so the
    collect_list aggregate is executor-safe at any corpus size; the
    whole query is one groupBy after the resample's single shuffle.
    """
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample
    from .flagship import KEYS

    # Pre-gate (r12): _cal counts dense rows with idx in
    # [5, nw - test_weeks], so size(_cal) >= min_cal requires
    # nw >= min_cal + test_weeks + 4 — a lossless candidate bound
    # derived from the same kwargs the fuzzer draws; the size(_cal)
    # gate below stays as the semantic one.
    dense = weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")),
        KEYS,
        "invoice_date",
        "units_sold",
        min_span_weeks=min_cal + test_weeks + 4,
    )
    w_ord = Window.partitionBy(*KEYS).orderBy("week")
    u = F.bround(F.col("units_sold"), 0).cast("long")
    sum4 = F.sum(u).over(w_ord.rowsBetween(-4, -1))
    idx = F.row_number().over(w_ord)
    n_weeks = F.count(F.lit(1)).over(Window.partitionBy(*KEYS))
    rows = dense.select(
        *KEYS,
        (F.lit(4) * u - sum4).alias("_diff"),
        idx.alias("_idx"),
        n_weeks.alias("_nw"),
    ).where(F.col("_idx") >= 5)
    r_scaled = F.abs(F.col("_diff"))
    is_test = F.col("_idx") > F.col("_nw") - test_weeks
    g = (
        rows.groupBy(*KEYS)
        .agg(
            F.array_sort(
                F.collect_list(F.when(~is_test, r_scaled))
            ).alias("_cal"),
            F.collect_list(F.when(is_test, r_scaled)).alias("_test"),
        )
        .where(F.size("_cal") >= min_cal)
    )
    n_cal = F.size("_cal")
    k = F.floor(
        (F.lit(alpha_num) * (n_cal + 1) + F.lit(alpha_num))
        / F.lit(10)
    ).cast("int")
    # k can exceed n_cal only when n_cal < 9; the >=10 gate excludes it
    q_hat = F.element_at("_cal", k)
    covered = F.size(F.filter("_test", lambda x: x <= q_hat))
    return g.select(
        *KEYS,
        n_cal.cast("long").alias("n_cal"),
        F.round(q_hat.cast("double") / 4.0, 4).alias("q_hat"),
        F.size("_test").cast("long").alias("n_test"),
        covered.cast("long").alias("n_covered"),
        F.bround(
            covered.cast("double") / F.size("_test").cast("double"), 6
        ).alias("coverage"),
    ).orderBy(*KEYS)


def conformal_forecast_intervals_sql(
    alpha_num: int = _CONF_ALPHA_NUM,
    test_weeks: int = _CONF_TEST_WEEKS,
    min_cal: int = _CONF_MIN_CAL,
) -> str:
    # Conformal geometry fuzz-drawn (r12): coverage level (the
    # alpha_num/10 order-statistic index), holdout span, and the
    # calibration floor. alpha_num <= 9 with min_cal >= 10 keeps
    # k <= n_cal (k = floor(a*(n+2)/10) <= n iff n >= (2a-9)/(10-a)).
    from . import oracle_fragments as _OF

    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
{_OF.WEEKLY_CTE.strip()},
{_OF.DENSE_CTE.strip()},
seq AS (
  SELECT product_id, store_id, week,
         CAST(round_even(units_sold, 0) AS BIGINT) AS u,
         row_number() OVER w AS idx,
         count(*) OVER (PARTITION BY product_id, store_id) AS nw,
         sum(CAST(round_even(units_sold, 0) AS BIGINT)) OVER (
           w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS sum4
  FROM dense
  WINDOW w AS (PARTITION BY product_id, store_id ORDER BY week)
),
res AS (
  SELECT product_id, store_id,
         abs(4 * u - sum4) AS r_scaled,
         idx > nw - {test_weeks} AS is_test
  FROM seq WHERE idx >= 5
),
g AS (
  SELECT product_id, store_id,
         list_sort(list(r_scaled) FILTER (NOT is_test)) AS cal,
         list(r_scaled) FILTER (is_test) AS test
  FROM res GROUP BY 1, 2
  HAVING len(list(r_scaled) FILTER (NOT is_test)) >= {min_cal}
)
SELECT product_id, store_id,
       CAST(len(cal) AS BIGINT) AS n_cal,
       round(CAST(cal[CAST(({alpha_num} * (len(cal) + 1)
                            + {alpha_num}) // 10 AS INT)] AS DOUBLE)
             / 4.0, 4) AS q_hat,
       CAST(len(test) AS BIGINT) AS n_test,
       CAST(len(list_filter(test,
            x -> x <= cal[CAST(({alpha_num} * (len(cal) + 1)
                                + {alpha_num}) // 10 AS INT)]))
         AS BIGINT) AS n_covered,
       round_even(CAST(len(list_filter(test,
            x -> x <= cal[CAST(({alpha_num} * (len(cal) + 1)
                                + {alpha_num}) // 10 AS INT)]))
         AS DOUBLE) / CAST(len(test) AS DOUBLE), 6) + 0.0 AS coverage
FROM g
ORDER BY product_id, store_id
"""


register(
    "conformal_forecast_intervals",
    q_conformal_forecast_intervals,
    conformal_forecast_intervals_sql(),
)


# -- MASE: mean absolute SCALED error ---------------------------------------
def q_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the 4-week trailing-MA forecast per weekly series —
    the scale-free backtest metric missing from the MAPE/sMAPE/RMSE/MAE
    family (and the one that stays defined on zero-demand weeks):
    MAE of the forecast on the held-out last 4 weeks, divided by the
    in-sample MAE of the naive-1 forecast on the training weeks.

    Both numerator and denominator stay exact integers — test error
    |4y - sum4| (the conformal residual), train error |y - y_prev| —
    and the ratio (num * n_train) / (4 * den * n_test) is computed as
    ONE double division of two exact DECIMAL(38,0) products. Gates:
    n_train >= 10 and a nonzero denominator (constant training series
    have no naive-1 scale). Same single-shuffle shape as
    conformal_forecast_intervals.
    """
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample
    from .flagship import KEYS

    # Pre-gate (r12): n_train counts dense rows with idx in
    # [2, nw - test], so n_train >= 10 requires nw >= 10 + test + 1 —
    # lossless; the n_train/den gate below stays as the semantic one.
    dense = weekly_dense_resample(
        clean_sales(load_table(spark, sf_dir, "lineitem")),
        KEYS,
        "invoice_date",
        "units_sold",
        min_span_weeks=10 + _CONF_TEST_WEEKS + 1,
    )
    w_ord = Window.partitionBy(*KEYS).orderBy("week")
    u = F.bround(F.col("units_sold"), 0).cast("long")
    rows = dense.select(
        *KEYS,
        u.alias("u"),
        F.sum(u).over(w_ord.rowsBetween(-4, -1)).alias("sum4"),
        F.lag(u, 1).over(w_ord).alias("prev"),
        F.row_number().over(w_ord).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy(*KEYS)).alias("nw"),
    )
    is_test = F.col("idx") > F.col("nw") - _CONF_TEST_WEEKS
    is_train = (F.col("idx") >= 2) & ~is_test
    g = (
        rows.groupBy(*KEYS)
        .agg(
            F.sum(F.when(is_train, F.abs(F.col("u") - F.col("prev")))).alias(
                "den"
            ),
            F.count(F.when(is_train, F.lit(1))).alias("n_train"),
            F.sum(
                F.when(is_test, F.abs(F.lit(4) * F.col("u") - F.col("sum4")))
            ).alias("num"),
            F.count(F.when(is_test, F.lit(1))).alias("n_test"),
        )
        .where((F.col("n_train") >= 10) & (F.col("den") > 0))
    )
    mase = (
        (F.col("num").cast("decimal(38,0)") * F.col("n_train")).cast("double")
    ) / (
        (
            F.lit(4).cast("decimal(38,0)")
            * F.col("den")
            * F.col("n_test")
        ).cast("double")
    )
    return g.select(
        *KEYS,
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_test").cast("long").alias("n_test"),
        F.bround(mase, 6).alias("mase"),
    ).orderBy(*KEYS)


def _mase_sql() -> str:
    from . import oracle_fragments as _OF

    return f"""
WITH {_OF.CLEAN_SALES_CTE.strip()},
{_OF.WEEKLY_CTE.strip()},
{_OF.DENSE_CTE.strip()},
seq AS (
  SELECT product_id, store_id,
         CAST(round_even(units_sold, 0) AS BIGINT) AS u,
         sum(CAST(round_even(units_sold, 0) AS BIGINT)) OVER (
           w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS sum4,
         lag(CAST(round_even(units_sold, 0) AS BIGINT), 1) OVER w AS prev,
         row_number() OVER w AS idx,
         count(*) OVER (PARTITION BY product_id, store_id) AS nw
  FROM dense
  WINDOW w AS (PARTITION BY product_id, store_id ORDER BY week)
),
g AS (
  SELECT product_id, store_id,
         sum(CASE WHEN idx >= 2 AND idx <= nw - {_CONF_TEST_WEEKS}
                  THEN abs(u - prev) END) AS den,
         count(CASE WHEN idx >= 2 AND idx <= nw - {_CONF_TEST_WEEKS}
                    THEN 1 END) AS n_train,
         sum(CASE WHEN idx > nw - {_CONF_TEST_WEEKS}
                  THEN abs(4 * u - sum4) END) AS num,
         count(CASE WHEN idx > nw - {_CONF_TEST_WEEKS} THEN 1 END) AS n_test
  FROM seq GROUP BY 1, 2
)
SELECT product_id, store_id,
       CAST(n_train AS BIGINT) AS n_train,
       CAST(n_test AS BIGINT) AS n_test,
       round_even(CAST(CAST(num AS HUGEINT) * n_train AS DOUBLE)
                  / CAST(4 * CAST(den AS HUGEINT) * n_test AS DOUBLE), 6)
         + 0.0 AS mase
FROM g
WHERE n_train >= 10 AND den > 0
ORDER BY product_id, store_id
"""


register("backtest_mase", q_backtest_mase, _mase_sql())


# -- simplified silhouette over labeled embeddings ---------------------------
def q_silhouette_lite_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based simplified silhouette per embedding label — the
    clustering-quality readout: a2 = squared distance to the own-label
    centroid, b2 = min squared distance to any other label's centroid,
    s = (b2 - a2) / max(a2, b2) (squared-distance variant, documented;
    monotone-equivalent diagnostic).

    Exactness recipe = kmeans_lite_clusters': elements snap to
    6dp-scaled BIGINTs, centroids are exact integer FLOOR-division
    means, distances are integer sums of squared diffs. Each
    per-vector s is snapped to a BIGINT (round_even(1e9 * diff/max) —
    diff and max are < 2^53 so the doubles are exact), making the
    per-label mean an associative integer sum. Scale shape: one
    (n x 64) long-format scan, broadcast join against the k x 64
    centroid table, two bounded group-bys.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    el = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d", "val"),
    ).select(
        "vec_id",
        "label",
        "d",
        F.round(F.bround(F.col("val").cast("double"), 6) * 1e6, 0)
        .cast("long")
        .alias("ei"),
    )
    cents = el.groupBy(F.col("label").alias("label_c"), "d").agg(
        (
            (F.sum("ei") - F.pmod(F.sum("ei"), F.count(F.lit(1))))
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("ce")
    )
    dist = (
        el.join(F.broadcast(cents), "d")
        .groupBy("vec_id", "label", "label_c")
        .agg(
            F.sum(
                (F.col("ei") - F.col("ce")) * (F.col("ei") - F.col("ce"))
            ).alias("dist")
        )
    )
    per_vec = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("label_c") == F.col("label"), F.col("dist"))).alias(
            "a2"
        ),
        F.min(F.when(F.col("label_c") != F.col("label"), F.col("dist"))).alias(
            "b2"
        ),
    )
    smax = F.greatest(F.col("a2"), F.col("b2"))
    s_scaled = F.when(smax == 0, F.lit(0)).otherwise(
        F.bround(
            (F.col("b2") - F.col("a2")).cast("double")
            / smax.cast("double")
            * 1e9,
            0,
        )
    ).cast("long")
    return (
        per_vec.select("label", s_scaled.alias("s"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.bround(F.sum("s").cast("double") / F.count(F.lit(1)) / 1e9, 6).alias(
                "mean_silhouette"
            ),
            F.sum((F.col("s") < 0).cast("long")).alias("n_negative"),
        )
        .orderBy("label")
    )


register(
    "silhouette_lite_labels",
    q_silhouette_lite_labels,
    """
WITH el AS (
  SELECT vec_id, label, d,
         CAST(round_even(CAST(embedding AS DOUBLE[])[d + 1], 6) * 1e6 AS BIGINT)
           AS ei
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d) dims
),
cents AS (
  SELECT label AS label_c, d,
         CAST((sum(ei) - ((sum(ei) % count(*)) + count(*)) % count(*))
              / count(*) AS BIGINT) AS ce
  FROM el GROUP BY 1, 2
),
dist AS (
  SELECT e.vec_id, e.label, c.label_c,
         sum((e.ei - c.ce) * (e.ei - c.ce)) AS dist
  FROM el e JOIN cents c ON e.d = c.d
  GROUP BY 1, 2, 3
),
per_vec AS (
  SELECT vec_id, label,
         min(CASE WHEN label_c = label THEN dist END) AS a2,
         min(CASE WHEN label_c != label THEN dist END) AS b2
  FROM dist GROUP BY 1, 2
),
s AS (
  SELECT label,
         CASE WHEN greatest(a2, b2) = 0 THEN 0
              ELSE CAST(round_even(CAST(b2 - a2 AS DOUBLE)
                                   / CAST(greatest(a2, b2) AS DOUBLE) * 1e9, 0)
                        AS BIGINT) END AS s
  FROM per_vec
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round_even(CAST(sum(s) AS DOUBLE) / count(*) / 1e9, 6) + 0.0
         AS mean_silhouette,
       CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM s GROUP BY label
ORDER BY label
""",
)


# -- hierarchical top-down forecast reconciliation ---------------------------
def q_forecast_reconciliation_topdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down hierarchical forecasting readout per brand: forecast
    the BRAND weekly series with the trailing MA(4), disaggregate to
    products by historical share (product train units / brand train
    units), and report the product-level MAE of the disaggregated
    forecast beside the brand-level MAE — the coherence-by-construction
    alternative to forecasting every leaf (sum of product forecasts ==
    the brand forecast exactly, asserted in tests).

    Exact arithmetic: the product-level residual
    |4*T_b*y_i - S4_b(w)*t_i| shares the constant per-brand
    denominator 4*T_b, so the MAE is ONE double division of
    DECIMAL(38,0) exact sums (T_b*y crosses int64 at scale). The
    disaggregation universe is train-active products (t_i > 0 by
    definition of the share). Shape: two weekly resamples (brand
    dense, product sparse), brand-keyed windows, a bounded
    test-grid fanout (4 weeks x brand's products), one aggregate.
    """
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample, weekly_resample_sum

    li = clean_sales(load_table(spark, sf_dir, "lineitem"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sales = li.join(F.broadcast(part), li.product_id == part.p_partkey).select(
        F.col("p_brand").alias("brand"),
        "product_id",
        "invoice_date",
        "units_sold",
    )
    # ONE fact pass (r13, guide §6 read-once): the brand dense series
    # is derived FROM the product-weekly frame instead of a second
    # clean+join+shuffle over the lineitem fact — the brand
    # weekly sum is the sum of its products' weekly sums (integral
    # units: every double sum is exact, so the regrouped total is
    # bit-equal), and week_ending_sunday is idempotent on the already
    # week-aligned column, so weekly_dense_resample over pw_raw emits
    # the identical dense grid.
    pw_raw = weekly_resample_sum(
        sales, ["brand", "product_id"], "invoice_date", "units_sold"
    )
    bw = weekly_dense_resample(pw_raw, ["brand"], "week", "units_sold")
    w_ord = Window.partitionBy("brand").orderBy("week")
    ub = F.bround(F.col("units_sold"), 0).cast("long")
    # bseq feeds four consumers (train totals, test grid, product-share
    # window, brand-level MAE): checkpointed so its window pass runs
    # once. pw_raw's three readers (brand series, train shares, test
    # grid) measured cheaper without a cut (artifacts/checkpoint_ab.md).
    bseq = bw.select(
        "brand",
        "week",
        ub.alias("ub"),
        F.sum(ub).over(w_ord.rowsBetween(-4, -1)).alias("s4"),
        F.row_number().over(w_ord).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("brand")).alias("nw"),
    ).localCheckpoint(eager=True)
    is_test = F.col("idx") > F.col("nw") - _CONF_TEST_WEEKS
    train = bseq.where(~is_test)
    test = bseq.where(is_test & (F.col("idx") >= 5))
    tb = (
        train.groupBy("brand")
        .agg(F.sum("ub").alias("t_brand"), F.count(F.lit(1)).alias("n_train"))
        .where((F.col("t_brand") > 0) & (F.col("n_train") >= 10))
    )
    pw = pw_raw.select(
        "brand",
        "product_id",
        "week",
        F.bround(F.col("units_sold"), 0).cast("long").alias("up"),
    )
    ti = (
        pw.join(train.select("brand", "week"), ["brand", "week"])
        .groupBy("brand", "product_id")
        .agg(F.sum("up").alias("t_prod"))
        .where(F.col("t_prod") > 0)
    )
    grid = (
        test.select("brand", "week", "s4")
        .join(ti, "brand")
        .join(pw, ["brand", "product_id", "week"], "left")
        .join(tb, "brand")
        .select(
            "brand",
            "t_brand",
            "s4",
            "t_prod",
            F.coalesce(F.col("up"), F.lit(0)).alias("y"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    r = F.abs(
        F.lit(4) * dec(F.col("t_brand")) * F.col("y")
        - dec(F.col("s4")) * F.col("t_prod")
    )
    g = grid.groupBy("brand", "t_brand").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum(r).alias("sum_r"),
    )
    mae_td = F.col("sum_r").cast("double") / (
        F.lit(4.0)
        * F.col("t_brand").cast("double")
        * F.col("n_terms").cast("double")
    )
    top = test.groupBy("brand").agg(
        F.sum(F.abs(F.lit(4) * F.col("ub") - F.col("s4"))).alias("sum_rb"),
        F.count(F.lit(1)).alias("n_test"),
    )
    n_prod = ti.groupBy("brand").agg(F.count(F.lit(1)).alias("n_products"))
    return (
        g.join(top, "brand")
        .join(F.broadcast(n_prod), "brand")
        .select(
            "brand",
            "n_products",
            F.col("t_brand").cast("long").alias("train_units"),
            F.bround(mae_td, 6).alias("mae_topdown"),
            F.bround(
                F.col("sum_rb").cast("double")
                / (F.lit(4.0) * F.col("n_test").cast("double")),
                6,
            ).alias("mae_brand_level"),
        )
        .orderBy("brand")
    )


def _reconciliation_sql() -> str:
    return f"""
WITH sales AS (
  SELECT p.p_brand AS brand, l.l_partkey AS product_id,
         l.l_shipdate AS invoice_date,
         coalesce(TRY_CAST(l.l_quantity AS DOUBLE), 0.0) AS units_sold
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE coalesce(TRY_CAST(l.l_quantity AS DOUBLE), 0.0) >= 0
),
bweekly AS (
  SELECT brand,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         CAST(round_even(sum(units_sold), 0) AS BIGINT) AS ub
  FROM sales GROUP BY 1, 2
),
bounds AS (SELECT brand, min(week) AS mn, max(week) AS mx FROM bweekly GROUP BY 1),
bspine AS (
  SELECT brand,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
bdense AS (
  SELECT s.brand, s.week, coalesce(w.ub, 0) AS ub
  FROM bspine s LEFT JOIN bweekly w USING (brand, week)
),
bseq AS (
  SELECT brand, week, ub,
         sum(ub) OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS s4,
         row_number() OVER w AS idx,
         count(*) OVER (PARTITION BY brand) AS nw
  FROM bdense
  WINDOW w AS (PARTITION BY brand ORDER BY week)
),
tb AS (
  SELECT brand, CAST(sum(ub) AS BIGINT) AS t_brand, count(*) AS n_train
  FROM bseq WHERE idx <= nw - {_CONF_TEST_WEEKS}
  GROUP BY brand HAVING sum(ub) > 0 AND count(*) >= 10
),
pw AS (
  SELECT brand, product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         CAST(round_even(sum(units_sold), 0) AS BIGINT) AS up
  FROM sales GROUP BY 1, 2, 3
),
ti AS (
  SELECT p.brand, p.product_id, CAST(sum(p.up) AS BIGINT) AS t_prod
  FROM pw p
  JOIN bseq b ON p.brand = b.brand AND p.week = b.week
             AND b.idx <= b.nw - {_CONF_TEST_WEEKS}
  GROUP BY 1, 2 HAVING sum(p.up) > 0
),
test AS (
  SELECT brand, week, ub, s4 FROM bseq
  WHERE idx > nw - {_CONF_TEST_WEEKS} AND idx >= 5
),
grid AS (
  SELECT t.brand, tb.t_brand, t.s4, i.t_prod, coalesce(p.up, 0) AS y
  FROM test t
  JOIN ti i ON i.brand = t.brand
  JOIN tb ON tb.brand = t.brand
  LEFT JOIN pw p ON p.brand = t.brand AND p.product_id = i.product_id
               AND p.week = t.week
),
g AS (
  SELECT brand, t_brand, count(*) AS n_terms,
         sum(abs(4 * CAST(t_brand AS HUGEINT) * y
                 - CAST(s4 AS HUGEINT) * t_prod)) AS sum_r
  FROM grid GROUP BY 1, 2
),
top AS (
  SELECT brand, sum(abs(4 * ub - s4)) AS sum_rb, count(*) AS n_test
  FROM test GROUP BY brand
),
n_prod AS (SELECT brand, count(*) AS n_products FROM ti GROUP BY brand)
SELECT g.brand,
       CAST(n_prod.n_products AS BIGINT) AS n_products,
       CAST(g.t_brand AS BIGINT) AS train_units,
       round_even(CAST(g.sum_r AS DOUBLE)
                  / (4.0 * CAST(g.t_brand AS DOUBLE)
                     * CAST(g.n_terms AS DOUBLE)), 6) + 0.0 AS mae_topdown,
       round_even(CAST(top.sum_rb AS DOUBLE)
                  / (4.0 * CAST(top.n_test AS DOUBLE)), 6) + 0.0
         AS mae_brand_level
FROM g JOIN top ON g.brand = top.brand
JOIN n_prod ON n_prod.brand = g.brand
ORDER BY g.brand
"""


register(
    "forecast_reconciliation_topdown",
    q_forecast_reconciliation_topdown,
    _reconciliation_sql(),
)


# -- Gini concentration via distributed rank --------------------------------
def q_gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer revenue (customers with
    >=1 order): G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) with
    x ascending, i the 1-based within-nation rank.

    Ranks come from ONE global distributed rank over
    (nationkey, revenue, custkey) — range-partitioned scan, offsets
    from metadata-scale prefix sums (operators/distributed_rank) —
    then shift to within-nation via a 25-row broadcast offset table;
    no per-nation sort ever lands on a single task. Any tiebreak gives
    the same sum(i*x) because tied x contribute x * (sum of their rank
    block) regardless of internal order. sum(i*x) in DECIMAL(38,0)
    (rank x cents crosses int64 at scale).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.bround(F.col("o_totalprice") * 1e2, 0).cast("long")
    rev = (
        o.join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"), "c_custkey")
        .agg(F.sum(cents).alias("rev"))
    )
    # with_global_rank checkpoints the range-partitioned frame: the
    # offsets aggregate, the nation-count aggregate and the final join
    # all read the cut instead of each replanning the orders scan +
    # revenue aggregate (4 scans measured without it).
    ranked = with_global_rank(
        rev,
        [F.col("nationkey").asc(), F.col("rev").asc(), F.col("c_custkey").asc()],
        rank_col="grank",
    )
    nation_counts = ranked.groupBy("nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = exclusive_prefix_offsets(nation_counts, "nationkey", "cnt", "off")
    g = (
        ranked.join(F.broadcast(offsets), "nationkey")
        .select(
            "nationkey",
            "rev",
            (F.col("grank") - F.col("off")).alias("i"),
        )
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").cast("decimal(38,0)").alias("sx"),
            F.sum((F.col("i") * F.col("rev")).cast("decimal(38,0)")).alias("six"),
        )
    )
    n_d = F.col("n_customers").cast("double")
    sx_d, six_d = F.col("sx").cast("double"), F.col("six").cast("double")
    gini = (F.lit(2.0) * six_d - (n_d + F.lit(1.0)) * sx_d) / (n_d * sx_d)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        g.join(F.broadcast(nation), g.nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_customers",
            F.round(F.col("sx").cast("double") / 1e2, 2).alias("total_revenue"),
            F.bround(gini, 6).alias("gini"),
        )
        .orderBy("nation")
    )


register(
    "gini_revenue_by_nation",
    q_gini_revenue_by_nation,
    """
WITH rev AS (
  SELECT c.c_nationkey AS nationkey, o.o_custkey,
         CAST(sum(CAST(round_even(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nationkey, rev,
         row_number() OVER (PARTITION BY nationkey
                            ORDER BY rev ASC, o_custkey ASC) AS i
  FROM rev
),
g AS (
  SELECT nationkey, CAST(count(*) AS BIGINT) AS n_customers,
         sum(CAST(rev AS HUGEINT)) AS sx,
         sum(CAST(i AS HUGEINT) * rev) AS six
  FROM ranked GROUP BY nationkey
)
SELECT n.n_name AS nation, g.n_customers,
       round(CAST(sx AS DOUBLE) / 1e2, 2) AS total_revenue,
       round_even((2.0 * CAST(six AS DOUBLE)
                   - (CAST(n_customers AS DOUBLE) + 1.0) * CAST(sx AS DOUBLE))
                  / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         + 0.0 AS gini
FROM g JOIN nation n ON g.nationkey = n.n_nationkey
ORDER BY nation
""",
)


# -- two-factor OLS: trend + holiday dummy ------------------------------------
def q_ols_two_factor_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple regression per brand: weekly demand ~ intercept +
    week-index trend + holiday dummy (Nov-Dec), solved in closed form
    from the 3x3 normal equations via Cramer's rule — the next step up
    from the single-regressor ols_demand_trend, giving a
    seasonally-adjusted trend and a holiday effect in the same fit.

    Exactness: y (integral weekly units), x1 (week index) and x2 (0/1
    dummy) make every moment an exact integer (DECIMAL(38,0) where
    y-squared terms cross int64); the determinant/solution/R^2
    expression tree on doubles cast from those integers is mirrored
    token-for-token in the oracle. One dense weekly resample, one
    group-by; gated on >=20 weeks and a non-degenerate dummy column.
    """
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_dense_resample

    li = clean_sales(load_table(spark, sf_dir, "lineitem"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sales = li.join(F.broadcast(part), li.product_id == part.p_partkey).select(
        F.col("p_brand").alias("brand"), "invoice_date", "units_sold"
    )
    bw = weekly_dense_resample(sales, ["brand"], "invoice_date", "units_sold")
    w_ord = Window.partitionBy("brand").orderBy("week")
    y = F.bround(F.col("units_sold"), 0).cast("long")
    rows = bw.select(
        "brand",
        y.alias("y"),
        F.row_number().over(w_ord).alias("x1"),
        F.month("week").isin(11, 12).cast("long").alias("x2"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = rows.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x1") * F.col("y"))).alias("s1y"),
        F.sum(dec(F.col("x2") * F.col("y"))).alias("s2y"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
    ).where((F.col("n") >= 20) & (F.col("s2") > 0) & (F.col("s2") < F.col("n")))
    n = F.col("n").cast("double")
    s1, s2 = F.col("s1").cast("double"), F.col("s2").cast("double")
    s11, s12 = F.col("s11").cast("double"), F.col("s12").cast("double")
    s22 = s2  # x2 is 0/1 so sum(x2^2) == sum(x2)
    sy, s1y = F.col("sy").cast("double"), F.col("s1y").cast("double")
    s2y, syy = F.col("s2y").cast("double"), F.col("syy").cast("double")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    ) / det
    sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    sst = syy - sy * sy / n
    r2 = F.lit(1.0) - sse / sst
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n_weeks"),
        F.bround(b1, 6).alias("beta_trend"),
        F.bround(b2, 6).alias("beta_holiday"),
        F.bround(r2, 6).alias("r_squared"),
    ).orderBy("brand")


def _ols2_sql() -> str:
    return f"""
WITH sales AS (
  SELECT p.p_brand AS brand, l.l_shipdate AS invoice_date,
         coalesce(TRY_CAST(l.l_quantity AS DOUBLE), 0.0) AS units_sold
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE coalesce(TRY_CAST(l.l_quantity AS DOUBLE), 0.0) >= 0
),
bweekly AS (
  SELECT brand,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         CAST(round_even(sum(units_sold), 0) AS BIGINT) AS y
  FROM sales GROUP BY 1, 2
),
bounds AS (SELECT brand, min(week) AS mn, max(week) AS mx FROM bweekly GROUP BY 1),
bspine AS (
  SELECT brand,
         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS week
  FROM bounds
),
bdense AS (
  SELECT s.brand, s.week, coalesce(w.y, 0) AS y,
         row_number() OVER (PARTITION BY s.brand ORDER BY s.week) AS x1,
         CASE WHEN month(s.week) IN (11, 12) THEN 1 ELSE 0 END AS x2
  FROM bspine s LEFT JOIN bweekly w ON s.brand = w.brand AND s.week = w.week
),
m AS (
  SELECT brand,
         count(*) AS n,
         CAST(sum(x1) AS BIGINT) AS s1,
         CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x1 AS HUGEINT) * y) AS s1y,
         sum(CAST(x2 AS HUGEINT) * y) AS s2y,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM bdense GROUP BY brand
  HAVING count(*) >= 20 AND sum(x2) > 0 AND sum(x2) < count(*)
),
d AS (
  SELECT brand, n,
         CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
         CAST(s2 AS DOUBLE) AS s2d, CAST(s11 AS DOUBLE) AS s11d,
         CAST(s12 AS DOUBLE) AS s12d, CAST(sy AS DOUBLE) AS syd,
         CAST(s1y AS DOUBLE) AS s1yd, CAST(s2y AS DOUBLE) AS s2yd,
         CAST(syy AS DOUBLE) AS syyd
  FROM m
),
f AS (
  SELECT brand, n, syd, s1yd, s2yd, syyd, nd,
         (nd * (s11d * s2d - s12d * s12d)
          - s1d * (s1d * s2d - s12d * s2d)
          + s2d * (s1d * s12d - s11d * s2d)) AS det,
         (syd * (s11d * s2d - s12d * s12d)
          - s1d * (s1yd * s2d - s12d * s2yd)
          + s2d * (s1yd * s12d - s11d * s2yd)) AS num0,
         (nd * (s1yd * s2d - s12d * s2yd)
          - syd * (s1d * s2d - s12d * s2d)
          + s2d * (s1d * s2yd - s1yd * s2d)) AS num1,
         (nd * (s11d * s2yd - s1yd * s12d)
          - s1d * (s1d * s2yd - s1yd * s2d)
          + syd * (s1d * s12d - s11d * s2d)) AS num2
  FROM d
)
SELECT brand,
       CAST(n AS BIGINT) AS n_weeks,
       round_even(num1 / det, 6) + 0.0 AS beta_trend,
       round_even(num2 / det, 6) + 0.0 AS beta_holiday,
       round_even(1.0 - (syyd - (num0 / det) * syd - (num1 / det) * s1yd
                         - (num2 / det) * s2yd)
                  / (syyd - syd * syd / nd), 6) + 0.0 AS r_squared
FROM f
ORDER BY brand
"""


register("ols_two_factor_demand", q_ols_two_factor_demand, _ols2_sql())
