"""Round-7 mining additions [SURVEY §2.11 N2-N4 extensions + §2.4 J]:

- ``exact_substring_overlap`` — cross-document exact substring spans
  (the Lee et al. "Deduplicating Training Data" exact-substring pass):
  word-8-gram rolling hashes with POSITIONS, df-capped, pair-joined,
  and contiguous shared runs recovered with gaps-and-islands — the
  complement of MinHash near-dup (which sees bag overlap, not spans).
- ``lsh_band_recall_audit`` — empirical vs analytic S-curve of the
  MinHash-LSH banding config: per exact-Jaccard bin, what fraction of
  true near-dup pairs did the band join actually surface, against the
  textbook 1-(1-s^r)^b detection probability.
- ``histogram_quantile_sketch`` — mergeable fixed-bin histogram
  quantile estimation (the 100 TB shape: bin counts are a monoid; the
  64-row cumulative step is metadata-sized).
- ``min_cost_supplier_per_part`` — the TPC-H Q2 correlated-min shape
  re-expressed as a per-part window rank over exact integer sums with
  broadcast dimension enrichment.
- ``pr_curve_quality`` — precision/recall/F1 threshold sweep of the
  English-marker score against the lang label: per-bin histogram then
  suffix sums over the bounded 41-bin grid (never a per-doc window).

Scale posture: every pair generator here is hash-bucketed and
df-capped (never all-pairs); every cumulative step runs on a
bounded bin grid (41 or 64 rows), not on data-sized frames; the one
per-pair window (islands) is bounded by document length.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import doc_shingles, jaccard_pairs, minhash_index
from ..operators.textops import tokens
from ..registry import register
from ..sources.readers import load_table
from .queries_corpus import _gram_mix, _gram_mix_sql, _token_hashes, _TOKS_SQL
from .queries_llm import MAX_DF, _HS, _SHINGLE_INDEX_SQL, _minhash_aggs_sql

# -- exact substring spans (cross-doc) --------------------------------------
_SUB_N = 8          # gram width in tokens
_SUB_MAX_DF = 50    # grams in more docs than this are boilerplate
_SUB_MIN_RUN = 2    # report pairs sharing a run of >= 2 grams (9 tokens)


def substring_overlap_pairs(
    docs: DataFrame,
    n: int = _SUB_N,
    max_df: int = _SUB_MAX_DF,
    min_run: int = _SUB_MIN_RUN,
) -> DataFrame:
    """Cross-document exact substring detection via positional word-
    n-gram rolling hashes (Horner mix of 32-bit md5 token hashes —
    the queries_corpus gram machinery, here WITH positions kept).

    Pipeline: grams (doc, pos, gh) -> df-cap (2 <= df <= max_df:
    unique grams can't pair, ultra-hot grams are boilerplate costing
    df^2 in the join) -> pair join on gh -> distinct (id_a, id_b,
    pos_a) -> gaps-and-islands on pos_a per pair -> per-pair
    shared-gram count and longest contiguous run, in TOKENS
    (run + n - 1).

    The islands window partitions by (id_a, id_b) — bounded by doc
    length, never corpus-sized. At 100 TB this is the standard
    suffix-free approximation of the Lee et al. suffix-array pass:
    one generate + one hash-keyed shuffle + one banded self-join."""
    hashed = docs.select("doc_id", _token_hashes(tokens("text")).alias("hs"))
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - (n - 1))
    grams_arr = F.when(
        F.size(hcol) >= n,
        F.transform(idx, lambda i: _gram_mix(hcol, i, n)),
    ).otherwise(F.array().cast("array<bigint>"))
    grams = hashed.select(
        "doc_id", F.posexplode(grams_arr).alias("pos", "gh")
    )
    df_ok = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("gh")
    )
    g = grams.join(df_ok, "gh")
    a, b = g.alias("a"), g.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pos").alias("pos_a"),
        )
        .distinct()
    )
    w = Window.partitionBy("id_a", "id_b").orderBy("pos_a")
    islands = shared.withColumn(
        "island", F.col("pos_a") - F.row_number().over(w)
    )
    runs = islands.groupBy("id_a", "id_b", "island").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.sum("run_len").cast("long").alias("shared_grams"),
            (F.max("run_len") + F.lit(n - 1)).cast("long").alias(
                "longest_run_tokens"
            ),
        )
        .filter(F.col("longest_run_tokens") >= min_run + n - 1)
    )


def q_exact_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See ``substring_overlap_pairs``. The docs scan is repartitioned
    by doc_id ahead of the generate stage so gram generation
    parallelizes even when the source is one small file (the
    duplicate_ngram_fraction precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return substring_overlap_pairs(docs.repartition(par, "doc_id"))


_SUB_HS_SQL = (
    "list_transform(" + _TOKS_SQL + ", x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT))"
)

register(
    "exact_substring_overlap",
    q_exact_substring_overlap,
    f"""
WITH h AS (SELECT doc_id, {_SUB_HS_SQL} AS hs FROM documents),
g AS (
  SELECT doc_id,
         unnest(range(1, len(hs) - {_SUB_N - 2})) AS pos,
         unnest(list_transform(range(1, len(hs) - {_SUB_N - 2}),
                               i -> {_gram_mix_sql('hs', 'i', _SUB_N)})) AS gh
  FROM h WHERE len(hs) >= {_SUB_N}
),
df_ok AS (
  SELECT gh FROM g GROUP BY gh
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {_SUB_MAX_DF}
),
gq AS (SELECT g.* FROM g JOIN df_ok USING (gh)),
shared AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a
  FROM gq a JOIN gq b ON a.gh = b.gh AND a.doc_id < b.doc_id
),
isl AS (
  SELECT id_a, id_b,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b ORDER BY pos_a)
           AS island
  FROM shared
),
runs AS (
  SELECT id_a, id_b, island, count(*) AS run_len
  FROM isl GROUP BY 1, 2, 3
)
SELECT id_a, id_b,
       CAST(sum(run_len) AS BIGINT) AS shared_grams,
       CAST(max(run_len) + {_SUB_N - 1} AS BIGINT) AS longest_run_tokens
FROM runs GROUP BY 1, 2
HAVING max(run_len) + {_SUB_N - 1} >= {_SUB_MIN_RUN + _SUB_N - 1}
""",
)


# -- LSH banding S-curve audit ----------------------------------------------
_AUDIT_K, _AUDIT_BANDS = 16, 4  # rows per band r = 4


def q_lsh_band_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical detection rate of the (k=16, b=4, r=4) MinHash-LSH
    banding vs the analytic S-curve 1-(1-s^r)^b, per exact-Jaccard
    bin of width 0.1 over all true pairs with jaccard >= 0.1.

    Truth = the exact shingle-index Jaccard pairs (df-capped, never
    all-pairs); detection = a band-key collision in the same
    signature index the production dedup uses. The analytic power is
    expanded as explicit multiplication (s*s*s*s), never pow() —
    libm pow is not bit-portable across engines, multiplication is.
    Output is one bounded row per bin: the audit a pipeline operator
    reads before picking a banding config for a new corpus."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize+shingle+hash corpus pass (r13, guide §6 read-once):
    # the truth (exact Jaccard) and the signature index both derive
    # from the same CAPPED shingle index, whose uncapped input
    # doc_shingles checkpoints — previously jaccard_pairs and
    # minhash_index each re-ran the full pass.
    idx = doc_shingles(docs, hashed=True, max_df=MAX_DF)
    truth = jaccard_pairs(docs, threshold=0.1, idx=idx)
    sig = minhash_index(docs, k=_AUDIT_K, idx=idx)
    rows = _AUDIT_K // _AUDIT_BANDS
    band_cols = [
        F.concat_ws(
            "|", F.lit(str(bn)), *[F.col(f"h{bn * rows + r}") for r in range(rows)]
        ).alias(f"band{bn}")
        for bn in range(_AUDIT_BANDS)
    ]
    melted = (
        sig.select("doc_id", *band_cols)
        .select(
            "doc_id",
            F.explode(F.array(*[f"band{bn}" for bn in range(_AUDIT_BANDS)])).alias(
                "band_key"
            ),
        )
    )
    ma, mb = melted.alias("a"), melted.alias("b")
    cands = (
        ma.join(
            mb,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        .withColumn("det", F.lit(1))
    )
    binned = truth.join(cands, ["id_a", "id_b"], "left").select(
        F.least(F.lit(9), F.floor(F.col("jaccard") * 10)).cast("long").alias(
            "j_bin"
        ),
        F.coalesce("det", F.lit(0)).alias("det"),
    )
    s = (F.col("j_bin") + 0.5) / 10.0
    j4 = s * s * s * s
    miss = F.lit(1.0) - j4
    analytic = F.lit(1.0) - miss * miss * miss * miss
    return (
        binned.groupBy("j_bin")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("det").cast("long").alias("n_detected"),
        )
        .withColumn(
            "empirical_rate",
            F.round(F.col("n_detected") / F.col("n_pairs"), 4),
        )
        .withColumn("analytic_p", F.round(analytic, 6))
    )


register(
    "lsh_band_recall_audit",
    q_lsh_band_recall_audit,
    f"""
WITH {_SHINGLE_INDEX_SQL.strip()},
truth AS (
  SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM jac
  WHERE jaccard >= 0.1
),
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
sig AS (
  SELECT doc_id,
  {_minhash_aggs_sql(_AUDIT_K)}
  FROM ds_h GROUP BY doc_id
),
melted AS (
  SELECT doc_id,
         unnest([{", ".join(
             "concat_ws('|', '%d', %s)" % (
                 bn, ", ".join(f"h{bn * 4 + r}" for r in range(4)))
             for bn in range(_AUDIT_BANDS))}]) AS band_key
  FROM sig
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM melted a JOIN melted b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
binned AS (
  SELECT CAST(least(9, floor(t.jaccard * 10)) AS BIGINT) AS j_bin,
         CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS det
  FROM truth t LEFT JOIN cands c ON t.id_a = c.id_a AND t.id_b = c.id_b
),
agg AS (
  SELECT j_bin, count(*) AS n_pairs, CAST(sum(det) AS BIGINT) AS n_detected
  FROM binned GROUP BY 1
)
SELECT j_bin, n_pairs, n_detected,
  round(n_detected / CAST(n_pairs AS DOUBLE), 4) AS empirical_rate,
  round(1.0 - (1.0 - ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0)
                    * ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0))
            * (1.0 - ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0)
                    * ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0))
            * (1.0 - ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0)
                    * ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0))
            * (1.0 - ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0)
                    * ((j_bin + 0.5) / 10.0) * ((j_bin + 0.5) / 10.0)), 6)
    AS analytic_p
FROM agg
""",
)


# -- mergeable histogram quantile sketch ------------------------------------
_HQ_BINS = 64
_HQ_QS = (0.5, 0.9, 0.99)


def q_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile estimation over lineitem extended
    price: 64 equi-width bins between global min/max, cumulative
    counts, then linear interpolation inside the target bin for
    P50/P90/P99.

    This is the mergeable-sketch shape for 100 TB percentiles: bin
    counts are a commutative monoid (partition histograms union by
    addition — unlike exact percentile, which must see all values),
    and everything after the one aggregation runs on a 64-row frame.
    The min/max pass rides the same scan as a broadcast 1-row
    normalizer — no driver-side action. The cumulative window is
    constant-key over the bounded bin table (never data-sized)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    mm = li.agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / float(_HQ_BINS)
    binned = li.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(_HQ_BINS - 1),
            F.floor((F.col("v") - F.col("mn")) / width),
        ).cast("long").alias("bin_id"),
        "mn", "mx", "n",
    )
    hist = binned.groupBy("bin_id", "mn", "mx", "n").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # constant-but-unfoldable key (a bare lit is constant-folded out of
    # the spec, silently recreating the unpartitioned window — see
    # operators/distributed_rank.bounded_rank); the frame is bounded at
    # _HQ_BINS rows by construction.
    w = (
        Window.partitionBy(F.pmod(F.hash(F.col("bin_id")), F.lit(1)))
        .orderBy("bin_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _HQ_QS])).alias("q")
    )
    target = F.col("q") * F.col("n")
    est = F.col("mn") + width * (
        F.col("bin_id")
        + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
    )
    return (
        cum.crossJoin(F.broadcast(qs))
        .filter((F.col("cum") >= target) & (F.col("cum") - F.col("cnt") < target))
        .select(
            "q",
            "bin_id",
            F.round(est, 4).alias("est_value"),
            F.col("n").alias("n_rows"),
        )
    )


register(
    "histogram_quantile_sketch",
    q_histogram_quantile_sketch,
    f"""
WITH v AS (SELECT l_extendedprice AS v FROM lineitem),
mm AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM v),
binned AS (
  SELECT CAST(least({_HQ_BINS - 1},
                    floor((v - mn) / ((mx - mn) / {float(_HQ_BINS)}))) AS BIGINT)
           AS bin_id, mn, mx, n
  FROM v CROSS JOIN mm
),
hist AS (
  SELECT bin_id, mn, mx, n, count(*) AS cnt FROM binned GROUP BY 1, 2, 3, 4
),
cum_t AS (
  SELECT *, sum(cnt) OVER (ORDER BY bin_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS cum
  FROM hist
),
qs AS (SELECT unnest([{", ".join(f"CAST({q} AS DOUBLE)" for q in _HQ_QS)}]) AS q)
SELECT q, bin_id,
       round(mn + ((mx - mn) / {float(_HQ_BINS)})
                  * (bin_id + (q * n - (cum - cnt)) / cnt), 4) AS est_value,
       CAST(n AS BIGINT) AS n_rows
FROM cum_t CROSS JOIN qs
WHERE cum >= q * n AND cum - cnt < q * n
""",
)


# -- TPC-H Q2-shaped correlated min -----------------------------------------
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every part, the supplier offering the lowest realized unit
    price (TPC-H Q2's correlated MIN re-expressed Spark-first): exact
    integer sums per (part, supplier) — cents and quantity as BIGINT
    — one double division for the unit cost, a per-part window rank
    (bounded by suppliers-per-part, never global), and broadcast
    supplier->nation enrichment of the winner.

    At 100 TB the (part, supplier) aggregate is the only data-sized
    shuffle; the rank runs per part key and the dimension joins are
    broadcasts — the plan a Q2 should have."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    per = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.bround(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long").alias("cents"),
            F.sum(F.bround(F.col("l_quantity"), 0).cast("long"))
            .cast("long").alias("qty"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # 4dp unit cost by EXACT integer half-even rounding: double bround
    # and DuckDB round_even disagree on representation-boundary cases
    # (BigDecimal shortest-repr vs scaled-rint), so the rounding runs
    # on integers — quotient/remainder of (cents*100) / qty — and the
    # only double division is the final /1e4 presentation step.
    num = F.col("cents") * F.lit(100).cast("long")
    q0 = F.expr("(cents * 100) div qty")
    rem = num % F.col("qty")
    scaled = q0 + (
        F.when(rem * 2 > F.col("qty"), F.lit(1))
        .when(rem * 2 < F.col("qty"), F.lit(0))
        .otherwise((q0 % 2 != 0).cast("int"))
    ).cast("long")
    unit = per.withColumn("unit_cost", scaled / F.lit(10000.0))
    w = Window.partitionBy("l_partkey").orderBy("unit_cost", "l_suppkey")
    ranked = unit.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_suppliers",
        F.count(F.lit(1)).over(Window.partitionBy("l_partkey")),
    )
    best = ranked.filter(F.col("rn") == 1)
    enriched = (
        best.join(
            F.broadcast(sup.select("s_suppkey", "s_name", "s_nationkey")),
            best["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return enriched.select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_suppkey").alias("best_suppkey"),
        F.col("s_name").alias("supplier_name"),
        F.col("n_name").alias("supplier_nation"),
        F.col("unit_cost"),
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.col("n_lines").cast("long").alias("n_lines"),
    )


register(
    "min_cost_supplier_per_part",
    q_min_cost_supplier,
    """
WITH per AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(round_even(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents,
         CAST(sum(CAST(round_even(l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty,
         count(*) AS n_lines
  FROM lineitem GROUP BY 1, 2
),
unit AS (
  SELECT *,
         (cents * 100 // qty
          + CASE WHEN (cents * 100 % qty) * 2 > qty THEN 1
                 WHEN (cents * 100 % qty) * 2 < qty THEN 0
                 ELSE CASE WHEN (cents * 100 // qty) % 2 <> 0 THEN 1 ELSE 0 END
            END) / 10000.0 AS unit_cost
  FROM per
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_cost, l_suppkey) AS rn,
         count(*) OVER (PARTITION BY l_partkey) AS n_suppliers
  FROM unit
)
SELECT r.l_partkey AS partkey,
       r.l_suppkey AS best_suppkey,
       s.s_name AS supplier_name,
       n.n_name AS supplier_nation,
       r.unit_cost,
       CAST(r.n_suppliers AS BIGINT) AS n_suppliers,
       CAST(r.n_lines AS BIGINT) AS n_lines
FROM ranked r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE r.rn = 1
""",
)


# -- precision/recall threshold sweep ---------------------------------------
_PR_BINS = 40
_PR_MARKERS = ("the", "and", "of", "is")


def q_pr_curve_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier threshold sweep — the step after training a quality
    or language filter: score every doc (English-marker token ratio),
    label it (lang == 'en'), and emit tp/fp/fn/precision/recall/F1 at
    every threshold on a 41-bin score grid.

    The sweep is two bounded stages: a per-(bin, label) histogram
    (one corpus aggregation), then SUFFIX sums over the 41-bin spine
    — predicted-positive at threshold b is exactly "score bin >= b",
    so cumulating the tiny histogram replaces 41 corpus passes. All
    counts are exact integers; the three ratios are the only double
    divisions and their expression trees are mirrored verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    markers = F.array(*[F.lit(m) for m in _PR_MARKERS])
    # marker RATIO counts occurrences, not distinct markers:
    n_mark = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    score = F.when(F.size(toks) > 0, n_mark / F.size(toks)).otherwise(0.0)
    scored = docs.select(
        F.least(
            F.lit(_PR_BINS), F.floor(score * _PR_BINS)
        ).cast("long").alias("bin"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    hist = scored.groupBy("bin").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("n_neg"),
    )
    spine = spark.range(0, _PR_BINS + 1).select(F.col("id").alias("bin"))
    dense = spine.join(hist, "bin", "left").select(
        "bin",
        F.coalesce("n_pos", F.lit(0)).alias("n_pos"),
        F.coalesce("n_neg", F.lit(0)).alias("n_neg"),
    )
    # constant-but-unfoldable key on the 41-row spine (bare lits fold
    # out of the partition spec — bounded_rank's pmod(hash, 1) trick).
    key = F.pmod(F.hash(F.col("bin")), F.lit(1))
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy(key)
    cum = dense.select(
        "bin",
        F.sum("n_pos").over(w).cast("long").alias("tp"),
        F.sum("n_neg").over(w).cast("long").alias("fp"),
        F.sum("n_pos").over(wt).cast("long").alias("total_pos"),
    )
    p = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp") / (F.col("tp") + F.col("fp")),
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("total_pos") > 0, F.col("tp") / F.col("total_pos")
    ).otherwise(F.lit(0.0))
    f1 = F.when(p + r > 0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    return cum.select(
        (F.col("bin") / float(_PR_BINS)).alias("thr"),
        "tp",
        "fp",
        (F.col("total_pos") - F.col("tp")).cast("long").alias("fn"),
        F.round(p, 4).alias("precision"),
        F.round(r, 4).alias("recall"),
        F.round(f1, 4).alias("f1"),
    )


_PR_MARK_IN = ", ".join(f"'{m}'" for m in _PR_MARKERS)

register(
    "pr_curve_quality",
    q_pr_curve_quality,
    f"""
WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
scored AS (
  SELECT CAST(least({_PR_BINS},
                    floor(CASE WHEN len(toks) > 0
                          THEN len(list_filter(toks, x -> x IN ({_PR_MARK_IN})))
                               / CAST(len(toks) AS DOUBLE)
                          ELSE 0.0 END * {_PR_BINS})) AS BIGINT) AS bin,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM t
),
hist AS (
  SELECT bin, CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg
  FROM scored GROUP BY 1
),
spine AS (SELECT unnest(range(0, {_PR_BINS + 1})) AS bin),
dense AS (
  SELECT s.bin, coalesce(h.n_pos, 0) AS n_pos, coalesce(h.n_neg, 0) AS n_neg
  FROM spine s LEFT JOIN hist h USING (bin)
),
cum_t AS (
  SELECT bin,
    CAST(sum(n_pos) OVER (ORDER BY bin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
    CAST(sum(n_neg) OVER (ORDER BY bin DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
    CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos
  FROM dense
)
SELECT bin / {float(_PR_BINS)} AS thr, tp, fp,
       CAST(total_pos - tp AS BIGINT) AS fn,
       round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE)
                  ELSE 0.0 END, 4) AS precision,
       round(CASE WHEN total_pos > 0 THEN tp / CAST(total_pos AS DOUBLE)
                  ELSE 0.0 END, 4) AS recall,
       round(CASE WHEN (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE)
                        ELSE 0.0 END)
                + (CASE WHEN total_pos > 0 THEN tp / CAST(total_pos AS DOUBLE)
                        ELSE 0.0 END) > 0
             THEN 2.0 * (CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE)
                         ELSE 0.0 END)
                      * (CASE WHEN total_pos > 0
                              THEN tp / CAST(total_pos AS DOUBLE)
                              ELSE 0.0 END)
                  / ((CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE)
                           ELSE 0.0 END)
                   + (CASE WHEN total_pos > 0
                           THEN tp / CAST(total_pos AS DOUBLE)
                           ELSE 0.0 END))
             ELSE 0.0 END, 4) AS f1
FROM cum_t
""",
)


# -- TPC-H Q13: customer order-count distribution ---------------------------
def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: every customer (including the order-less ones)
    gets an order count via LEFT join, then the distribution of those
    counts. Spark-first: orders PRE-AGGREGATE to one row per custkey
    before the join (map-side combine shrinks the shuffle to customer
    grain), the left join fills absent customers with 0, and the
    second aggregation runs on the tiny (c_count) domain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    counts = cust.join(per_cust, "c_custkey", "left").select(
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("c_count")
    )
    return counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


register(
    "custdist_order_counts",
    q_custdist,
    """
WITH per_cust AS (
  SELECT o_custkey AS c_custkey, count(*) AS n_orders FROM orders GROUP BY 1
),
counts AS (
  SELECT CAST(coalesce(p.n_orders, 0) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN per_cust p USING (c_custkey)
)
SELECT c_count, count(*) AS custdist FROM counts GROUP BY 1
""",
)


# -- Cohen's kappa for the language-ID heuristic ----------------------------
def q_cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between the marker-argmax language
    prediction and the labeled language: kappa = (po - pe) / (1 - pe),
    computed ENTIRELY on exact integers — po and pe share the n^2
    denominator, so kappa = (n*agree - SUM_c n_label(c)*n_pred(c)) /
    (n^2 - SUM_c ...) is one integer ratio with a single double
    division; po and pe are emitted alongside, each its own single
    division. Extends langid_confusion (the matrix) with the one-number
    QA readout a labeling pipeline alerts on."""
    from .queries_llm import q_lang_id

    p = q_lang_id(spark, sf_dir).select("labeled_lang", "pred_lang", "agree")
    # ONE corpus pass (r13, guide §2.3 "aggregate before you shuffle"):
    # the label margin, prediction margin and agreement total are all
    # exact-integer functions of the tiny confusion matrix, so the
    # tokenize+predict subtree collapses to a single
    # groupBy(labeled, pred) — previously lab, prd and tot each
    # re-evaluated it (3 corpus passes). The matrix is |langs|^2 rows.
    cm = p.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("agree").cast("long")).alias("agree_cnt"),
    )
    lab = cm.groupBy(F.col("labeled_lang").alias("cls")).agg(
        F.sum("cnt").alias("n_lab")
    )
    prd = cm.groupBy(F.col("pred_lang").alias("cls")).agg(
        F.sum("cnt").alias("n_prd")
    )
    pe_num = lab.join(prd, "cls").agg(
        F.sum(F.col("n_lab") * F.col("n_prd")).cast("long").alias("pe_num")
    )
    tot = cm.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n"),
        F.sum("agree_cnt").cast("long").alias("n_agree"),
    )
    joined = tot.crossJoin(F.broadcast(pe_num))
    n = F.col("n")
    return joined.select(
        n.cast("long").alias("n"),
        "n_agree",
        "pe_num",
        F.round(F.col("n_agree") / n, 6).alias("po"),
        F.round(F.col("pe_num") / (n * n), 6).alias("pe"),
        F.round(
            (n * F.col("n_agree") - F.col("pe_num"))
            / (n * n - F.col("pe_num")),
            6,
        ).alias("kappa"),
    )


def _kappa_sql() -> str:
    from .queries_llm import _lang_pred_sql

    pred = _lang_pred_sql()
    return f"""
WITH t AS (SELECT lang, {_TOKS_SQL} AS toks FROM documents),
p AS (
  SELECT lang AS labeled_lang, {pred} AS pred_lang,
         ({pred}) = lang AS agree
  FROM t
),
lab AS (SELECT labeled_lang AS cls, count(*) AS n_lab FROM p GROUP BY 1),
prd AS (SELECT pred_lang AS cls, count(*) AS n_prd FROM p GROUP BY 1),
pe AS (SELECT CAST(sum(n_lab * n_prd) AS BIGINT) AS pe_num
       FROM lab JOIN prd USING (cls)),
tot AS (SELECT count(*) AS n,
               CAST(sum(CASE WHEN agree THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM p)
SELECT CAST(n AS BIGINT) AS n, n_agree, pe_num,
       round(n_agree / CAST(n AS DOUBLE), 6) AS po,
       round(pe_num / CAST(n * n AS DOUBLE), 6) AS pe,
       round((n * n_agree - pe_num) / CAST(n * n - pe_num AS DOUBLE), 6)
         AS kappa
FROM tot CROSS JOIN pe
"""


register("cohens_kappa_langid", q_cohens_kappa_langid, _kappa_sql())


# -- SemDeDup-style embedding keep/drop decision ----------------------------
_SEM_TAU = 0.35


def q_semdedup_keep_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup over the embedding corpus: the
    keep/drop decision per VECTOR, not just the pair list. A vector is
    dropped when a SMALLER-id vector with cosine >= tau shares one of
    its 12 sign-LSH band buckets (the deterministic integer-Rademacher
    plane family — operators/similarity.with_sign_band_keys with
    int_exact=True, the same md5-seeded matrix the DuckDB oracle
    rebuilds bit-for-bit). Never all-pairs: candidates come from the
    banded bucket join; the exact cosine runs on candidates only.

    Output: one row per embedding with kept flag and the number of
    smaller-id qualifying duplicates — the frame a curation pipeline
    anti-joins against the corpus (the embedding-side analogue of
    dedup_survivors)."""
    from ..operators.similarity import cosine, with_sign_band_keys

    emb = load_table(spark, sf_dir, "embeddings")
    keyed = with_sign_band_keys(
        emb.select("vec_id", "embedding"), "embedding", 24, 12, int_exact=True
    )
    melted = keyed.select(
        "vec_id",
        "embedding",
        F.explode_outer(F.array(*[f"bk{b}" for b in range(12)])).alias("band_key"),
    ).filter(F.col("band_key").isNotNull())
    a, b = melted.alias("a"), melted.alias("b")
    pairs = (
        a.hint("merge")
        .join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.embedding").alias("va"),
            F.col("b.embedding").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dups = (
        pairs.withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= _SEM_TAU)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dup_smaller"))
    )
    return emb.select("vec_id").join(dups, "vec_id", "left").select(
        "vec_id",
        F.col("n_dup_smaller").isNull().alias("kept"),
        F.coalesce("n_dup_smaller", F.lit(0)).cast("long").alias("n_dup_smaller"),
    )


register(
    "semdedup_keep_decision",
    q_semdedup_keep_decision,
    f"""
WITH dims AS (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d),
planes AS (SELECT unnest(range(0, 24)) AS p),
w AS (
  SELECT p, d,
         CASE WHEN CAST(('0x' || substr(md5('lshw:' || p || ':' || d), 1, 8))
                   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS wt
  FROM planes CROSS JOIN dims
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
el AS (
  SELECT vec_id, dims.d AS d,
         CAST(round_even(v[dims.d + 1], 6) * 1e6 AS BIGINT) AS ei
  FROM e CROSS JOIN dims
),
proj AS (
  SELECT vec_id, p, sum(ei * wt) AS s
  FROM el JOIN w USING (d) GROUP BY 1, 2
),
keys AS (
  SELECT vec_id,
         concat(CAST(floor(p / 2) AS BIGINT), '|',
                string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p)) AS band_key
  FROM proj GROUP BY vec_id, floor(p / 2)
),
cands AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.vec_id < b.vec_id
),
dups AS (
  SELECT id_b AS vec_id, count(*) AS n_dup_smaller
  FROM cands
  JOIN e ea ON ea.vec_id = id_a
  JOIN e eb ON eb.vec_id = id_b
  WHERE list_inner_product(ea.v, eb.v)
        / (sqrt(list_inner_product(ea.v, ea.v)) * sqrt(list_inner_product(eb.v, eb.v)))
        >= {_SEM_TAU}
  GROUP BY 1
)
SELECT e.vec_id,
       d.n_dup_smaller IS NULL AS kept,
       CAST(coalesce(d.n_dup_smaller, 0) AS BIGINT) AS n_dup_smaller
FROM e LEFT JOIN dups d USING (vec_id)
""",
)


# -- Winnowing document fingerprints (Schleimer et al. 2003, MOSS) ----------
_WIN_K = 5    # gram width in tokens
_WIN_W = 4    # winnowing window (consecutive gram hashes)
_WIN_MAX_DF = 50


def q_winnow_fingerprint_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = _WIN_K,
    w: int = _WIN_W,
    max_df: int = _WIN_MAX_DF,
) -> DataFrame:
    """Cross-doc overlap via WINNOWED fingerprints: each document keeps
    only the minimum gram hash of every w-gram window (the classic
    guarantee: any shared run of w+k-1 tokens shares >=1 fingerprint),
    shrinking the join input ~w-fold versus the full gram index.

    Spark-first: the winnow itself is a PURE array expression
    (transform over positions + array_min over a slice) — per-document
    local work inside codegen, zero shuffle until the fingerprint
    equi-join; the df-cap then drops unique and boilerplate prints
    before the pair join, same posture as exact_substring_overlap.
    The pair Jaccard divides two exact BIGINTs once, unrounded."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    hashed = docs.repartition(par, "doc_id").select(
        "doc_id", _token_hashes(tokens("text")).alias("hs")
    )
    hcol = F.col("hs")
    n_grams = F.size(hcol) - (k - 1)
    grams_arr = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: _gram_mix(hcol, i, k)
    )
    fps_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_grams - (w - 1)),
            lambda p: F.array_min(F.slice(grams_arr, p, w)),
        )
    )
    fp = (
        hashed.filter(n_grams >= w)
        .select("doc_id", F.explode_outer(fps_arr).alias("fp"))
        .filter(F.col("fp").isNotNull())
        # Four consumers read this frame (per-doc counts, the df gate,
        # and BOTH sides of the pair self-join); without materialization
        # Catalyst re-tokenizes + re-winnows the corpus four times —
        # measured 2x wall at sf0.1 (r9 idle-box 7.0 s -> 3.4 s). The
        # checkpoint is (doc_id, fp) longs — ~1/w of the gram index —
        # the standard shared-scan posture used by the curation chain.
        .localCheckpoint(eager=True)
    )
    per_doc = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    df_ok = (
        fp.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("fp")
    )
    g = fp.join(df_ok, "fp")
    a, b = g.alias("a"), g.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= 2)
    )
    na = per_doc.select(F.col("doc_id").alias("id_a"), F.col("n_fp").alias("n_fp_a"))
    nb = per_doc.select(F.col("doc_id").alias("id_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("shared_fp").cast("long").alias("shared_fp"),
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
            (
                F.col("shared_fp")
                / (F.col("n_fp_a") + F.col("n_fp_b") - F.col("shared_fp"))
            ).alias("fp_jaccard"),
        )
    )


def winnow_fingerprint_pairs_sql(
    k: int = _WIN_K, w: int = _WIN_W, max_df: int = _WIN_MAX_DF
) -> str:
    # k/w/max_df fuzz-drawn (r12): the winnow guarantee (any shared
    # w+k-1-token run shares >= 1 fingerprint) must reproduce on both
    # engines at every drawn geometry.
    return f"""
WITH h AS (SELECT doc_id, {_SUB_HS_SQL} AS hs FROM documents),
ga AS (
  SELECT doc_id,
         list_transform(range(1, len(hs) - {k - 2}),
                        i -> {_gram_mix_sql('hs', 'i', k)}) AS grams
  FROM h WHERE len(hs) - {k - 1} >= {w}
),
fp AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             range(1, len(grams) - {w - 2}),
             p -> list_min(list_slice(grams, p, p + {w - 1}))))) AS fp
  FROM ga
),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY 1),
df_ok AS (
  SELECT fp FROM fp GROUP BY fp
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {max_df}
),
g AS (SELECT fp.* FROM fp JOIN df_ok USING (fp)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS shared_fp
  FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT id_a, id_b, shared_fp,
       na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b,
       shared_fp / CAST(na.n_fp + nb.n_fp - shared_fp AS DOUBLE) AS fp_jaccard
FROM pairs
JOIN per_doc na ON na.doc_id = id_a
JOIN per_doc nb ON nb.doc_id = id_b
"""


register(
    "winnow_fingerprint_pairs",
    q_winnow_fingerprint_pairs,
    winnow_fingerprint_pairs_sql(),
)
