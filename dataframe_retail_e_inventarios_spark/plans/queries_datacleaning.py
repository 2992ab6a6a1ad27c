"""Data-cleaning queries for training corpora [SURVEY §2.11 N4
extensions]: repetition/boilerplate metrics, PII redaction, train/eval
decontamination, approximate distinct counting.

The PII query PLANTS deterministic PII (the raw corpus is synthetic
word soup with none), same pattern as the planted-duplicate bucketed
near-dup query: the construction is replicated in the oracle, so the
redaction chain itself is hash-checked end to end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import contamination_pairs
from ..operators.pii import pii_sql_fragments, redact_pii
from ..operators.repetition import TOP_BIGRAM_FRAC_FLAG, repetition_stats
from ..registry import register
from ..sources.readers import load_table
from .queries_llm import _HS, _TOKS


# -- N4: repetition / boilerplate metrics ----------------------------------
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


register(
    "repetition_stats",
    q_repetition,
    f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         ELSE CAST([] AS VARCHAR[]) END AS bgs,
    CASE WHEN len(toks) >= 2
         THEN len(list_filter(range(1, len(toks)), i -> toks[i] = toks[i+1]))
         ELSE 0 END AS n_adj
  FROM t
),
m AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
    CAST(len(bgs) AS BIGINT) AS n_bigrams,
    CAST(n_adj AS BIGINT) AS n_adj,
    CASE WHEN len(bgs) > 0
         THEN CAST(list_max(list_transform(list_distinct(bgs),
                   g -> len(list_filter(bgs, x -> x = g)))) AS BIGINT)
         ELSE CAST(0 AS BIGINT) END AS top_cnt
  FROM b
)
SELECT doc_id, n_tokens,
  round(CASE WHEN n_tokens > 0
             THEN 1 - n_distinct / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 4)
    AS dup_token_frac,
  round(CASE WHEN n_bigrams > 0
             THEN top_cnt / CAST(n_bigrams AS DOUBLE) ELSE 0.0 END, 4)
    AS top_bigram_frac,
  round(CASE WHEN n_bigrams > 0
             THEN n_adj / CAST(n_bigrams AS DOUBLE) ELSE 0.0 END, 4)
    AS adj_dup_frac,
  (CASE WHEN n_bigrams > 0
        THEN top_cnt / CAST(n_bigrams AS DOUBLE) ELSE 0.0 END)
    > {TOP_BIGRAM_FRAC_FLAG} AS flag_repetitive
FROM m
""",
)


# -- N4: PII redaction over planted PII -------------------------------------
def _plant_pii(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact u"), did.cast("string"), F.lit("@mail.example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_pii(_plant_pii(load_table(spark, sf_dir, "documents")))


_PII_COUNTS, _PII_RED = pii_sql_fragments("text")

register(
    "pii_redaction",
    q_pii,
    f"""
WITH planted AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END AS text
  FROM documents
),
r AS (
  SELECT doc_id,
    {", ".join(_PII_COUNTS)},
    {_PII_RED} AS redacted
  FROM planted
)
SELECT doc_id, n_email, n_phone, n_ip, redacted,
       (n_email + n_phone + n_ip = 0) AS pii_free
FROM r
""",
)


# -- N2: train/eval decontamination -----------------------------------------
def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_pairs(tr, ev, min_shared=2)


register(
    "decontamination_overlap",
    q_decontamination,
    f"""
WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks_t
),
ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
ev AS (SELECT doc_id AS eval_id, hs FROM ds_h WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id AS train_id, hs FROM ds_h WHERE doc_id % 97 != 0)
SELECT train_id, eval_id, CAST(count(*) AS BIGINT) AS n_shared
FROM tr JOIN ev USING (hs)
GROUP BY 1, 2
HAVING count(*) >= 2
""",
)


# -- parity-plus: HLL approximate distinct counting --------------------------
# Tolerance band for the HLL++ estimate (rsd=0.02): 5 standard errors
# of relative error plus an absolute floor of 2 for tiny groups. The
# estimator is deterministic (fixed hash, mergeable registers), so the
# in-band boolean is partition- and run-invariant.
ADC_RSD = 0.02


def q_approx_distinct(
    spark: SparkSession, sf_dir: str, rsd: float = ADC_RSD
) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) beside the exact count —
    the sketch a 100 TB pipeline uses for distinct-user/URL statistics
    where an exact distinct would shuffle every key. The sketch value
    is approximate by construction, so the DRIVER-VISIBLE output is
    the tolerance-banded contract (r8 verdict #7): the exact count
    plus a boolean asserting the estimate sits within the documented
    relative-error band — hash-comparable against a DuckDB oracle that
    emits the exact count and literal TRUE. A drifting sketch now
    fails the driver gate, not just the local test."""
    ev = load_table(spark, sf_dir, "events")
    band = F.greatest(F.lit(2.0), F.lit(5 * rsd) * F.col("exact_users"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
                <= band
            ).alias("approx_in_band"),
        )
        .orderBy("event_type")
    )


def approx_distinct_users_sql(rsd: float = ADC_RSD) -> str:
    # rsd intentionally unused: the exact count is sketch-free and the
    # 5-sigma band must hold at ANY configured precision — the fuzz
    # draws prove it (r10 verdict #5).
    return """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_in_band
FROM events
GROUP BY 1
ORDER BY 1
"""


register("approx_distinct_users", q_approx_distinct, approx_distinct_users_sql())


def q_hll_sketch_rollup(
    spark: SparkSession, sf_dir: str, lgk: int = 12
) -> DataFrame:
    """MERGEABLE distinct-count sketches (Spark 4 Datasketches HLL):
    build one user sketch per (event_type, day), then hll_union_agg
    the DAILY sketch binaries up to monthly uniques — the 100 TB
    reaggregation pattern where raw events are scanned ONCE and every
    coarser rollup (week/month/quarter, any segment union) folds the
    stored kilobyte sketches instead of re-shuffling user ids.
    Driver-visible output is the tolerance-banded contract (r8
    verdict #7): the exact count plus TWO booleans — the merged-daily
    estimate and the one-shot estimate each inside the lgK=12 error
    envelope (|est-exact| <= max(2, 8% exact); HLL rel-std-err at
    2^12 registers is ~1.6%, so 5 sigma). Hash-compared against a
    DuckDB oracle emitting the exact rollup and literal TRUEs — a
    register-merge or calibration regression now fails the driver
    gate, not just the local test. (Union == one-shot holds BITWISE
    only while both sketches are in sparse exact mode — true at the
    smoke corpus, asserted there in tests/test_datacleaning.py — but
    at sf0.1 the one-shot promotes on a different schedule than the
    daily unions, so the cross-scale contract is the envelope, not
    equality.)"""
    from ..functions.timewall import wall_epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.floor(wall_epoch_seconds("ts") / 86400).cast("long").alias("day"),
        (F.floor(wall_epoch_seconds("ts") / 86400) / 30).cast("long").alias("month30"),
        "user_id",
    )
    daily = keyed.groupBy("event_type", "month30", "day").agg(
        F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sketch")
    )
    merged = daily.groupBy("event_type", "month30").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("users_merged_daily"),
        F.count("*").alias("n_days"),
    )
    oneshot = keyed.groupBy("event_type", "month30").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(lgk))).alias(
            "users_oneshot"
        ),
        F.countDistinct("user_id").alias("users_exact"),
    )
    # 5 sigma of the lgK-dependent HLL rel-std-err (1.04 / sqrt(2^lgK));
    # at the default lgK=12 this is the documented 8% envelope. lgk is
    # fuzz-drawn (r10 verdict #5) so the envelope is re-proven at other
    # register counts.
    rel = 5 * 1.04 / (2.0 ** lgk) ** 0.5
    band = F.greatest(F.lit(2.0), F.lit(rel) * F.col("users_exact"))
    return merged.join(oneshot, ["event_type", "month30"]).select(
        "event_type",
        "month30",
        "n_days",
        "users_exact",
        (
            F.abs(F.col("users_merged_daily") - F.col("users_exact")).cast("double")
            <= band
        ).alias("merged_in_band"),
        (
            F.abs(F.col("users_oneshot") - F.col("users_exact")).cast("double")
            <= band
        ).alias("oneshot_in_band"),
    )


def hll_sketch_rollup_sql(lgk: int = 12) -> str:
    # lgk intentionally unused: exact counts don't move and the
    # envelope booleans are guaranteed at every register count.
    return """
WITH keyed AS (
  SELECT event_type,
         CAST(floor(floor(epoch_us(ts) / 1000000) / 86400) AS BIGINT) AS day,
         CAST(floor(floor(floor(epoch_us(ts) / 1000000) / 86400) / 30) AS BIGINT) AS month30,
         user_id
  FROM events
)
SELECT event_type, month30,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users_exact,
       TRUE AS merged_in_band,
       TRUE AS oneshot_in_band
FROM keyed
GROUP BY 1, 2
"""


register("hll_sketch_rollup", q_hll_sketch_rollup, hll_sketch_rollup_sql())


# -- N2 extension: Bloom-filter decontamination ------------------------------
def q_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-membership flag per train doc via a broadcast Bloom
    filter (operators/bloom.py) instead of the shingle-index join:
    build an 8 KB bitmap from the eval split's shingle hashes once,
    then every train doc answers "do I touch the benchmark?" with pure
    per-row arithmetic — no corpus shuffle, no join, no aggregation
    (one output row per input doc straight off the scan pipeline).
    False positives are possible by construction and BOTH engines
    reproduce them bit-for-bit (md5-derived positions), so the
    approximate operator still gets the full hash check; the exact
    pair query (decontamination_overlap) remains the precision tool.
    tests/test_datacleaning assert the no-false-negative direction
    against the exact overlap."""
    from ..operators.bloom import bloom_build, bloom_probe_any
    from ..operators.dedup import shingle_hash32, word_shingles
    from ..operators.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    shingles = F.transform(word_shingles(tokens("text")), shingle_hash32)
    ev_keys = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles).alias("hs"))
        .distinct()
    )
    bloom = bloom_build(ev_keys, "hs")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return train.crossJoin(F.broadcast(bloom)).select(
        "doc_id",
        F.size(shingles).alias("n_shingles"),
        F.coalesce(
            bloom_probe_any(shingles, F.col("bloom_words")), F.lit(False)
        ).alias("contaminated"),
    )


def _bloom_oracle() -> str:
    from ..operators.bloom import K_HASHES, position_sql

    pos_list = ", ".join(position_sql("hs", s) for s in range(K_HASHES))
    all_in = " AND ".join(
        f"({position_sql('hs', s)}) IN (SELECT pos FROM bench_pos)"
        for s in range(K_HASHES)
    )
    return f"""
WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks_t
),
ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
bench_pos AS (
  SELECT DISTINCT unnest([{pos_list}]) AS pos
  FROM (SELECT DISTINCT hs FROM ds_h WHERE doc_id % 97 = 0)
),
probe AS (
  SELECT doc_id, bool_or({all_in}) AS contaminated
  FROM ds_h WHERE doc_id % 97 != 0
  GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(s.shingles) AS INTEGER) AS n_shingles,
       coalesce(p.contaminated, FALSE) AS contaminated
FROM documents d
JOIN shingled s USING (doc_id)
LEFT JOIN probe p USING (doc_id)
WHERE d.doc_id % 97 != 0
"""


register("decontamination_bloom", q_decontamination_bloom, _bloom_oracle())


# -- Benford first-digit distribution ---------------------------------------
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of line amounts vs
    Benford's law — the classic bulk-data anomaly screen (fabricated
    or truncated monetary data drifts from log10(1+1/d)). One scan,
    one 9-row aggregate; the chi-square-style deviation term is
    computed per digit from exact counts, so the screen is
    deterministic and cheap enough to run per corpus snapshot next to
    profile_lineitem_columns."""
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.regexp_replace(F.col("l_extendedprice").cast("string"), r"[^1-9]", ""), 1, 1
    )
    counts = (
        li.filter(F.col("l_extendedprice") > 0)
        .groupBy(digit.cast("int").alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    # broadcast 1-row normalizer (repo-standard crossJoin pattern) —
    # no empty-partition WindowExec, even on this 9-row frame
    total = counts.agg(F.sum("n").alias("_tot"))
    counts = counts.crossJoin(F.broadcast(total))
    obs = F.col("n") / F.col("_tot")
    exp = F.log10(1 + 1 / F.col("digit"))
    return counts.select(
        "digit",
        "n",
        (F.bround(obs * 10000.0, 0) / 10000.0).alias("observed_freq"),
        (F.bround(exp * 10000.0, 0) / 10000.0).alias("benford_freq"),
        (
            F.bround((obs - exp) * (obs - exp) / exp * 1_000_000.0, 0) / 1_000_000.0
        ).alias("sq_dev_over_exp"),
    )


register(
    "benford_first_digit",
    q_benford_digits,
    """
WITH counts AS (
  SELECT CAST(substr(regexp_replace(CAST(l_extendedprice AS VARCHAR), '[^1-9]', '', 'g'), 1, 1) AS INTEGER) AS digit,
         count(*) AS n
  FROM lineitem WHERE l_extendedprice > 0
  GROUP BY 1
)
SELECT digit, n,
       round_even(n / sum(n) OVER () * 10000.0, 0) / 10000.0 AS observed_freq,
       round_even(log10(1 + 1.0 / digit) * 10000.0, 0) / 10000.0 AS benford_freq,
       round_even((n / sum(n) OVER () - log10(1 + 1.0 / digit))
                  * (n / sum(n) OVER () - log10(1 + 1.0 / digit))
                  / log10(1 + 1.0 / digit) * 1000000.0, 0) / 1000000.0 AS sq_dev_over_exp
FROM counts
""",
)


# -- order-line sequence-gap detection --------------------------------------
def q_linenumber_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity screen: orders whose line numbers are not
    the contiguous sequence 1..count — dropped or duplicated lines in
    ingestion show up here before they corrupt joins downstream. The
    contiguity test is count vs max vs distinct-count arithmetic (one
    aggregate, no sort, no self-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"),
        F.max("l_linenumber").alias("max_line"),
        F.countDistinct("l_linenumber").alias("n_distinct"),
    )
    return per_order.filter(
        (F.col("max_line") != F.col("n_lines")) | (F.col("n_distinct") != F.col("n_lines"))
    ).select("l_orderkey", "n_lines", "max_line", "n_distinct")


register(
    "order_linenumber_gaps",
    q_linenumber_gaps,
    """
SELECT l_orderkey, count(*) AS n_lines,
       max(l_linenumber) AS max_line,
       count(DISTINCT l_linenumber) AS n_distinct
FROM lineitem
GROUP BY 1
HAVING max(l_linenumber) != count(*) OR count(DISTINCT l_linenumber) != count(*)
""",
)


# -- heavy hitters (frequent-items sketch) ----------------------------------
# 0.05% support: the part key space is ~uniform (each part ~0.05% of
# lineitem), so the old 1% threshold certified an EMPTY set — a
# vacuous pass. At 0.0005 the above-average tail clears the gate at
# every test scale while the MG sketch still tracks only
# 1/support = 2000 entries of fixed memory.
FREQ_SUPPORT = 0.0005


def q_frequent_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter part keys in the fact via Spark's frequent-items
    sketch (`df.stat.freqItems`, Karp/Misra-Gries family): one pass,
    fixed memory, NO false negatives — every key with frequency above
    the support threshold is guaranteed present (false positives
    possible). This completes the sketch family (HLL distinct, GK
    quantiles, Bloom membership, MG heavy hitters) — the four
    summaries a 100 TB profiler runs where exact aggregation would
    shuffle the world.

    Driver-visible contract (r8 verdict #7 pattern): the MG guarantee
    itself. The sketch's returned keys, filtered to those whose EXACT
    frequency clears the support threshold, must be exactly the exact
    heavy-hitter set — a missed hot key drops a row (rows mismatch)
    against the DuckDB oracle computing the exact set; sketch false
    positives are legitimately filtered on both engines' shared exact
    side. The audit join is one broadcast of the (tiny) sketch list
    onto the part-grain aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.select("l_partkey").stat.freqItems(["l_partkey"], support=FREQ_SUPPORT)
    sketched = freq.select(
        F.explode(F.col("l_partkey_freqItems")).alias("part_key")
    )
    exact = li.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # the total arrives as a broadcast 1-row cross join, keeping the
    # plan fully lazy (an eager li.count() here would run a whole scan
    # job on every plan construction — explain dumps included)
    total = li.agg(F.count(F.lit(1)).alias("_total"))
    return (
        exact.join(F.broadcast(sketched), "part_key", "left_semi")
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > FREQ_SUPPORT * F.col("_total"))
        .select("part_key", "n")
        .orderBy("part_key")
    )


register(
    "frequent_parts_sketch",
    q_frequent_parts,
    f"""
SELECT l_partkey AS part_key, CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY 1
HAVING count(*) > {FREQ_SUPPORT} * (SELECT count(*) FROM lineitem)
ORDER BY 1
""",
)


APPROX_TOPK_K = 20
# maxItemsTracked: with distinct-key cardinality at or below this, the
# space-saving sketch never evicts, so every estimate is the EXACT
# count — the regime this query documents and the oracle gate relies
# on. 64Ki covers the part dimension to sf~3 (2 000 keys at sf0.01).
APPROX_TOPK_CAP = 65536


def q_approx_top_k_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters WITH estimated counts via Spark 4's
    ``approx_top_k`` aggregate (count-min/space-saving family) — the
    companion to freqItems (which returns items only): one pass, fixed
    sketch memory, mergeable across partitions.

    Driver-visible contract (r8 verdict #7): within the documented
    exact regime (distinct keys <= maxItemsTracked — no evictions, so
    space-saving estimates equal true counts), the sketch's returned
    keys restricted to counts STRICTLY above the exact k-th count must
    be exactly the exact top-k set with exact counts. Keys tied AT the
    cutoff may legitimately swap, so the gate filters to the
    strictly-above set on both engines; a coverage miss drops a row
    (rows mismatch), a drifted estimate changes a value (hash
    mismatch)."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_topk")
    sketched = spark.sql(
        f"""
        SELECT t.item AS part_key, t.count AS est_count
        FROM (
          SELECT explode(approx_top_k(l_partkey, {APPROX_TOPK_K}, {APPROX_TOPK_CAP})) AS t
          FROM _li_topk
        )
        """
    )
    # exact k-th count = the tie-aware cutoff; everything strictly
    # above it is a MUST-APPEAR key with a MUST-BE-EXACT count.
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    # k-th highest exact count via distributed top-k (TakeOrdered),
    # not a single-partition window; min over exactly k rows = cutoff.
    cutoff = (
        exact.orderBy(F.desc("c"))
        .limit(APPROX_TOPK_K)
        .agg(
            F.when(F.count(F.lit(1)) >= APPROX_TOPK_K, F.min("c"))
            .otherwise(F.lit(None))
            .alias("cut")
        )
    )
    return (
        sketched.join(F.broadcast(cutoff))
        .filter(F.col("est_count") > F.col("cut"))
        .select("part_key", "est_count")
        .orderBy(F.desc("est_count"), "part_key")
    )


register(
    "approx_top_k_parts",
    q_approx_top_k_parts,
    f"""
WITH exact AS (
  SELECT l_partkey AS part_key, CAST(count(*) AS BIGINT) AS est_count
  FROM lineitem GROUP BY 1
),
cut AS (
  SELECT est_count AS cut FROM exact
  ORDER BY est_count DESC LIMIT 1 OFFSET {APPROX_TOPK_K - 1}
)
SELECT part_key, est_count
FROM exact, cut
WHERE est_count > cut
ORDER BY est_count DESC, part_key
""",
)
