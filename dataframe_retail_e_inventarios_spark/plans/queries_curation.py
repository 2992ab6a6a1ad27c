"""Corpus-curation queries [SURVEY §2.11 N1-N4 extensions]: near-dup
cluster assignment + keep-one survivors, deterministic stratified
sampling, and the end-to-end curation funnel — the operations a
training-data pipeline runs after the per-doc scoring/dedup primitives.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import jaccard_pairs
from ..operators.graph import connected_components, dedup_keep_first
from ..operators.textops import STOPWORDS, fingerprint, quality_score, tokens
from ..registry import register
from ..sources.readers import load_table
from .queries_llm import MAX_DF, _SHINGLE_INDEX_SQL

# Shared recursive-CTE oracle for min-label connected components over
# the Jaccard near-dup graph (DuckDB evaluates the UNION recursion
# to fixpoint — the declarative twin of the iterative Spark loop).
def components_ctes(threshold: float = 0.35) -> str:
    return f"""{_SHINGLE_INDEX_SQL.strip()},
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= {threshold}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY 1)"""


_COMPONENTS_CTES = components_ctes()


def _neardup_components(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The edge union reads the pairs twice; the pair list is small next
    # to its index self-join, so it is cut first (artifacts/checkpoint_ab.md).
    pairs = jaccard_pairs(docs, threshold=threshold, max_df=MAX_DF)
    return connected_components(pairs.localCheckpoint(eager=True))


def q_dedup_clusters(
    spark: SparkSession, sf_dir: str, *, threshold: float = 0.35
) -> DataFrame:
    """Min-label connected components over the near-dup graph; the
    clustering threshold is fuzz-injectable (tools/fuzz_oracles.py) —
    each drawn threshold grows/shrinks the edge set and re-proves the
    iterative min-label loop against the recursive-CTE fixpoint on a
    different graph."""
    return _neardup_components(spark, sf_dir, threshold)


def dedup_cluster_assignment_sql(threshold: float = 0.35) -> str:
    return f"""
WITH RECURSIVE {components_ctes(threshold)}
SELECT node, cluster_id FROM comp
"""


register("dedup_cluster_assignment", q_dedup_clusters, dedup_cluster_assignment_sql())


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster: corpus size before/after near-dup removal."""
    docs = load_table(spark, sf_dir, "documents")
    kept = dedup_keep_first(docs, _neardup_components(spark, sf_dir))
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum(F.length("text")).alias("kept_chars"),
    )


register(
    "dedup_survivors",
    q_dedup_survivors,
    f"""
WITH RECURSIVE {_COMPONENTS_CTES}
SELECT count(*) AS n_kept, CAST(sum(length(text)) AS BIGINT) AS kept_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node != cluster_id)
""",
)


def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph — the dedup
    health metric a corpus build reports (how much of the corpus is
    duplicated, and in what blob sizes). Tiny second aggregate over the
    components frame; singleton docs (no near-dup edge) are reported as
    the size-1 row so the histogram covers the whole corpus."""
    docs = load_table(spark, sf_dir, "documents")
    comp = _neardup_components(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))
    n_docs = docs.agg(F.count("*").alias("n_total"))
    n_in_pairs = comp.agg(F.count("*").alias("n_paired"))
    singletons = n_docs.crossJoin(n_in_pairs).select(
        F.lit(1).cast("long").alias("cluster_size"),
        (F.col("n_total") - F.col("n_paired")).alias("n_clusters"),
    )
    return hist.unionByName(singletons).groupBy("cluster_size").agg(
        F.sum("n_clusters").alias("n_clusters")
    )


register(
    "dedup_cluster_histogram",
    q_dedup_cluster_histogram,
    f"""
WITH RECURSIVE {_COMPONENTS_CTES},
csizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY 1),
chist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters FROM csizes GROUP BY 1),
csingles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp) AS n_clusters
)
SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
FROM (SELECT * FROM chist UNION ALL SELECT * FROM csingles)
GROUP BY 1
""",
)


# -- Deterministic stratified sampling -------------------------------------
# Sampling a 100 TB corpus must be reproducible and shuffle-free: the
# keep/drop decision is a pure function of the stable doc_id (md5
# bucket 0..255), with per-language rates to rebalance an
# overrepresented stratum. No RNG state, no sort, no shuffle — the
# filter pushes into the scan pipeline.
_STRATA = {"en": 64, "es": 128, "de": 128, "fr": 128}  # keep bucket < N/256
_DEFAULT_KEEP = 192


def _hash_bucket(col):
    h = F.md5(col.cast("string"))
    v1 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    v2 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    return (v1 * 16 + v2).cast("long")


def q_sample_stratified(
    spark: SparkSession,
    sf_dir: str,
    strata: dict[str, int] | None = None,
    default_keep: int | None = None,
) -> DataFrame:
    # per-language keep thresholds fuzz-drawn (r12): the md5-bucket
    # keep/drop edge is probed at perturbed rates per stratum.
    strata = strata if strata is not None else _STRATA
    default_keep = default_keep if default_keep is not None else _DEFAULT_KEEP
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    keep_below = F.lit(default_keep)
    for lang, n in strata.items():
        keep_below = F.when(F.col("lang") == lang, F.lit(n)).otherwise(keep_below)
    return docs.select(
        "doc_id", "lang", bucket.alias("bucket")
    ).filter(F.col("bucket") < keep_below)


_BUCKET_SQL = (
    "CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) AS BIGINT)"
)


def sample_stratified_hash_sql(
    strata: dict[str, int] | None = None, default_keep: int | None = None
) -> str:
    strata = strata if strata is not None else _STRATA
    default_keep = default_keep if default_keep is not None else _DEFAULT_KEEP
    keep_sql = "".join(
        f"CASE WHEN lang = '{lang}' THEN {n} ELSE " for lang, n in strata.items()
    ) + str(default_keep) + " END" * len(strata)
    return f"""
SELECT doc_id, lang, {_BUCKET_SQL} AS bucket
FROM documents
WHERE {_BUCKET_SQL} < ({keep_sql})
"""


register(
    "sample_stratified_hash",
    q_sample_stratified,
    sample_stratified_hash_sql(),
)


# -- Token-budget sequence packing -----------------------------------------
def q_token_packing(
    spark: SparkSession, sf_dir: str, budget: int = 2048
) -> DataFrame:
    from ..operators.packing import pack_into_batches
    from ..operators.tokenize import bpe_ish_tokens

    docs = load_table(spark, sf_dir, "documents")
    return pack_into_batches(docs, F.size(bpe_ish_tokens("text")), budget=budget)


from ..operators.tokenize import BPE_ISH_PATTERN as _BPE_RAW2  # noqa: E402

_BPE2 = _BPE_RAW2.replace("'", "''")


def token_pack_batches_sql(budget: int = 2048) -> str:
    # budget fuzz-drawn (r12): the greedy prefix-sum batch boundary
    # must agree at every budget, including budgets smaller than a
    # single doc's token count (the floor-division still bins them
    # identically on both engines).
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_BPE2}')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / {budget}) AS BIGINT)
         AS batch_id
FROM t
"""


register("token_pack_batches", q_token_packing, token_pack_batches_sql())


# -- Curation funnel --------------------------------------------------------
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training filter chain as ONE lazy plan with
    per-stage admission counts: raw -> quality floor -> target language
    -> exact-dedup keeper. Each stage is a cumulative conjunction, so
    the engine evaluates the corpus once (single scan, one aggregate)
    and the funnel falls out of conditional counts — no per-stage
    passes."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    q = quality_score("text", toks)
    from pyspark.sql import Window

    is_keeper = (
        F.row_number().over(
            Window.partitionBy(fingerprint("text")).orderBy("doc_id")
        )
        == 1
    )
    staged = docs.select(
        q.alias("q"),
        F.col("lang"),
        is_keeper.alias("keeper"),
        F.length("text").alias("n_chars"),
    )
    s1 = F.col("q") >= 0.5
    s2 = s1 & (F.col("lang") == "en")
    s3 = s2 & F.col("keeper")
    return staged.agg(
        F.count("*").alias("n_raw"),
        F.sum(s1.cast("long")).alias("n_quality"),
        F.sum(s2.cast("long")).alias("n_lang"),
        F.sum(s3.cast("long")).alias("n_deduped"),
        F.sum(F.when(s3, F.col("n_chars"))).alias("final_chars"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)
_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_FP_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

register(
    "curation_funnel",
    q_curation_funnel,
    f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks,
         row_number() OVER (PARTITION BY {_FP_SQL} ORDER BY doc_id) = 1 AS keeper
  FROM documents
),
m AS (
  SELECT lang, keeper, length(text) AS n_chars,
    0.4 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)
    + 0.3 * (1 - CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)
                      ELSE 0.0 END)
    + 0.3 * (1 - CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                      ELSE 0.0 END) AS q
  FROM t
)
SELECT count(*) AS n_raw,
       CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       CAST(sum(CASE WHEN q >= 0.5 AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(sum(CASE WHEN q >= 0.5 AND lang = 'en' AND keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_deduped,
       CAST(sum(CASE WHEN q >= 0.5 AND lang = 'en' AND keeper THEN n_chars END) AS BIGINT) AS final_chars
FROM m
""",
)


# -- Per-source (domain) quality rollup ------------------------------------
# RefinedWeb/C4-style domain triage: corpus curation decisions are made
# per SOURCE (drop boilerplate domains, cap syndicators) before any
# per-document work. One tokenize pass, one (source, lang) aggregate —
# the per-doc quality double is quantized to a BIGINT scale-4 grid
# BEFORE summing, so the rollup mean is order-independent and
# bit-identical across engines/partitionings (the repo's standard
# exact-sum trick; see functions/exact.py).
def q_source_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import quality_score, tokens

    docs = load_table(spark, sf_dir, "documents")
    q4 = F.bround(quality_score("text", tokens("text")) * 10000.0, 0).cast("long")
    per = docs.select(
        "source",
        "lang",
        F.length("text").cast("long").alias("nc"),
        q4.alias("q4"),
    )
    return per.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("nc").alias("total_chars"),
        (F.bround(F.sum("q4") / F.count("*"), 0) / 10000.0).alias("avg_quality"),
        F.sum((F.col("q4") >= 5000).cast("long")).alias("n_pass"),
    )


register(
    "source_quality_rollup",
    q_source_quality_rollup,
    f"""
WITH t AS (
  SELECT source, lang, text, {_TOKS_SQL} AS toks FROM documents
),
m AS (
  SELECT source, lang, CAST(length(text) AS BIGINT) AS nc,
    CAST(round_even((
      0.4 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)
      + 0.3 * (1 - CASE WHEN len(toks) > 0
                        THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)
                        ELSE 0.0 END)
      + 0.3 * (1 - CASE WHEN length(text) > 0
                        THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                        ELSE 0.0 END)) * 10000.0, 0) AS BIGINT) AS q4
  FROM t
)
SELECT source, lang,
       count(*) AS n_docs,
       -- CAST: DuckDB sum(BIGINT)=HUGEINT pandas-fetches as float64,
       -- which the driver hash formats unlike Spark's int64
       CAST(sum(nc) AS BIGINT) AS total_chars,
       round_even(sum(q4) / count(*), 0) / 10000.0 AS avg_quality,
       CAST(sum(CASE WHEN q4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM m
GROUP BY 1, 2
""",
)


# -- Deterministic train/val/test split ------------------------------------
# The split a training pipeline actually ships: assignment is a pure
# function of the stable doc_id (md5 bucket 0..255 -> ~97.7/1.2/1.2),
# so it is reproducible across runs, engines, and repartitionings, and
# membership never migrates when the corpus grows (a new doc lands in
# exactly one split; existing docs never move). Zero shuffle for the
# assignment itself; one aggregate for the audit counts.
def q_dataset_split(
    spark: SparkSession, sf_dir: str, train_cut: int = 250, val_cut: int = 253
) -> DataFrame:
    # cut points fuzz-drawn (r12): the two bucket edges decide split
    # membership; a drawn train_cut == val_cut makes val empty — both
    # engines must agree there too.
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < train_cut, F.lit("train"))
        .when(bucket < val_cut, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", F.length("text").cast("long").alias("nc"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("nc").alias("total_chars"))
    )


def dataset_split_counts_sql(train_cut: int = 250, val_cut: int = 253) -> str:
    return f"""
WITH b AS (
  SELECT lang, length(text) AS nc,
         CASE WHEN {_BUCKET_SQL} < {train_cut} THEN 'train'
              WHEN {_BUCKET_SQL} < {val_cut} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS total_chars
FROM b
GROUP BY 1, 2
"""


register(
    "dataset_split_counts",
    q_dataset_split,
    dataset_split_counts_sql(),
)


# -- deterministic global corpus shuffle + batch assignment ----------------
def q_corpus_shuffle_batches(
    spark: SparkSession, sf_dir: str, seed: str = "epoch0", batch: int = 64
) -> DataFrame:
    """The 'shuffle the corpus before epoch 0' step of a training
    pipeline, made deterministic AND distributed: shuffle order is
    md5(seed || doc_id) — uniform pseudo-random yet bitwise-stable
    across runs and cluster sizes — and the global position comes from
    operators/distributed_rank.with_global_rank (range-repartition +
    broadcast prefix-sum offsets), so no single task ever sorts the
    corpus. batch_id = floor((position-1)/64) is the fixed-size
    training-batch assignment. Membership and order are reproducible
    from the seed alone; the oracle replays the same hash order with a
    window row_number."""
    from ..operators.distributed_rank import with_global_rank

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    shuffled = with_global_rank(
        docs.select("doc_id", key.alias("shuffle_key")),
        [F.col("shuffle_key").asc(), F.col("doc_id").asc()],
        rank_col="position",
    )
    return shuffled.select(
        "doc_id",
        "shuffle_key",
        F.col("position").cast("long").alias("position"),
        F.floor((F.col("position") - 1) / F.lit(batch)).cast("long").alias("batch_id"),
    )


def corpus_shuffle_batches_sql(seed: str = "epoch0", batch: int = 64) -> str:
    # seed + batch size fuzz-drawn (r12): every seed induces a fresh
    # global order, so each draw re-proves the distributed range-
    # repartition rank against the oracle's window row_number on a
    # DIFFERENT permutation — the strongest kind of probe for the
    # broadcast prefix-sum offset logic.
    return f"""
WITH keyed AS (
  SELECT doc_id, md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
),
pos AS (
  SELECT doc_id, shuffle_key,
         CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT) AS position
  FROM keyed
)
SELECT doc_id, shuffle_key, position,
       CAST(floor((position - 1) / {batch}) AS BIGINT) AS batch_id
FROM pos
"""


register(
    "corpus_shuffle_batches",
    q_corpus_shuffle_batches,
    corpus_shuffle_batches_sql(),
)


# -- DSIR-style importance-weighted data selection --------------------------
_DSIR_BUCKETS = 4096
_DSIR_KEEP = 500


def q_dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169) over hashed word-bigram features: score every
    document by how much more likely its n-grams are under the TARGET
    distribution (here: the lang='en' slice — "select raw data that
    looks like the target") than under the raw corpus, then keep the
    top-K. score(doc) = Σ_grams [ln p_t(b) − ln p_r(b)] with hashed
    bigram buckets b and Laplace smoothing — the standard
    importance-weight estimator with hashed features.

    Engine-exact construction: bigrams reduce to the 31-bit Horner mix
    of per-token md5 hashes (queries_corpus._gram_mix) mod 4096
    buckets; each bucket's log-ratio is computed ONCE from exact
    integer counts and snapped to a 1e-9-scaled BIGINT, so the per-doc
    score is an exact integer SUM (order-independent, no cross-engine
    float accumulation) and the top-K cut ranks on that exact integer
    (ties → doc_id). Selection rank runs on the distributed
    range-partition machinery — the frame is corpus-sized.

    Scale posture: one tokenize scan (checkpointed gram frame feeds
    bucket counts, totals, and the score join), a ≤4096-row broadcast
    bucket table, and 8-byte shuffle keys throughout — the 100 TB
    shape of DSIR is exactly this: tiny hashed-feature model,
    broadcast, one pass."""
    from ..operators.distributed_rank import with_global_rank
    from .queries_corpus import _gram_mix, _token_hashes

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    hs = docs.repartition(par, "doc_id").select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        _token_hashes(tokens("text")).alias("hs"),
    )
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - 1)
    grams = F.when(
        F.size(hcol) >= 2, F.transform(idx, lambda i: _gram_mix(hcol, i, 2))
    ).otherwise(F.array().cast("array<bigint>"))
    g = (
        hs.select("doc_id", "is_t", F.explode(grams).alias("gh"))
        .select("doc_id", "is_t", (F.col("gh") % _DSIR_BUCKETS).alias("b"))
        .localCheckpoint(eager=True)
    )
    bc = g.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.col("is_t").cast("long")).alias("ct"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum(F.col("is_t").cast("long")).alias("nt"),
    )
    lr = (
        F.log(F.col("ct") + 1)
        - F.log(F.col("nt") + _DSIR_BUCKETS)
        - F.log(F.col("cr") + 1)
        + F.log(F.col("nr") + _DSIR_BUCKETS)
    )
    buckets = (
        bc.crossJoin(F.broadcast(tot))
        .select("b", F.round(lr * 1e9, 0).cast("long").alias("lri"))
    )
    scored = (
        g.join(F.broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.sum("lri").alias("s"))
    )
    ranked = with_global_rank(
        scored,
        [F.col("s").desc(), F.col("doc_id").asc()],
        rank_col="_rk",
    )
    return ranked.select(
        "doc_id",
        "n_grams",
        F.round(F.col("s") / 1e9, 6).alias("dsir_score"),
        (F.col("_rk") <= _DSIR_KEEP).alias("selected"),
    ).orderBy("doc_id")


def _dsir_sql() -> str:
    from .queries_corpus import _gram_mix_sql

    return f"""
WITH hs AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_transform({_TOKS_SQL},
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
g AS (
  SELECT doc_id, is_t, u.gh % {_DSIR_BUCKETS} AS b
  FROM hs, LATERAL unnest(
    list_transform(range(1, len(hs)), i -> {_gram_mix_sql('hs', 'i', 2)})
  ) AS u(gh)
  WHERE len(hs) >= 2
),
bc AS (
  SELECT b, count(*) AS cr,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM g GROUP BY b
),
tot AS (
  SELECT count(*) AS nr,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS nt
  FROM g
),
lr AS (
  SELECT b, CAST(round((ln(ct + 1) - ln(nt + {_DSIR_BUCKETS})
                        - ln(cr + 1) + ln(nr + {_DSIR_BUCKETS})) * 1e9, 0)
                 AS BIGINT) AS lri
  FROM bc CROSS JOIN tot
),
sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(lri) AS BIGINT) AS s
  FROM g JOIN lr USING (b) GROUP BY doc_id
)
SELECT doc_id, n_grams, round(s / 1e9, 6) AS dsir_score,
       (row_number() OVER (ORDER BY s DESC, doc_id) <= {_DSIR_KEEP}) AS selected
FROM sc
ORDER BY doc_id
"""


register("dsir_importance_selection", q_dsir_importance_selection, _dsir_sql())


# -- token-budget selection (quality-ordered running sum) -------------------
_TOKEN_BUDGET = 4000


def q_token_budget_selection(
    spark: SparkSession, sf_dir: str, budget: int | None = None
) -> DataFrame:
    """Per-source token-budget curation: order each source's documents
    by quality and keep documents until the source's TOKEN budget is
    exhausted — the "fill the mixture to N tokens per source" step of
    training-data assembly (class_balanced_cap's sibling: that caps by
    DOC count, this by token mass, which is what the training budget
    is actually denominated in).

    The quality key is exact-integer (stopword occurrences per million
    tokens via BIGINT integer division — natural text ranks high), so
    ordering is bit-identical on any engine; the running token sum is
    a per-source ROWS window over the (quality desc, doc_id) total
    order. One scan, one partitioned window shuffle — no global sort,
    no driver participation, source-parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("long")
    # integer counts first, then the exact-integer quality key (the
    # `div` expression needs the counts as named columns)
    base = docs.select(
        "source",
        "doc_id",
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stop"),
    ).select(
        "source",
        "doc_id",
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.expr("(n_stop * 1000000) div n_tokens"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("qi"),
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.col("qi").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("cum_tokens", cum.cast("long"))
        .filter(F.col("cum_tokens") <= (budget if budget is not None else _TOKEN_BUDGET))
        .select("source", "doc_id", "n_tokens", "qi", "cum_tokens")
        .orderBy("source", "doc_id")
    )


def token_budget_selection_sql(budget: int | None = None) -> str:
    # budget fuzz-drawn (r12): the running-sum cutoff edge (the first
    # document that overflows is dropped, everything before it kept)
    # must agree at every drawn budget.
    b = budget if budget is not None else _TOKEN_BUDGET
    return f"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
         CAST(len(list_filter({_TOKS_SQL},
                              x -> x IN ({{stop_in}}))) AS BIGINT) AS n_stop
  FROM documents
),
q AS (
  SELECT source, doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN (n_stop * 1000000) // n_tokens
              ELSE 0 END AS qi
  FROM t
),
c AS (
  SELECT source, doc_id, n_tokens, CAST(qi AS BIGINT) AS qi,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY qi DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM q
)
SELECT source, doc_id, n_tokens, qi, cum_tokens
FROM c WHERE cum_tokens <= {b}
ORDER BY source, doc_id
""".replace("{stop_in}", ", ".join(f"'{s}'" for s in STOPWORDS))


register(
    "token_budget_selection",
    q_token_budget_selection,
    token_budget_selection_sql(),
)


# -- End-to-end LLM curation pipeline (r7 verdict #7) ------------------------
# The N-family flagship: every pre-training curation stage chained as
# one dataflow over ONE documents scan — quality floor -> target
# language -> exact-dedup keeper -> eval decontamination -> token
# packing — returning the packed training stream (doc_id, n_tokens,
# batch_id) a loader would consume.
_PIPE_BUDGET = 2048       # packing token budget (= token_pack_batches)
_PIPE_EVAL_MOD = 97       # doc_id % 97 == 0 plays the eval benchmark
_PIPE_MIN_SHARED = 2      # shared distinct 3-shingles => contaminated
_PIPE_Q_FLOOR = 0.5


def _curation_feature_frame(docs: DataFrame) -> DataFrame:
    """ONE pass over documents computing every per-doc feature the
    pipeline stages need — quality score, language, normalized-text
    fingerprint, BPE-ish token count, hashed distinct 3-gram shingle
    set — then localCheckpoint so the eval-index branch, the keeper
    window and the packing stage all read the materialized features
    instead of each re-expanding the scan (the repo's standard
    multi-consumer cut; measured 4x scans without it). At 100 TB the
    checkpoint becomes a persisted feature table written once per
    corpus snapshot — the dataflow downstream is identical."""
    from ..operators.dedup import shingle_hash32
    from ..operators.textops import word_shingles
    from ..operators.tokenize import bpe_ish_tokens

    toked = docs.select("doc_id", "lang", "text", tokens("text").alias("toks"))
    return toked.select(
        "doc_id",
        "lang",
        quality_score("text", F.col("toks")).alias("q"),
        fingerprint("text").alias("fp"),
        F.size(bpe_ish_tokens("text")).cast("long").alias("n_tokens"),
        # distinct STRING shingles hashed after dedup, so a 32-bit
        # collision merges the same pair in both engines
        F.transform(word_shingles(F.col("toks")), shingle_hash32).alias("hs"),
    ).localCheckpoint(eager=True)


def q_llm_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality -> lang -> dedup-keeper -> decontaminate -> pack, one
    registered query under the full value-hash oracle.

    Stage order mirrors a production corpus build: (1) docs with
    doc_id % 97 == 0 are withheld as the eval benchmark; (2) the train
    side keeps q >= 0.5 AND lang = 'en'; (3) exact dedup keeps the
    lowest doc_id per normalized fingerprint AMONG survivors (a
    filtered-out doc can't claim keeper-ship); (4) any survivor
    sharing >= 2 distinct word-3-gram shingles with ANY eval doc is
    decontaminated away (GPT-3 appendix C rule; the eval shingle index
    is benchmark-sized, so it BROADCASTS and the corpus never shuffles
    by shingle); (5) the clean stream packs into 2048-token batches
    via the distributed prefix-sum packer (block windows + broadcast
    block offsets — no single-partition window).

    Scale posture: one documents scan (plan-asserted in
    tests/test_curation_pipeline.py), one fingerprint shuffle, one
    broadcast join, one block-window pass; every stage is the
    production operator, not a demo twin."""
    from pyspark.sql import Window

    from ..operators.packing import pack_into_batches

    docs = load_table(spark, sf_dir, "documents")
    feat = _curation_feature_frame(docs)
    ev_idx = (
        feat.filter(F.col("doc_id") % _PIPE_EVAL_MOD == 0)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode_outer("hs").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    train = feat.filter(F.col("doc_id") % _PIPE_EVAL_MOD != 0)
    w = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        train.filter((F.col("q") >= _PIPE_Q_FLOOR) & (F.col("lang") == "en"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens", "hs")
    )
    tr_sh = surv.select(
        "doc_id", F.explode_outer("hs").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    contaminated = (
        tr_sh.join(F.broadcast(ev_idx), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _PIPE_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )
    clean = surv.join(contaminated, "doc_id", "left_anti")
    return pack_into_batches(clean, F.col("n_tokens"), budget=_PIPE_BUDGET)


register(
    "llm_curation_pipeline",
    q_llm_curation_pipeline,
    f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS_SQL} AS toks FROM documents
),
feat AS (
  SELECT doc_id, lang,
    0.4 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)
    + 0.3 * (1 - CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)
                      ELSE 0.0 END)
    + 0.3 * (1 - CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                      ELSE 0.0 END) AS q,
    {_FP_SQL} AS fp,
    CAST(len(regexp_extract_all(text, '{{bpe}}')) AS BIGINT) AS n_tokens,
    list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t
),
ev AS (
  SELECT doc_id AS eval_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hs
  FROM (SELECT doc_id, unnest(shingles) AS s FROM feat
        WHERE doc_id % {_PIPE_EVAL_MOD} = 0)
),
surv AS (
  SELECT doc_id, n_tokens, shingles FROM (
    SELECT doc_id, n_tokens, shingles,
           row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM feat
    WHERE doc_id % {_PIPE_EVAL_MOD} != 0 AND q >= {_PIPE_Q_FLOOR} AND lang = 'en'
  ) WHERE rn = 1
),
tr AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hs
  FROM (SELECT doc_id, unnest(shingles) AS s FROM surv)
),
contaminated AS (
  SELECT DISTINCT doc_id FROM (
    SELECT tr.doc_id FROM tr JOIN ev USING (hs)
    GROUP BY tr.doc_id, ev.eval_id HAVING count(*) >= {_PIPE_MIN_SHARED}
  )
),
clean AS (
  SELECT doc_id, n_tokens FROM surv
  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                  / {_PIPE_BUDGET}) AS BIGINT) AS batch_id
FROM clean
""".replace("{bpe}", _BPE2),
)


# -- Cross-source quality-score calibration ----------------------------------
# RefinedWeb/DCLM-style source calibration: a raw quality score is not
# comparable across sources (each source's score distribution differs),
# so curation thresholds are set per source in QUANTILE space. This
# operator computes each source's decile edges and the calibrated
# per-(source, decile) histogram — the table a mixing policy reads to
# take "the top 30% of every source" instead of "score >= 0.6"
# (which over-selects easy sources).
_CAL_QS = [i / 10.0 for i in range(1, 10)]  # inner decile edges


def q_source_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, decile, n_docs, lo_qi, hi_qi): per-source decile
    assignment of the quality score WITHOUT any data-sized window —
    scores quantize to a BIGINT 1e6 grid (the repo's exact-sum trick,
    so both engines interpolate from identical integers), the 9 inner
    decile edges per source come from ONE exact-percentile aggregate
    (bounded output: 9 doubles x n_sources), broadcast back, and each
    doc's decile = count of edges strictly below its score — a pure
    array expression inside codegen. At 100 TB: one corpus pass for
    the edges (percentile is a partial-aggregating sketch-free exact
    here; swap approx_percentile at extreme scale), one pass for the
    histogram, zero windows, zero skew (the broadcast is
    sources x 9 doubles)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    qi = F.bround(quality_score("text", toks) * 1e6, 0).cast("long")
    scored = docs.select("source", qi.alias("qi"))
    qs_lit = ", ".join(str(q) for q in _CAL_QS)
    edges = scored.groupBy("source").agg(
        F.expr(f"percentile(qi, array({qs_lit}))").alias("edges")
    )
    bucket = F.size(F.filter(F.col("edges"), lambda e: e < F.col("qi")))
    return (
        scored.join(F.broadcast(edges), "source")
        .select("source", "qi", bucket.alias("decile"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("qi").alias("lo_qi"),
            F.max("qi").alias("hi_qi"),
        )
    )


register(
    "source_score_calibration",
    q_source_score_calibration,
    f"""
WITH t AS (
  SELECT source, {_TOKS_SQL} AS toks, text FROM documents
),
scored AS (
  SELECT source,
         CAST(round_even((
    0.4 * least(1.0, CAST(len(toks) AS BIGINT) / 100.0)
    + 0.3 * (1 - CASE WHEN len(toks) > 0
                      THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)
                      ELSE 0.0 END)
    + 0.3 * (1 - CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
                      ELSE 0.0 END)) * 1e6, 0) AS BIGINT) AS qi
  FROM t
),
edges AS (
  SELECT source, quantile_cont(qi, [{", ".join(str(q) for q in _CAL_QS)}]) AS edges
  FROM scored GROUP BY 1
)
SELECT s.source,
       CAST(len(list_filter(e.edges, x -> x < s.qi)) AS INTEGER) AS decile,
       count(*) AS n_docs,
       CAST(min(s.qi) AS BIGINT) AS lo_qi,
       CAST(max(s.qi) AS BIGINT) AS hi_qi
FROM scored s JOIN edges e USING (source)
GROUP BY 1, 2
""",
)
