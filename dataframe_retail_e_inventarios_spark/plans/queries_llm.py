"""Training-data pipeline queries over documents/embeddings
[SURVEY §2.11 N1-N5]: dedup (exact / Jaccard / MinHash-LSH / SimHash),
similarity search (brute-force + LSH-bucketed), text analysis.

Everything here is oracle-checked — including MinHash, SimHash and
the banded sign-LSH ANN (deterministic integer-Rademacher planes).
MinHash signatures are universal-hash mixes over a 32-bit md5-prefix
shingle hash; DuckDB reproduces the exact integers from the same
(A, B) constants, and the LSH plane matrix from the same md5 parity.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import (
    MINHASH_AB,
    MINHASH_P,
    doc_shingles,
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
)
from ..operators.similarity import (
    cosine_neardup_pairs,
    cosine_neardup_pairs_bucketed,
    cosine_topk,
    gemm_cosine_topk,
    hard_negative_topk,
    lsh_bucketed_topk,
)
from ..operators.textops import (
    FINGERPRINT_SQL,
    SHINGLES_SQL,
    STOPWORDS,
    TOKENS_SQL,
    punct_ratio,
    quality_score,
    stopword_ratio,
    tokens,
)
from ..registry import register
from ..sources.readers import load_table

_TOKS = TOKENS_SQL.format(t="text")
_SH = SHINGLES_SQL.format(toks="toks")

# Hot-shingle document-frequency cap (mirrored in the Spark path via
# doc_shingles(max_df=MAX_DF)): shingles shared by more than MAX_DF
# docs carry no near-dup signal but cost df^2 in the pair join.
MAX_DF = 250

_SHINGLE_INDEX_SQL = f"""
toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN {_SH}
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks_t
),
ds0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
hot AS (SELECT shingle FROM ds0 GROUP BY 1 HAVING count(*) > {MAX_DF}),
ds AS (SELECT * FROM ds0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT id_a, id_b,
         n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
)"""


# -- N1: exact dedup via normalized fingerprint ----------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


register(
    "dedup_exact",
    q_dedup_exact,
    f"""
SELECT {FINGERPRINT_SQL.format(t="text")} AS fp,
       min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
""",
)


# -- N2: exact n-gram Jaccard near-dup pairs -------------------------------
def q_jaccard(
    spark: SparkSession, sf_dir: str, *, threshold: float = 0.35
) -> DataFrame:
    """Exact shingle-index Jaccard pairs at the drawn threshold —
    fuzz-injectable (tools/fuzz_oracles.py): both engines compute the
    same exact-integer intersection / union-size division in double,
    so the >= gate agrees at every drawn threshold, including pairs
    landing exactly on it."""
    return jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=threshold, max_df=MAX_DF
    )


def dedup_ngram_jaccard_sql(threshold: float = 0.35) -> str:
    return f"""
WITH {_SHINGLE_INDEX_SQL.strip()}
SELECT id_a, id_b, round(jaccard, 4) AS jaccard
FROM jac WHERE jaccard >= {threshold}
"""


register("dedup_ngram_jaccard", q_jaccard, dedup_ngram_jaccard_sql())


# -- N2: MinHash signatures + LSH candidate/verify -------------------------
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load_table(spark, sf_dir, "documents"), k=8)


# DuckDB twin of operators.dedup signatures: one 32-bit md5-prefix hash
# per shingle, then per-permutation universal-hash mins with the SAME
# (A, B) constants the Spark path uses.
_HS = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"


def _minhash_aggs_sql(k: int) -> str:
    return ",\n  ".join(
        f"min(({a} * (hs % {MINHASH_P}) + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_AB[:k])
    )


register(
    "dedup_minhash_signatures",
    q_minhash_sig,
    f"""
WITH toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN {_SH}
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks_t
),
ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds)
SELECT doc_id,
  {_minhash_aggs_sql(8)}
FROM ds_h GROUP BY doc_id
""",
)


def q_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH dedup under the full value-hash gate. The index
    geometry (k signature rows x band count, plus the verify
    threshold) is parameterized for the fuzzer (r11: the geometry
    sweep extended to the dedup family) — DuckDB rebuilds the same
    universal-hash permutations, band keys and exact-Jaccard verify
    at every drawn (k, bands, threshold)."""
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=threshold, k=k,
        bands=bands, max_df=MAX_DF,
    )


# Fixed 16x4 band columns for the incremental-index and estimator-error
# oracles (their geometry stays at the registered default; only
# dedup_minhash_lsh itself is geometry-fuzzed).
_BANDS = ",\n  ".join(
    "concat_ws('|', '%d', %s) AS band%d"
    % (b, ", ".join(f"h{b * 4 + r}" for r in range(4)), b)
    for b in range(4)
)


def _band_exprs_sql(k: int, bands: int) -> tuple[str, str]:
    """(band column SELECT list, band list for unnest) mirroring
    minhash_lsh_pairs_from_index's concat_ws('|', band_no, h...)."""
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    rows = k // bands
    cols = ",\n  ".join(
        "concat_ws('|', '%d', %s) AS band%d"
        % (b, ", ".join(f"h{b * rows + r}" for r in range(rows)), b)
        for b in range(bands)
    )
    return cols, ", ".join(f"band{b}" for b in range(bands))


def dedup_minhash_lsh_sql(threshold: float = 0.3, k: int = 16, bands: int = 4) -> str:
    band_cols, band_list = _band_exprs_sql(k, bands)
    return f"""
WITH {_SHINGLE_INDEX_SQL.strip()},
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
sig AS (
  SELECT doc_id,
  {_minhash_aggs_sql(k)}
  FROM ds_h GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
  {band_cols}
  FROM sig
),
melted AS (
  SELECT doc_id, unnest([{band_list}]) AS band_key FROM banded
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM melted a JOIN melted b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, round(j.jaccard, 4) AS jaccard
FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= {threshold}
"""


register("dedup_minhash_lsh", q_minhash_lsh, dedup_minhash_lsh_sql())


# -- N2: incremental LSH-index dedup maintenance ---------------------------
def q_minhash_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup maintenance — the daily-crawl shape: the
    MinHash index (operators/dedup.minhash_index) is PERSISTED state;
    a new increment (here the top 10% of doc ids — monotone ingest
    ids) appends its O(delta) signature rows, and candidate generation
    band-joins ONLY the delta against the full stored index — history
    x history pairs are never recomputed and history text is never
    re-shingled once indexed. The index round-trips through parquet so
    the persistence is real, not notional. Oracle: the one-shot LSH
    over the whole corpus restricted to delta-involving pairs (id_b in
    the delta, valid because ingest ids are monotone), so a candidate
    missed by the incremental join — or served from a stale index —
    breaks the hash."""
    import shutil
    import tempfile

    from ..operators.dedup import minhash_index, minhash_lsh_pairs_from_index

    docs = load_table(spark, sf_dir, "documents")
    cutoff = int(docs.agg(F.max("doc_id")).collect()[0][0] * 0.9)
    work = tempfile.mkdtemp(prefix="spark_graft_lshidx_")
    try:
        path = f"{work}/minhash_index"
        minhash_index(docs, k=16, max_df=MAX_DF).write.parquet(path)
        stored = spark.read.parquet(path)
        pairs = minhash_lsh_pairs_from_index(
            stored, threshold=0.3, k=16, bands=4,
            delta_filter=F.col("doc_id") >= cutoff,
        )
        return pairs.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "dedup_minhash_lsh_incremental",
    q_minhash_lsh_incremental,
    f"""
WITH {_SHINGLE_INDEX_SQL.strip()},
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
sig AS (
  SELECT doc_id,
  {_minhash_aggs_sql(16)}
  FROM ds_h GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
  {_BANDS}
  FROM sig
),
melted AS (
  SELECT doc_id, unnest([band0, band1, band2, band3]) AS band_key FROM banded
),
cutoff AS (SELECT CAST(floor(0.9 * max(doc_id)) AS BIGINT) AS c FROM documents),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM melted a JOIN melted b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
  WHERE b.doc_id >= (SELECT c FROM cutoff)
)
SELECT c.id_a, c.id_b, round(j.jaccard, 4) AS jaccard
FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= 0.3
""",
)


# -- N2: SimHash near-dup pairs --------------------------------------------
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


def _simhash_sql(bits: int = 32) -> str:
    votes = []
    for bit in range(bits):
        ch = f"substr(h, {1 + bit // 4}, 1)"
        val = f"(strpos('0123456789abcdef', {ch}) - 1)"
        bit_on = f"(({val} >> {3 - bit % 4}) & 1)"
        votes.append(f"sum(CASE WHEN {bit_on} = 1 THEN 1 ELSE -1 END) AS v{bit}")
    acc = " + ".join(
        f"CASE WHEN v{bit} > 0 THEN CAST({2**bit} AS BIGINT) ELSE 0 END"
        for bit in range(bits)
    )
    return f"""
toks_t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM toks_t),
hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
votes AS (
  SELECT doc_id, {", ".join(votes)}
  FROM hashed GROUP BY doc_id
),
sh AS (SELECT doc_id, {acc} AS simhash FROM votes)
"""


register(
    "dedup_simhash_pairs",
    q_simhash,
    f"""
WITH {_simhash_sql().strip()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)


# -- N4: text quality scoring ----------------------------------------------
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = F.size(toks).cast("long")
    avg_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        / n_tokens,
    ).otherwise(F.lit(0.0))
    quality = quality_score("text", toks)
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        # bround-scale, not round(x, 4): the composite quality double
        # lands on representation boundaries at corpus scale where the
        # two engines' round() implementations flip the last digit
        # (14 cells at sf0.1 — invisible at the smaller gates).
        (F.bround(avg_tok_len * 10000.0, 0) / 10000.0).alias("avg_tok_len"),
        (F.bround(stopword_ratio(toks) * 10000.0, 0) / 10000.0).alias("stop_ratio"),
        (F.bround(punct_ratio("text") * 10000.0, 0) / 10000.0).alias("punct_ratio"),
        (F.bround(quality * 10000.0, 0) / 10000.0).alias("quality"),
    )


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)
register(
    "text_quality_scores",
    q_text_quality,
    f"""
WITH t AS (
  SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents
),
m AS (
  SELECT doc_id, lang,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0
         THEN list_aggregate(list_transform(toks, x -> CAST(len(x) AS BIGINT)), 'sum') / CAST(len(toks) AS BIGINT)
         ELSE 0.0 END AS avg_tok_len,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, x -> x IN ({_STOP_IN}))) / len(toks)
         ELSE 0.0 END AS stop_ratio,
    CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / length(text)
         ELSE 0.0 END AS punct_ratio
  FROM t
)
SELECT doc_id, lang, n_chars, n_tokens,
  round_even(avg_tok_len * 10000.0, 0) / 10000.0 AS avg_tok_len,
  round_even(stop_ratio * 10000.0, 0) / 10000.0 AS stop_ratio,
  round_even(punct_ratio * 10000.0, 0) / 10000.0 AS punct_ratio,
  round_even((0.4 * least(1.0, n_tokens / 100.0)
        + 0.3 * (1 - stop_ratio) + 0.3 * (1 - punct_ratio)) * 10000.0, 0) / 10000.0 AS quality
FROM m
""",
)


# -- N4: language-ID heuristic ---------------------------------------------
_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
}


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scores = {
        lang: F.size(F.filter(toks, lambda x: x.isin(*marks)))
        for lang, marks in _LANG_MARKERS.items()
    }
    pred = F.lit("unknown")
    best = F.lit(0)
    # deterministic priority order on ties: first hit wins
    for lang in ("en", "es", "de", "fr"):
        cond = scores[lang] > best
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best = F.when(cond, scores[lang]).otherwise(best)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("agree"),
    )


def _lang_pred_sql() -> str:
    """DuckDB expression for the marker-argmax predicted language over
    a ``toks`` column — shared by the lang-ID oracle and the Cohen's
    kappa oracle (queries_mining)."""
    score = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in marks)})))"
        for lang, marks in _LANG_MARKERS.items()
    }
    pred, best = "'unknown'", "0"
    for lang in ("en", "es", "de", "fr"):
        pred = f"CASE WHEN {score[lang]} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN {score[lang]} > {best} THEN {score[lang]} ELSE {best} END"
    return pred


def _lang_sql() -> str:
    pred = _lang_pred_sql()
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
SELECT doc_id, lang AS labeled_lang,
       {pred} AS pred_lang,
       ({pred}) = lang AS agree
FROM t
"""


register("lang_id_heuristic", q_lang_id, _lang_sql())


# -- N3: brute-force cosine top-k ------------------------------------------
def q_ann_topk(spark: SparkSession, sf_dir: str, k: int = 10, nq: int = 5) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, F.col("vec_id") < nq, k=k)


def ann_cosine_topk_sql(k: int = 10, nq: int = 5) -> str:
    # k / nq parameterized for the geometry fuzzer (r10 verdict #5).
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {nq}
),
c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, cand_id,
    CASE WHEN sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)) != 0
         THEN list_inner_product(qv, cv)
              / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
         ELSE 0.0 END AS cos
  FROM c CROSS JOIN q WHERE cand_id != query_id
)
SELECT query_id, cand_id, round(cos, 6) AS cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= {k}
"""


register("ann_cosine_topk", q_ann_topk, ann_cosine_topk_sql())


# -- N1/N3: embedding-cosine near-duplicate pairs --------------------------
def q_cos_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine near-dup at a loose (0.35) threshold —
    the noise-floor regime no sublinear scheme can bucket (see
    cosine_neardup_pairs_bucketed's docstring), so all-pairs is the
    only correct plan and the operator itself guards the quadratic
    blowup: corpora above max_rows raise with a pointer to the banded
    scale path instead of launching an O(n^2) job."""
    return cosine_neardup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.35)


register(
    "embedding_cosine_neardup",
    q_cos_neardup,
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.35
""",
)


# -- N3 scale path: banded sign-LSH near-dup (oracle-checked) --------------
def q_cos_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed near-dup in its REAL regime: exact-direction duplicates.

    The natural corpus has no planted near-dups (measured max pairwise
    cos ~0.51 — pure noise floor), so the query constructs them
    deterministically: vectors with vec_id < 50 re-enter the corpus
    rescaled by 2 under vec_id + 10000. Rescaling preserves direction
    exactly (x2 is exact in IEEE), so each planted pair has cos = 1,
    identical hyperplane signs, and GUARANTEED band collision — recall
    is exactly 1.0, which is what makes this bucketed plan
    hash-checkable against the all-pairs DuckDB oracle. See
    cosine_neardup_pairs_bucketed's docstring for why a 0.35-threshold
    all-pairs result is NOT bucketable by any sublinear scheme."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    return cosine_neardup_pairs_bucketed(emb.unionByName(copies), threshold=0.999)


register(
    "embedding_cosine_neardup_bucketed",
    q_cos_neardup_bucketed,
    """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
copies AS (
  SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
  FROM base WHERE vec_id < 50
),
e AS (SELECT * FROM base UNION ALL SELECT * FROM copies)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_inner_product(a.v, b.v)
             / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_inner_product(a.v, b.v)
      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.999
""",
)


# -- N3 scale path: LSH-bucketed ANN ---------------------------------------
def q_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_planes: int = 24,
    bands: int = 12,
    nq: int = 5,
) -> DataFrame:
    """Banded sign-LSH ANN under the FULL value-hash oracle gate: the
    deterministic integer-Rademacher plane family (md5-seeded +/-1
    weights over 6dp-snapped BIGINT elements — exact integer sums, no
    cross-engine float accumulation) lets DuckDB rebuild the identical
    plane matrix, band keys, candidate set and exact re-rank, so this
    approximate-ALGORITHM query has a fully deterministic OUTPUT and a
    hash-checked oracle like every exact path (r5 verdict #3). The
    index geometry (n_planes, bands, k) is parameterized so the
    fuzzer re-proves the twin at other band shapes (r10 verdict #5)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(emb, F.col("vec_id") < nq, k=k, n_planes=n_planes, bands=bands)


def ann_lsh_bucketed_topk_sql(
    k: int = 10, n_planes: int = 24, bands: int = 12, nq: int = 5
) -> str:
    # DuckDB twin of _rademacher_int_projections + with_sign_band_keys:
    # same md5-parity weights, same 6dp BIGINT element snap (round_even
    # <-> np.round half-even; CAST rounds-to-nearest <-> np.rint on the
    # ~integer scaled value), same '<band>|<bits>' key format (r =
    # n_planes/bands bits per band), then the exact cosine re-rank of
    # ann_cosine_topk restricted to band-sharing candidates.
    if n_planes % bands != 0:
        raise ValueError(f"n_planes={n_planes} must be divisible by bands={bands}")
    r = n_planes // bands
    return f"""
WITH dims AS (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d),
planes AS (SELECT unnest(range(0, {n_planes})) AS p),
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
         CAST(floor(p / {r}) AS BIGINT) AS band,
         concat(CAST(floor(p / {r}) AS BIGINT), '|',
                string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                           ORDER BY p)) AS band_key
  FROM proj GROUP BY vec_id, floor(p / {r})
),
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
  FROM keys q JOIN keys c ON q.band_key = c.band_key
  WHERE q.vec_id < {nq} AND c.vec_id != q.vec_id
),
scored AS (
  SELECT query_id, cand_id,
    CASE WHEN sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v)) != 0
         THEN list_inner_product(qe.v, ce.v)
              / (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v)))
         ELSE 0.0 END AS cos
  FROM cands
  JOIN e qe ON qe.vec_id = query_id
  JOIN e ce ON ce.vec_id = cand_id
)
SELECT query_id, cand_id, round(cos, 6) AS cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= {k}
"""


register("ann_lsh_bucketed_topk", q_lsh_topk, ann_lsh_bucketed_topk_sql())


# -- N4: token counting (whitespace + BPE-ish regex) -----------------------
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tokenize import token_counts

    docs = load_table(spark, sf_dir, "documents")
    counts = token_counts("text")
    return docs.select("doc_id", *[v.alias(k) for k, v in counts.items()])


from ..operators.tokenize import BPE_ISH_PATTERN as _BPE_RAW  # noqa: E402

_BPE = _BPE_RAW.replace("'", "''")  # escape for the SQL string literal

register(
    "token_counts",
    q_token_counts,
    f"""
WITH t AS (
  SELECT doc_id, text,
         len(string_split_regex(trim(text), '\\s+')) AS nws,
         len(regexp_extract_all(text, '{_BPE}')) AS nbpe
  FROM documents
)
SELECT doc_id,
  CAST(nws AS BIGINT) AS n_ws_tokens,
  CAST(nbpe AS BIGINT) AS n_bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  round(CASE WHEN nbpe > 0 THEN length(text) / nbpe ELSE 0.0 END, 4) AS chars_per_tok
FROM t
""",
)


# -- N3 scale path: IVF-probed ANN (deterministic -> full oracle) ----------
def q_ivf_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, nprobe: int = 2, nq: int = 5
) -> DataFrame:
    """IVF ANN under the FULL value-hash oracle gate (r6 verdict #2):
    the label-derived coarse quantizer runs in exact snapped-integer
    arithmetic (6dp BIGINT grid, centroids = exact integer element
    sums — cosine is scale-invariant so ranking against the sum IS
    ranking against the mean, DECIMAL(38,0) dots, ONE double
    conversion at the end), so DuckDB rebuilds the identical index,
    cell assignment, nprobe shortlist and exact re-rank. nprobe / k
    parameterized for the geometry fuzzer (r10 verdict #5)."""
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, F.col("vec_id") < nq, k=k, nprobe=nprobe)


def ann_ivf_topk_sql(k: int = 10, nprobe: int = 2, nq: int = 5) -> str:
    # DuckDB twin of the integer-exact ivf_index + probe: same 6dp
    # BIGINT element snap, same exact HUGEINT dot/norm² sums with one
    # final double conversion (identical IEEE sqrt/divide), same
    # (sim DESC, label) tie-break, then the left-fold double cosine
    # re-rank of ann_cosine_topk restricted to the probed lists.
    return f"""
WITH dims AS (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d),
e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
el AS (
  SELECT vec_id, label, dims.d AS d,
         CAST(round(round_even(v[dims.d + 1], 6) * 1e6, 0) AS BIGINT) AS ei
  FROM e CROSS JOIN dims
),
csum AS (SELECT label, d, CAST(sum(ei) AS BIGINT) AS cs FROM el GROUP BY 1, 2),
cn AS (SELECT label, sum(CAST(cs AS HUGEINT) * CAST(cs AS HUGEINT)) AS cn2 FROM csum GROUP BY 1),
vn AS (SELECT vec_id, sum(CAST(ei AS HUGEINT) * CAST(ei AS HUGEINT)) AS vn2 FROM el GROUP BY 1),
vdot AS (
  SELECT el.vec_id, csum.label,
         sum(CAST(el.ei AS HUGEINT) * CAST(csum.cs AS HUGEINT)) AS dt
  FROM el JOIN csum ON el.d = csum.d
  GROUP BY 1, 2
),
sim AS (
  SELECT vec_id, label,
         CASE WHEN sqrt(CAST(vn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)) != 0
              THEN CAST(dt AS DOUBLE)
                   / (sqrt(CAST(vn2 AS DOUBLE)) * sqrt(CAST(cn2 AS DOUBLE)))
              ELSE 0.0 END AS s
  FROM vdot JOIN vn USING (vec_id) JOIN cn USING (label)
),
ranked AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, label) AS rk
  FROM sim
),
assign AS (SELECT vec_id AS cand_id, label AS cell FROM ranked WHERE rk = 1),
qcells AS (
  SELECT vec_id AS query_id, label AS cell FROM ranked
  WHERE vec_id < {nq} AND rk <= {nprobe}
),
cands AS (
  SELECT q.query_id, a.cand_id
  FROM qcells q JOIN assign a ON a.cell = q.cell
  WHERE a.cand_id != q.query_id
),
scored AS (
  SELECT query_id, cand_id,
    CASE WHEN sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v)) != 0
         THEN list_inner_product(qe.v, ce.v)
              / (sqrt(list_inner_product(qe.v, qe.v)) * sqrt(list_inner_product(ce.v, ce.v)))
         ELSE 0.0 END AS cos
  FROM cands
  JOIN e qe ON qe.vec_id = query_id
  JOIN e ce ON ce.vec_id = cand_id
)
SELECT query_id, cand_id, round(cos, 6) AS cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= {k}
"""


register("ann_ivf_topk", q_ivf_topk, ann_ivf_topk_sql())


def q_ivf_kmeans_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, nprobe: int = 3, nq: int = 5
) -> DataFrame:
    """IVF-ANN with a real (seeded MLlib KMeans) coarse quantizer,
    nprobe of 10 cells — run over the corpus plus k deterministic
    PLANTED near-neighbors per query (scaled copies: cos = 1, same
    nearest centroid as the query under any converged clustering) and
    folded into the tolerance-band contract (r9 verdict #3):
    (query_id, n_retrieved, planted_recall_ok >= (k-1)/k). Which
    NATURAL candidates make the probed cells is impl-defined and stays
    out of the hash; a mis-assigned inverted list or broken probe now
    fails the driver gate (RECALL.json planted min_recall 1.0 at
    nprobe=3, so the floor has slack). k / nprobe parameterized for
    the geometry fuzzer (r10 verdict #5); the raw-top-k operator
    (operators/similarity.ivf_kmeans_topk) is unchanged; noise-floor
    recall evidence lives in tools/recall.py."""
    from ..operators.similarity import (
        ivf_kmeans_topk,
        planted_neighbors_corpus,
        planted_recall_gate,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # nq threads through all three coupled sites (Spark filter, planted
    # corpus, oracle WHERE) like the sibling ANN queries — a single
    # source of truth so a fuzz draw can't desync them (r11 ADVICE).
    corpus = planted_neighbors_corpus(emb, n_queries=nq, k=k)
    topk = ivf_kmeans_topk(corpus, F.col("vec_id") < nq, k=k, nprobe=nprobe)
    return planted_recall_gate(topk, "query_id", k=k, floor=k - 1)


def ann_ivf_kmeans_topk_sql(k: int = 10, nprobe: int = 3, nq: int = 5) -> str:
    # nprobe intentionally unused: the recall contract must hold at
    # ANY probed width >= 1 (planted copies share the query's nearest
    # centroid) — the fuzz draws prove that invariance.
    return f"""
SELECT CAST(vec_id AS BIGINT) AS query_id,
       CAST({k} AS BIGINT) AS n_retrieved,
       TRUE AS planted_recall_ok
FROM embeddings WHERE vec_id < {nq} ORDER BY 1
"""


register("ann_ivf_kmeans_topk", q_ivf_kmeans_topk, ann_ivf_kmeans_topk_sql())


# -- N3 dimensionality reduction: distributed PCA --------------------------
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-4 PCA of the embedding corpus under a SIGN-FREE hash gate
    (r10 verdict #1b). DuckDB has no eigensolver, so instead of the
    sign/solver-dependent pc values the registered projection carries
    what an oracle CAN recompute or the math guarantees:

    - ``cnorm_sq`` — each vector's centered squared norm, formed from
      the SAME exact quantized-BIGINT moments the fit ran on
      (Σ_d (n·x_q − Sx_d)² as DECIMAL(38,0), one division at the end),
      so the oracle's HUGEINT recomputation is integer-identical —
      this value-checks the distributed moment pass itself;
    - ``trace_var`` — total variance from the exact integer diagonal
      moments (Python and SQL divide the same exact numerator);
    - ``bessel_ok`` — per vector, Σ_k pc_k² ≤ ‖x−μ‖² + ε (Bessel): a
      non-orthonormal or mis-scaled component matrix breaks it;
    - ``orthonormal_ok`` / ``spectrum_ok`` — driver-side numpy checks
      on C·Cᵀ≈I and λ₁≥…≥λ₄≥0 with Σλ ≤ trace, emitted as literals;
    - ``var_matches_spectrum`` — distributed var_samp(pc_k) agrees
      with the driver-side eigenvalue λ_k (rtol 2e-3): ties the
      projected data back to the spectrum without fixing signs.

    The pc values themselves stay pinned bit-exactly against a
    single-node numpy reference in tests/test_pca.py (sign convention:
    largest-|coeff| entry positive)."""
    import numpy as np

    from ..operators.pca import _quantized, pca_fit_full, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    comps, mean, evals, mom = pca_fit_full(emb, k=4)
    n, d = mom["n"], len(mom["sx"])

    gram = comps @ comps.T
    orthonormal_ok = bool(np.abs(gram - np.eye(comps.shape[0])).max() < 1e-9)
    tr_num = sum(n * mom["sxx_diag"][i] - mom["sx"][i] ** 2 for i in range(d))
    trace_raw = float(tr_num) / (float(n) * (n - 1) * 1e12)
    spectrum_ok = bool(
        all(float(evals[i]) >= float(evals[i + 1]) - 1e-12 for i in range(len(evals) - 1))
        and float(evals[-1]) >= -1e-9
        and float(np.sum(evals)) <= trace_raw + 1e-6
    )

    proj = pca_project(emb, comps, mean)
    sx_lit = F.array(*[F.lit(v).cast("long") for v in mom["sx"]])
    diffs = F.zip_with(_quantized("embedding"), sx_lit, lambda xq, sxd: F.lit(n) * xq - sxd)
    csum = F.aggregate(
        diffs,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, dv: acc + dv.cast("decimal(38,0)") * dv.cast("decimal(38,0)"),
    )
    cnorm = csum.cast("double") / F.lit(float(n) * n * 1e12)
    proj_sq = sum(F.col(f"pc{i}") * F.col(f"pc{i}") for i in range(1, 5))

    # distributed-vs-driver spectrum consistency: one 1-row aggregate,
    # broadcast back (the established 1-row crossJoin pattern)
    var_ok = None
    for i in range(1, 5):
        lam = float(evals[i - 1])
        c = F.abs(F.col(f"v{i}") - F.lit(lam)) <= F.lit(1e-6 + 2e-3 * lam)
        var_ok = c if var_ok is None else (var_ok & c)
    checks = proj.agg(
        *[F.var_samp(f"pc{i}").alias(f"v{i}") for i in range(1, 5)]
    ).select(var_ok.alias("var_matches_spectrum"))

    return (
        proj.select(
            "vec_id",
            "label",
            F.bround(cnorm, 4).alias("cnorm_sq"),
            (proj_sq <= cnorm + F.lit(1e-2)).alias("bessel_ok"),
            F.lit(round(trace_raw, 4)).alias("trace_var"),
            F.lit(orthonormal_ok).alias("orthonormal_ok"),
            F.lit(spectrum_ok).alias("spectrum_ok"),
        )
        .crossJoin(F.broadcast(checks))
    )


_PCA_CERT_ORACLE = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS qv
  FROM embeddings
),
nn AS (SELECT count(*) AS n FROM q),
ex AS (
  SELECT vec_id, label, unnest(qv) AS xq, generate_subscripts(qv, 1) AS d FROM q
),
stats AS (
  SELECT d, sum(xq) AS sx, sum(CAST(xq AS HUGEINT) * xq) AS sxx FROM ex GROUP BY d
),
tr AS (
  SELECT round_even(CAST(sum(n * sxx - CAST(sx AS HUGEINT) * sx) AS DOUBLE)
           / (CAST(n AS DOUBLE) * (n - 1) * 1e12), 4) AS trace_var
  FROM stats CROSS JOIN nn
  GROUP BY n
),
pv AS (
  SELECT vec_id, label,
         sum(CAST(n * xq - sx AS HUGEINT) * CAST(n * xq - sx AS HUGEINT)) AS csum,
         any_value(n) AS n
  FROM ex JOIN stats USING (d) CROSS JOIN nn
  GROUP BY vec_id, label
)
SELECT vec_id, label,
       round_even(CAST(csum AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 4) AS cnorm_sq,
       TRUE AS bessel_ok,
       (SELECT trace_var FROM tr) AS trace_var,
       TRUE AS orthonormal_ok,
       TRUE AS spectrum_ok,
       TRUE AS var_matches_spectrum
FROM pv
"""


register("embedding_pca_projection", q_embedding_pca, _PCA_CERT_ORACLE)


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang-ID heuristic against the labeled
    lang column — the evaluation a classifier-backed curation filter
    ships with: per (label, prediction) counts and the within-label
    share (row-normalized recall). Tiny double aggregate over the
    per-doc prediction frame."""
    from pyspark.sql import Window

    pred = q_lang_id(spark, sf_dir)
    cm = pred.groupBy(
        F.col("labeled_lang"), F.col("pred_lang")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("labeled_lang")
    return cm.select(
        "labeled_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("label_share"),
    )


register(
    "langid_confusion",
    q_langid_confusion,
    f"""
WITH pred AS ({_lang_sql().strip()})
SELECT labeled_lang, pred_lang, count(*) AS n,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY labeled_lang) AS DOUBLE), 6)
         AS label_share
FROM pred
GROUP BY 1, 2
""",
)


def q_embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (the 4x storage/bandwidth path for vector stores at 100 TB:
    scale = per-dim max|x|, q = clamp(round(x/scale*127))) with the
    per-vector reconstruction-error report that decides whether int8
    is acceptable for the retrieval stage. One posexplode feeds both
    the 64-row scale table and the error join; squared errors
    sum as scaled BIGINTs (order-independent); Spark round() and
    DuckDB round() agree at ties (both half-away-from-zero)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", F.posexplode("embedding").alias("d", "x"))
    scales = ex.groupBy("d").agg(F.max(F.abs(F.col("x"))).alias("s"))
    j = ex.join(F.broadcast(scales), "d")
    qv = F.greatest(
        F.lit(-127),
        F.least(F.lit(127), F.round(F.col("x") / F.col("s") * 127, 0)),
    )
    deq = qv * F.col("s") / 127
    err = F.when(F.col("s") > 0, F.abs(F.col("x") - deq)).otherwise(
        F.abs(F.col("x"))
    )
    return (
        j.select("vec_id", err.alias("err"))
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_dims"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
            F.round(
                F.sum(F.round(F.col("err") * F.col("err") * 1e12, 0).cast("long"))
                / F.count("*")
                / 1e12,
                9,
            ).alias("mse"),
        )
    )


register(
    "embedding_int8_quantization",
    q_embedding_int8_quantization,
    """
WITH ex AS (
  SELECT vec_id, i - 1 AS d, embedding[i] AS x
  FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
),
scales AS (SELECT d, max(abs(x)) AS s FROM ex GROUP BY d),
j AS (
  SELECT vec_id,
         CASE WHEN s > 0
              THEN abs(x - greatest(-127, least(127, round(x / s * 127, 0))) * s / 127)
              ELSE abs(x) END AS err
  FROM ex JOIN scales USING (d)
)
SELECT vec_id, count(*) AS n_dims,
       round(max(err), 6) AS max_abs_err,
       round(sum(CAST(round(err * err * 1e12, 0) AS BIGINT)) / CAST(count(*) AS DOUBLE) / 1e12, 9) AS mse
FROM j GROUP BY vec_id
""",
)


def q_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality diagnostic: |MinHash-estimated - exact| Jaccard
    over the verified LSH pairs (est = matching mins / k, exactly
    representable in 1/16ths). The number that justifies k=16 — if
    mean error drifted, the banding thresholds would be wrong. A
    diagnostic run, not a production path: it re-derives signatures
    beside the pair output (two corpus passes by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    # The capped pairs index and the UNCAPPED estimator signatures both
    # derive from the one shingle index. Neither the index nor the
    # signature frame both join sides read is checkpointed: each cut
    # measured slower than the re-reads (artifacts/checkpoint_ab.md).
    idx = doc_shingles(docs, hashed=True)
    pairs = minhash_lsh_pairs(
        docs, threshold=0.3, k=16, bands=4, max_df=MAX_DF, idx=idx
    )
    sig = minhash_signatures(docs, k=16, idx=idx)
    a = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(16)])
    b = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(16)])
    j = pairs.join(a, "id_a").join(b, "id_b")
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(16)
    )
    err = F.abs(matches / F.lit(16.0) - F.col("jaccard"))
    return j.select(err.alias("err")).agg(
        F.count("*").alias("n_pairs"),
        F.round(
            F.sum(F.round(F.col("err") * 1e6, 0).cast("long")) / F.count("*") / 1e6, 6
        ).alias("mean_abs_err"),
        F.round(F.max("err"), 6).alias("max_abs_err"),
    )


_EST_SQL = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(16)
)

register(
    "minhash_estimator_error",
    q_minhash_estimator_error,
    f"""
WITH {_SHINGLE_INDEX_SQL.strip()},
ds_h AS (SELECT doc_id, {_HS} AS hs FROM ds),
sig AS (
  SELECT doc_id,
  {_minhash_aggs_sql(16)}
  FROM ds_h GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
  {_BANDS}
  FROM sig
),
melted AS (
  SELECT doc_id, unnest([band0, band1, band2, band3]) AS band_key FROM banded
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM melted a JOIN melted b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b, round(j.jaccard, 4) AS jaccard
  FROM cands c JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
  WHERE j.jaccard >= 0.3
),
errs AS (
  SELECT abs(({_EST_SQL}) / 16.0 - v.jaccard) AS err
  FROM verified v
  JOIN sig sa ON sa.doc_id = v.id_a
  JOIN sig sb ON sb.doc_id = v.id_b
)
SELECT count(*) AS n_pairs,
       round(sum(CAST(round(err * 1e6, 0) AS BIGINT)) / CAST(count(*) AS DOUBLE) / 1e6, 6)
         AS mean_abs_err,
       round(max(err), 6) AS max_abs_err
FROM errs
""",
)


# -- N3 vectorized exact twin: GEMM brute-force top-k ----------------------
def q_ann_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 neighbors via the BLAS-blocked mapInPandas kernel —
    same neighbor sets as ann_cosine_topk, proving the vectorized
    batch-matmul path (the throughput shape for wide-embedding corpora)
    against an independent all-pairs SQL oracle that ranks on the same
    rounded score."""
    emb = load_table(spark, sf_dir, "embeddings")
    return gemm_cosine_topk(emb, F.col("vec_id") < 5, k=10)


register(
    "ann_gemm_topk",
    q_ann_gemm_topk,
    """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, cand_id,
    -- round_even, not round: the Spark side is np.round (half-even);
    -- a cosine landing exactly on a 6dp tie must round the same way
    -- in both engines or the rank order diverges
    round_even(CASE WHEN sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)) != 0
               THEN list_inner_product(qv, cv)
                    / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
               ELSE 0.0 END, 6) AS cos
  FROM c CROSS JOIN q WHERE cand_id != query_id
)
SELECT query_id, cand_id, cos, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rk
  FROM scored
) WHERE rk <= 10
""",
)


# -- N3 extension: hard-negative mining for contrastive training ----------
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair generation: for a deterministic anchor sample
    (vec_id % 25 == 0), the 5 nearest-by-cosine vectors with a
    DIFFERENT label — the hard negatives an embedding model trains
    against. Runs on the blocked-GEMM kernel with same-label masking
    (no candidate shuffle); both engines rank on the ROUNDED cosine
    (GEMM vs fold accumulation order), negative_id breaks ties."""
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, F.col("vec_id") % 25 == 0, k=5)


register(
    "hard_negative_mining",
    q_hard_negative_mining,
    """
WITH q AS (
  SELECT vec_id AS anchor_id, label AS anchor_label,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id % 25 = 0
),
c AS (
  SELECT vec_id AS negative_id, label AS negative_label,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT anchor_id, anchor_label, negative_id, negative_label,
    -- round_even, not round: the Spark side is np.round (half-even);
    -- a cosine landing exactly on a 6dp tie must round the same way
    -- in both engines or the rank order diverges
    round_even(CASE WHEN sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)) != 0
               THEN list_inner_product(qv, cv)
                    / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv)))
               ELSE 0.0 END, 6) AS cos
  FROM c CROSS JOIN q WHERE negative_label != anchor_label
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cos, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cos DESC, negative_id) AS rk
  FROM scored
) WHERE rk <= 5
""",
)


# -- Embedding QA: norm distribution + robust outlier flags ----------------
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table QA: per label, the L2-norm median, MAD, and how
    many vectors sit more than 3 MADs from the median — the standard
    robust screen for collapsed / exploded vectors before training.

    Parity mechanics: the squared norm is an exact scaled-BIGINT sum
    (each e**2 rounded at 1e-9 — non-negative, so HALF_UP == half-away)
    making it independent of fold/accumulation order; norms are rounded
    to 6dp BEFORE the medians, and each median/MAD is itself rounded to
    6dp before reuse so the interpolation formula (lerp vs midpoint)
    can't leak engine-specific last-ulp differences into the 3-MAD
    comparison. The norms frame feeds three aggregates."""
    emb = load_table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda e: F.round(e.cast("double") * e.cast("double") * 1e9, 0).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norms = emb.select("label", F.round(F.sqrt(sumsq / 1e9), 6).alias("nrm"))
    med = norms.groupBy("label").agg(
        F.round(F.percentile("nrm", F.lit(0.5)), 6).alias("med")
    )
    dev = norms.join(F.broadcast(med), "label").withColumn(
        "dv", F.abs(F.col("nrm") - F.col("med"))
    )
    mad = dev.groupBy("label").agg(
        F.round(F.percentile("dv", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.first("med").alias("median_norm"),
            F.first("mad").alias("mad"),
            F.sum((F.col("dv") > 3 * F.col("mad")).cast("long")).alias("n_outliers"),
        )
        .orderBy("label")
    )


register(
    "embedding_norm_outliers",
    q_embedding_norm_outliers,
    """
WITH norms AS (
  SELECT label,
         round(sqrt(CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                      e -> CAST(round(e * e * 1e9, 0) AS BIGINT))) AS BIGINT) / 1e9),
               6) AS nrm
  FROM embeddings
),
med AS (
  SELECT label, round(quantile_cont(nrm, 0.5), 6) AS med FROM norms GROUP BY label
),
dev AS (
  SELECT n.label, n.nrm, m.med, abs(n.nrm - m.med) AS dv
  FROM norms n JOIN med m USING (label)
),
mad AS (
  SELECT label, round(quantile_cont(dv, 0.5), 6) AS mad FROM dev GROUP BY label
)
SELECT d.label,
       CAST(count(*) AS BIGINT) AS n,
       any_value(d.med) AS median_norm,
       any_value(a.mad) AS mad,
       CAST(sum(CASE WHEN d.dv > 3 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a USING (label)
GROUP BY d.label
ORDER BY d.label
""",
)


# -- BPE-style vocabulary induction: adjacent-pair counting ----------------
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-selection round at corpus scale: lowercase word
    stream -> adjacent character-pair counts -> top-50 merge
    candidates. The whole round is native expressions (split, explode,
    substr over a sequence) — one scan, one aggregation shuffle on the
    pair key (bounded key space: <= 26^2 for a-z), then a global
    TakeOrdered for the merge table. Iterating merges re-runs this
    with the previous round's vocab applied; the per-round plan shape
    is identical, so the 100 TB posture is this query's."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(50)
    )


register(
    "bpe_pair_counts",
    q_bpe_pair_counts,
    """
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents
),
w2 AS (SELECT w FROM words WHERE length(w) >= 2),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM w2
)
SELECT pair, COUNT(*) AS cnt
FROM pairs GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 50
""",
)


# -- N2: lossless prefix-filter set-similarity join ------------------------
def q_setsim_prefix(
    spark: SparkSession, sf_dir: str, *, threshold: float = 0.5
) -> DataFrame:
    """PPJoin-style prefix filtering over the same capped shingle
    index as dedup_ngram_jaccard. The oracle is the ALL-PAIRS Jaccard
    SQL — prefix filtering is lossless, so a hash match here PROVES
    the pruning drops no qualifying pair. Threshold is fuzz-injectable
    (tools/fuzz_oracles.py): the prefix length ceil() arithmetic is a
    function of t, so every drawn threshold re-proves losslessness at
    a different prefix geometry, not just t=0.5."""
    from ..operators.dedup import setsim_prefix_pairs

    return setsim_prefix_pairs(
        load_table(spark, sf_dir, "documents"), threshold=threshold, max_df=MAX_DF
    )


register("dedup_setsim_prefix", q_setsim_prefix, dedup_ngram_jaccard_sql(0.5))


# -- N2: directed containment pairs (quote/excerpt detection) --------------
def q_containment(
    spark: SparkSession, sf_dir: str, *, threshold: float = 0.6
) -> DataFrame:
    """Containment over the capped shingle index — catches
    excerpt/boilerplate inclusion that symmetric Jaccard misses. The
    corpus has no planted excerpts, so the query constructs them
    deterministically: for doc_id < 40, the doc's first 200 characters
    re-enter the corpus as a new doc under doc_id + 20000 — a true
    excerpt whose shingles are (near-)subsets of the source's.
    Threshold is fuzz-injectable (tools/fuzz_oracles.py)."""
    from ..operators.dedup import containment_pairs_directed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    return containment_pairs_directed(
        docs.unionByName(excerpts), threshold=threshold, max_df=MAX_DF
    )


def dedup_containment_pairs_sql(threshold: float = 0.6) -> str:
    return f"""
WITH docs2 AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, substr(text, 1, 200) AS text
  FROM documents WHERE doc_id < 40
),
toks_t AS (SELECT doc_id, {{toks}} AS toks FROM docs2),
shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN {{sh}}
              ELSE CAST([] AS VARCHAR[]) END AS shingles
  FROM toks_t
),
ds0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
hot AS (SELECT shingle FROM ds0 GROUP BY 1 HAVING count(*) > {{max_df}}),
ds AS (SELECT * FROM ds0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_inter / sa.n_sh, 4) AS containment_ab,
       round(n_inter / sb.n_sh, 4) AS containment_ba
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE sa.n_sh >= 5 AND sb.n_sh >= 5
  AND (n_inter / sa.n_sh >= {threshold} OR n_inter / sb.n_sh >= {threshold})
""".format(toks=_TOKS, sh=_SH, max_df=MAX_DF)


register(
    "dedup_containment_pairs",
    q_containment,
    dedup_containment_pairs_sql(),
)


# -- Dedup threshold calibration: Jaccard histogram sweep ------------------
def q_dedup_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning evidence for the dedup family: the full
    Jaccard histogram over every candidate pair the inverted shingle
    index produces (>= 1 shared shingle, hot-shingle df cap), in 0.1
    buckets, with the cumulative pair count at or above each bucket
    edge — the curve an operator reads before picking 0.35 vs 0.5
    for a new corpus. One index pass (same plan as
    dedup_ngram_jaccard at threshold ~0); the histogram and its
    cumulative tail run on a <= 10-row frame (triangular join, no
    single-partition window)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.0001, max_df=MAX_DF)
    bucket = F.least(F.floor(F.col("jaccard") * 10).cast("long"), F.lit(9))
    hist = (
        pairs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
        .localCheckpoint(eager=True)
    )
    prev = hist.select(
        F.col("bucket").alias("p_bucket"), F.col("n_pairs").alias("p_n")
    )
    return (
        hist.join(F.broadcast(prev), F.col("p_bucket") >= F.col("bucket"))
        .groupBy("bucket", "n_pairs")
        .agg(F.sum("p_n").alias("n_pairs_at_or_above"))
        .select(
            F.round(F.col("bucket") / 10.0, 1).alias("jaccard_floor"),
            "n_pairs",
            "n_pairs_at_or_above",
        )
        .orderBy("jaccard_floor")
    )


register(
    "dedup_jaccard_threshold_sweep",
    q_dedup_jaccard_threshold_sweep,
    f"""
WITH {_SHINGLE_INDEX_SQL.strip()},
b AS (
  -- bucket the SAME representation the Spark side exposes: the
  -- 4dp-rounded jaccard (jaccard_pairs returns round(j, 4); positive
  -- values make HALF_UP == half-away, so round() pairs exactly) — a
  -- raw-jaccard bucket would land large-union pairs in [b/10 - 5e-5,
  -- b/10) one bucket lower than Spark
  SELECT least(CAST(floor(round(jaccard, 4) * 10) AS BIGINT), 9) AS bucket
  FROM jac WHERE jaccard >= 0.0001
),
hist AS (SELECT bucket, count(*) AS n_pairs FROM b GROUP BY 1)
SELECT round(h.bucket / 10.0, 1) AS jaccard_floor,
       CAST(h.n_pairs AS BIGINT) AS n_pairs,
       CAST(sum(p.n_pairs) AS BIGINT) AS n_pairs_at_or_above
FROM hist h JOIN hist p ON p.bucket >= h.bucket
GROUP BY h.bucket, h.n_pairs
ORDER BY jaccard_floor
""",
)


# -- N1/N3: SemDedup-style signature dedup (keep one per sign bucket) ------
def q_semantic_dedup_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-shaped semantic dedup: every vector gets a 10-bit
    hyperplane sign SIGNATURE (the deterministic integer-Rademacher
    family — md5-parity +/-1 planes over 6dp-snapped BIGINT elements,
    the same SQL-reproducible construction the hash-green LSH ANN
    uses); vectors sharing the full signature form a semantic cluster
    and the min-id member survives. Exact-direction duplicates (the
    planted x2 rescales, cos = 1) share every plane sign BY
    CONSTRUCTION, so each planted copy lands in its original's cluster
    and is dropped deterministically.

    This is the corpus-scale shape of SemDedup (Abbas et al. 2023 —
    cluster embeddings, keep one per cluster): ONE ArrowEvalPython
    projection pass, one group-by on a 12-char key. No pairwise
    similarity is ever computed — at 100 TB the signature group-by is
    a single shuffle on tiny keys, and cluster granularity tunes by
    plane count (10 planes -> ~1024 buckets here).
    """
    from ..operators.similarity import with_sign_band_keys

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    copies = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    keyed = with_sign_band_keys(
        emb.unionByName(copies), "embedding", n_planes=10, bands=1, int_exact=True
    )
    return keyed.groupBy(F.col("bk0").alias("signature")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("vec_id").alias("survivor_id"),
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_dropped"),
    )


register(
    "semantic_dedup_signature",
    q_semantic_dedup_signature,
    """
WITH dims AS (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d),
planes AS (SELECT unnest(range(0, 10)) AS p),
w AS (
  SELECT p, d,
         CASE WHEN CAST(('0x' || substr(md5('lshw:' || p || ':' || d), 1, 8))
                   AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS wt
  FROM planes CROSS JOIN dims
),
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
copies AS (
  SELECT vec_id + 10000 AS vec_id, list_transform(v, x -> x * 2.0) AS v
  FROM base WHERE vec_id < 50
),
e AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
el AS (
  SELECT vec_id, dims.d AS d,
         CAST(round_even(v[dims.d + 1], 6) * 1e6 AS BIGINT) AS ei
  FROM e CROSS JOIN dims
),
proj AS (
  SELECT vec_id, p, sum(ei * wt) AS s
  FROM el JOIN w USING (d) GROUP BY 1, 2
),
sig AS (
  SELECT vec_id,
         concat('0|', string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, ''
                                 ORDER BY p)) AS signature
  FROM proj GROUP BY vec_id
)
SELECT signature, count(*) AS cluster_size, min(vec_id) AS survivor_id,
       count(*) - 1 AS n_dropped
FROM sig GROUP BY signature
""",
)


# -- N3: deterministic Lloyd k-means under the full hash gate --------------
def q_kmeans_lite_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=8) over the embedding corpus
    with EXACT integer arithmetic end to end — the hash-checkable twin
    of the rows-only IVF-kmeans path, putting an ITERATIVE ML
    algorithm under the value-hash oracle gate.

    Determinism recipe: elements snap to 6dp-scaled BIGINTs (the LSH
    family's snap); seeds are vec_id 0..7; distances are integer sums
    of squared diffs (max 64 * (2e6)^2 = 2.6e14, far inside int64)
    with (dist, cell) argmin tiebreak; centroid updates use exact
    integer FLOOR division ((s - pmod(s, n)) / n — truncation vs
    floor-division drift on negatives is the trap this dodges), so
    every iteration's state is bit-identical on both engines under any
    partitioning.

    Scale shape: the element table is (n x 64) long-format rows; each
    assignment is a broadcast join against k centroids + a group-by —
    Lloyd's exact map-reduce form. localCheckpoints cut the
    iteration-chain replan (the 2^k upstream-replan trap).

    Output: per final cell — member count and exact integer inertia
    vs the iteration-1 centroids the assignment used.
    """
    K = 8
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    par = spark.sparkContext.defaultParallelism
    el = (
        emb.repartition(par, "vec_id")
        .select("vec_id", F.posexplode("embedding").alias("d", "val"))
        .select(
            "vec_id",
            "d",
            F.round(F.bround(F.col("val").cast("double"), 6) * 1e6, 0)
            .cast("long")
            .alias("ei"),
        )
        .localCheckpoint(eager=True)
    )

    def assign(cents: DataFrame) -> DataFrame:
        dist = (
            el.join(F.broadcast(cents), "d")
            .groupBy("vec_id", "cell")
            .agg(
                F.sum(
                    (F.col("ei") - F.col("ce")) * (F.col("ei") - F.col("ce"))
                ).alias("dist")
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist", "cell")
        return (
            dist.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cell", "dist")
        )

    def update(asg: DataFrame) -> DataFrame:
        s = (
            el.join(asg.select("vec_id", "cell"), "vec_id")
            .groupBy("cell", "d")
            .agg(F.sum("ei").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        return s.select(
            "cell",
            "d",
            ((F.col("s") - F.pmod(F.col("s"), F.col("n"))) / F.col("n"))
            .cast("long")
            .alias("ce"),
        )

    c0 = el.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cell"), "d", F.col("ei").alias("ce")
    )
    a1 = assign(c0).localCheckpoint(eager=True)
    c1 = update(a1).localCheckpoint(eager=True)
    a2 = assign(c1)
    return (
        a2.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("dist").alias("inertia"))
        .orderBy("cell")
    )


_KMEANS_EL = """
el AS (
  SELECT vec_id, d,
         CAST(round_even(CAST(embedding AS DOUBLE[])[d + 1], 6) * 1e6 AS BIGINT)
           AS ei
  FROM embeddings CROSS JOIN (SELECT unnest(range(0, (SELECT len(CAST(embedding AS DOUBLE[])) FROM embeddings LIMIT 1))) AS d) dims
)
"""

_KMEANS_ASSIGN = """
{out} AS (
  SELECT vec_id, cell, dist FROM (
    SELECT e.vec_id, c.cell,
           sum((e.ei - c.ce) * (e.ei - c.ce)) AS dist,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY sum((e.ei - c.ce) * (e.ei - c.ce)), c.cell)
             AS rk
    FROM el e JOIN {cents} c ON e.d = c.d
    GROUP BY e.vec_id, c.cell
  ) WHERE rk = 1
)
"""

_KMEANS_UPDATE = """
{out} AS (
  SELECT cell, d,
         CAST((sum(ei) - ((sum(ei) % count(*)) + count(*)) % count(*))
              / count(*) AS BIGINT) AS ce
  FROM el e JOIN {asg} a USING (vec_id)
  GROUP BY cell, d
)
"""

register(
    "kmeans_lite_clusters",
    q_kmeans_lite_clusters,
    f"""
WITH {_KMEANS_EL.strip()},
c0 AS (SELECT vec_id AS cell, d, ei AS ce FROM el WHERE vec_id < 8),
{_KMEANS_ASSIGN.strip().format(out='a1', cents='c0')},
{_KMEANS_UPDATE.strip().format(out='c1', asg='a1')},
{_KMEANS_ASSIGN.strip().format(out='a2', cents='c1')}
SELECT cell, count(*) AS n_members, CAST(sum(dist) AS BIGINT) AS inertia
FROM a2 GROUP BY cell ORDER BY cell
""",
)
