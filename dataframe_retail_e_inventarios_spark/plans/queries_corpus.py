"""Corpus-level statistics [SURVEY §2.11 N4 extensions]: the profiling
numbers a pre-training data report leads with — vocabulary frequency
profile (Zipf), its log-log slope, and the duplicated-n-gram mass
(memorization-risk proxy from the dedup literature: what fraction of
5-gram OCCURRENCES are repeats of an already-seen 5-gram).

Scale posture: every query is one tokenize scan plus hash-keyed
aggregation. The n-gram pass groups on a 32-bit md5 prefix of the gram
(operators/dedup.shingle_hash32) so the shuffle carries 8-byte keys,
never gram strings; the Zipf top-k is sort+limit
(TakeOrderedAndProject) with ranking applied to the tiny top-k result,
not a global single-partition window.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators.dedup import shingle_hash32
from ..operators.textops import tokens
from ..registry import register
from ..sources.readers import load_table

_TOP_N = 100
_TOKS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )


def _zipf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N terms by frequency with a deterministic (freq desc, term)
    tie order. sort+limit so the heavy side stays a distributed top-k;
    the row_number window runs on the N surviving rows only."""
    top = (
        _term_counts(spark, sf_dir)
        .orderBy(F.col("freq").desc(), "term")
        .limit(_TOP_N)
    )
    # rank over the LIMIT-bounded survivors via the constant-key
    # bounded window (non-empty partition spec — no WindowExec
    # warning; one ≤_TOP_N-row task). The r6 with_global_rank rewrite
    # here was machinery misapplied to a bounded frame: its four-job
    # range-partition chain has ~0.6 s fixed scheduler overhead that
    # DOUBLED this query's wall (0.34→0.61 s, the r6 bench's only
    # >1.25× regression) while ranking rows the TakeOrderedAndProject
    # had already bounded to a constant.
    from ..operators.distributed_rank import bounded_rank

    return bounded_rank(
        top, [F.col("freq").desc(), F.col("term").asc()], rank_col="rank"
    ).select("rank", "term", "freq")


def q_zipf_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _zipf_topk(spark, sf_dir)
    return t.select(
        "rank",
        "term",
        "freq",
        F.round(F.log(F.col("rank")), 6).alias("ln_rank"),
        F.round(F.log(F.col("freq")), 6).alias("ln_freq"),
    )


_ZIPF_TOP_SQL = f"""
  SELECT CAST(row_number() OVER (ORDER BY freq DESC, term) AS BIGINT) AS rank,
         term, freq
  FROM (
    SELECT term, count(*) AS freq
    FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
    WHERE term != '' GROUP BY term
  )
  ORDER BY freq DESC, term LIMIT {_TOP_N}
"""

register(
    "zipf_vocab_topk",
    q_zipf_vocab_topk,
    f"""
WITH top AS ({_ZIPF_TOP_SQL})
SELECT rank, term, freq,
       round(ln(rank), 6) AS ln_rank,
       round(ln(freq), 6) AS ln_freq
FROM top
""",
)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS slope/intercept of ln(freq) on ln(rank) over the top-100
    terms — the classic Zipf exponent check (slope near -1 for natural
    text). Parity recipe from ols_demand_trend: each ln is rounded to
    6 dp and scaled to an exact BIGINT, so the regression moments are
    integer sums (deterministic under any aggregation order); only the
    final closed-form division is floating point."""
    t = _zipf_topk(spark, sf_dir)
    x = F.round(F.log(F.col("rank")) * 1e6, 0).cast("long")
    y = F.round(F.log(F.col("freq")) * 1e6, 0).cast("long")
    m = t.select(x.alias("x"), y.alias("y")).agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n") / 1e6
    return m.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


register(
    "zipf_slope",
    q_zipf_slope,
    f"""
WITH top AS ({_ZIPF_TOP_SQL}),
m AS (
  SELECT count(*) AS n,
         sum(CAST(round(ln(rank) * 1e6, 0) AS BIGINT)) AS sx,
         sum(CAST(round(ln(freq) * 1e6, 0) AS BIGINT)) AS sy,
         sum(CAST(round(ln(rank) * 1e6, 0) AS BIGINT)
             * CAST(round(ln(freq) * 1e6, 0) AS BIGINT)) AS sxy,
         sum(CAST(round(ln(rank) * 1e6, 0) AS BIGINT)
             * CAST(round(ln(rank) * 1e6, 0) AS BIGINT)) AS sxx
  FROM top
)
SELECT n AS n_terms,
       round((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
         AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
             / n / 1e6, 6) AS zipf_intercept
FROM m
""",
)


# Modular polynomial gram-hash parameters: gram hash = Horner fold of
# the per-token 32-bit hashes, (acc * K + h) mod M at every step. ONE
# md5 per token total (vs one per gram position — a 5x md5 saving for
# 5-grams, 2x for bigrams), pure BIGINT arithmetic after that, and the
# identical fold runs in the DuckDB oracle. M = 2^31-1 keeps every
# intermediate product < 2^63; the hash regime stays 31-bit like
# shingle_hash32, with the same (documented) birthday statistics —
# deterministic and engine-identical, so collisions cannot cause an
# oracle mismatch.
_MIX_K = 1_000_003
_MIX_M = 2_147_483_647


def _token_hashes(toks: F.Column) -> F.Column:
    return F.transform(toks, lambda t: shingle_hash32(t))


def _gram_mix(hs: F.Column, i: F.Column, n: int) -> F.Column:
    acc = F.element_at(hs, i)
    for j in range(1, n):
        acc = (acc % _MIX_M * _MIX_K + F.element_at(hs, i + j)) % _MIX_M
    return acc


def _gram_mix_sql(hs: str, i: str, n: int) -> str:
    acc = f"{hs}[{i}]"
    for j in range(1, n):
        acc = f"(({acc}) % {_MIX_M} * {_MIX_K} + {hs}[{i}+{j}]) % {_MIX_M}"
    return acc


def q_duplicate_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplicated-5-gram mass: of all word-5-gram occurrences,
    how many are occurrences of a gram seen more than once? Grams are
    NOT per-doc deduped (occurrence statistics, unlike the shingle
    index) and reduce to a 31-bit Horner mix of per-token hashes
    before the shuffle — one md5 per TOKEN, 8-byte group keys, and the
    docs are repartitioned ahead of the generate stage so gram
    generation parallelizes even when the source is one small file
    (measured 11.6 s -> sub-second at sf0.1 from these two changes)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    hashed = docs.select(_token_hashes(tokens("text")).alias("hs"))
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - 4)
    grams = F.when(
        F.size(hcol) >= 5,
        F.transform(idx, lambda i: _gram_mix(hcol, i, 5)),
    ).otherwise(F.array().cast("array<bigint>"))
    per_gram = (
        hashed.select(F.explode(grams).alias("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("cnt"))
    )
    return per_gram.agg(
        F.sum("cnt").alias("total_ngrams"),
        F.count("*").alias("distinct_ngrams"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))).alias(
            "dup_occurrences"
        ),
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
            / F.sum("cnt"),
            6,
        ).alias("dup_fraction"),
    )


register(
    "duplicate_ngram_fraction",
    q_duplicate_ngram_fraction,
    f"""
WITH t AS (
  SELECT list_transform({_TOKS_SQL},
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
g AS (
  SELECT gh
  FROM t, LATERAL unnest(
    list_transform(range(1, len(hs) - 3), i -> {_gram_mix_sql('hs', 'i', 5)})
  ) AS u(gh)
  WHERE len(hs) >= 5
),
c AS (SELECT gh, count(*) AS cnt FROM g GROUP BY gh)
SELECT CAST(sum(cnt) AS BIGINT) AS total_ngrams,
       count(*) AS distinct_ngrams,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
         AS dup_occurrences,
       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) / CAST(sum(cnt) AS DOUBLE), 6)
         AS dup_fraction
FROM c
""",
)


def q_passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level (sub-document) duplication: chunk every doc into
    NON-overlapping 64-token passages (stride == chunk — overlapping
    windows would self-duplicate), fingerprint each passage, and report
    per-doc how much of it also appears in ANOTHER doc. This is the
    signal whole-doc dedup misses: partially-copied documents. The
    passage join is keyed on the 32-bit fingerprint (8-byte shuffle
    keys); passage text never shuffles."""
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk=64, stride=64).select(
        "doc_id", shingle_hash32("chunk_text").alias("gh")
        # 16-byte rows; materialized so the fingerprint stats and the
        # per-doc join share ONE tokenize+chunk pass (2 scans before)
    ).localCheckpoint(eager=True)
    fp_stats = ch.groupBy("gh").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        ch.join(fp_stats, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_shared"),
            F.round(
                F.sum((F.col("nd") > 1).cast("long")) / F.count("*"), 6
            ).alias("shared_frac"),
        )
    )


register(
    "passage_dedup_stats",
    q_passage_dedup_stats,
    """
WITH toks_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM toks_t WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, n, unnest(range(1, n + 1, 64)) AS s FROM nz
),
ch AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, s, s + 63), ' ')), 1, 8))
              AS BIGINT) AS gh
  FROM starts
  WHERE s = 1 OR s - 64 + 63 < n
),
fs AS (SELECT gh, count(DISTINCT doc_id) AS nd FROM ch GROUP BY gh)
SELECT doc_id, count(*) AS n_passages,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
         AS shared_frac
FROM ch JOIN fs USING (gh)
GROUP BY doc_id
""",
)


def q_bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM fluency score per document (the
    CCNet-style perplexity-proxy quality filter, with the n-gram LM
    trained on the corpus itself): score = mean over bigram positions
    of -ln p(w2|w1), Laplace-smoothed, lower = more fluent.

    Scale shape: ONE tokenize pass feeds both the model build (bigram +
    unigram count tables) and the scoring join; both joins are keyed on
    32-bit md5-prefix hashes, so no token text crosses an exchange.
    Hot heads ("the") skew the unigram join — AQE's skew split covers
    it (tests/test_partitioning). Parity: each -ln p is rounded to 6dp
    and scaled to BIGINT before the per-doc mean, so the aggregate is
    order-independent on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    clean = F.filter(tokens("text"), lambda x: x != "")
    hashed = docs.select(
        "doc_id", _token_hashes(clean).alias("hs")
    ).localCheckpoint()  # one tokenize+hash pass feeds all three consumers
    hcol = F.col("hs")
    pos = F.sequence(F.lit(1), F.size(hcol) - 1)
    pairs = F.when(
        F.size(hcol) >= 2,
        F.transform(
            pos,
            lambda i: F.struct(
                F.element_at(hcol, i).alias("h1"),
                _gram_mix(hcol, i, 2).alias("h2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h1:bigint,h2:bigint>>"))
    exploded = hashed.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.h1").alias("h1"), F.col("p.h2").alias("h2")
    )
    bigram_counts = exploded.groupBy("h2").agg(F.count("*").alias("c12"))
    unigram_counts = (
        hashed.select(F.explode(hcol).alias("h1"))
        .groupBy("h1")
        .agg(F.count("*").alias("c1"))
    )
    vocab = unigram_counts.agg(F.count("*").alias("v"))
    scored = (
        exploded.join(bigram_counts, "h2")
        .join(unigram_counts, "h1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v"))) * 1e6, 0
            )
            .cast("long")
            .alias("nlp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("nlp") / F.count("*") / 1e6, 6).alias("avg_neg_logprob"),
    )


register(
    "bigram_logprob_scores",
    q_bigram_logprob_scores,
    f"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter({_TOKS_SQL}, x -> x != ''),
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
ex AS (
  SELECT doc_id, hs[i] AS h1, {_gram_mix_sql('hs', 'i', 2)} AS h2
  FROM t, LATERAL unnest(range(1, len(hs))) AS r(i)
  WHERE len(hs) >= 2
),
bc AS (SELECT h2, count(*) AS c12 FROM ex GROUP BY h2),
uc AS (
  SELECT h1, count(*) AS c1
  FROM (SELECT unnest(hs) AS h1 FROM t) GROUP BY 1
),
v AS (SELECT count(*) AS v FROM uc),
s AS (
  SELECT doc_id,
         CAST(round(-ln((c12 + 1) / CAST(c1 + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nlp
  FROM ex JOIN bc USING (h2) JOIN uc USING (h1) CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams,
       round(sum(nlp) / CAST(count(*) AS DOUBLE) / 1e6, 6) AS avg_neg_logprob
FROM s GROUP BY doc_id
""",
)


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source token distribution || corpus distribution) per source
    — the divergence diagnostic beside domain_mixture_weights: high KL
    = the source's unigram mix is far from the corpus blend (dedup it
    from mixture smoothing decisions). One tokenize scan -> (source,
    term-hash) counts; corpus marginals re-aggregate FROM that frame
    (no second scan). Each per-term contribution p*ln(p/q) is rounded
    to a scaled BIGINT before the per-source sum, so the aggregate is
    order-independent on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.explode(F.filter(tokens("text"), lambda x: x != "")).alias("term")
        )
        .select("source", shingle_hash32("term").alias("h"))
        .groupBy("source", "h")
        .agg(F.count("*").alias("c_sw"))
        # materialize the count frame: three marginals + the join all
        # read it, and without the cut each would replan its own
        # corpus tokenize scan (4 scans measured). The frame is
        # (source x vocab-hash)-sized — bounded by vocabulary, not
        # corpus volume.
        .localCheckpoint(eager=True)
    )
    s_tot = st.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    w_tot = st.groupBy("h").agg(F.sum("c_sw").alias("c_w"))
    tot = st.agg(F.sum("c_sw").alias("c"))
    j = (
        st.join(F.broadcast(s_tot), "source")
        .join(w_tot, "h")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("c_sw") / F.col("c_s")
    q = F.col("c_w") / F.col("c")
    contrib = F.round(p * F.log(p / q) * 1e9, 0).cast("long")
    return (
        j.select("source", contrib.alias("kl_term"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum("kl_term") / 1e9, 6).alias("kl_nats"),
        )
    )


register(
    "source_kl_divergence",
    q_source_kl_divergence,
    f"""
WITH st AS (
  SELECT source, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h,
         count(*) AS c_sw
  FROM (
    SELECT source, unnest(list_filter({_TOKS_SQL}, x -> x != '')) AS term
    FROM documents
  )
  GROUP BY 1, 2
),
s_tot AS (SELECT source, sum(c_sw) AS c_s FROM st GROUP BY 1),
w_tot AS (SELECT h, sum(c_sw) AS c_w FROM st GROUP BY 1),
tot AS (SELECT sum(c_sw) AS c FROM st)
SELECT source, count(*) AS n_terms,
       round(sum(CAST(round((c_sw / c_s) * ln((c_sw / c_s) / (c_w / CAST(c AS DOUBLE))) * 1e9, 0) AS BIGINT)) / 1e9, 6)
         AS kl_nats
FROM st JOIN s_tot USING (source) JOIN w_tot USING (h) CROSS JOIN tot
GROUP BY source
""",
)


# -- Tokenizer vocabulary coverage: OOV rate per source --------------------
_VOCAB_N = 512


def q_tokenizer_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage report: induce a top-512 frequency vocab
    from the corpus itself, then measure each source's out-of-vocab
    occurrence rate — the number that says whether a fixed tokenizer
    vocabulary (or a domain filter) will shred a source into UNKs.

    Plan shape: the exploded (source, term) frame feeds both the vocab
    induction and the coverage join, a distributed top-k for the vocab
    (TakeOrderedAndProject — never a global window), and a broadcast
    left join of the token stream against the 512-row vocab. The
    corpus side never shuffles for the join; per-source rollup is the
    only aggregation exchange. At 100 TB the vocab is still hundreds
    of KB — broadcast stays the right side."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.repartition(par, "doc_id")
        .select("source", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "term")
        .limit(_VOCAB_N)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "term", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("oov_tokens"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("oov_tokens") / F.col("total_tokens"), 6),
        )
        .orderBy("source")
    )


register(
    "tokenizer_oov_rate",
    q_tokenizer_oov_rate,
    f"""
WITH toks AS (
  SELECT source, unnest(list_filter({_TOKS_SQL}, x -> x != '')) AS term
  FROM documents
),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS freq FROM toks GROUP BY term
  ) ORDER BY freq DESC, term LIMIT {_VOCAB_N}
)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
       round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.source
ORDER BY t.source
""",
)


# -- Length-bucketed batching: pad-waste accounting ------------------------
_LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024]


def _len_bucket(n_tok):  # Column -> Column
    """Smallest power-of-two bucket >= n_tok (floor 16, cap 1024) via
    an explicit CASE chain — integer-exact in both engines (a log2
    formulation would ride on float last-ulp at the boundaries)."""
    expr = F.lit(_LEN_BUCKETS[-1])
    for edge in reversed(_LEN_BUCKETS):
        expr = F.when(n_tok <= edge, F.lit(edge)).otherwise(expr)
    return expr


def q_length_bucketed_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing for training batch efficiency: docs
    grouped into power-of-two token-length buckets; per bucket the doc
    count, true token mass, padded token mass (every sequence padded
    to its bucket ceiling) and the padding-waste fraction — plus the
    waste the SAME docs would cost under naive global padding (everything
    padded to the corpus max), the number a batching RFC leads with.

    One tokenize scan, one bounded-key aggregate (7 buckets); the
    global max rides along via a broadcast 1-row aggregate. At 100 TB
    this is a scan + 7-row shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.filter(tokens("text"), lambda t: t != F.lit(""))
    ).cast("long")
    lens = docs.select(n_tok.alias("n_tok"), _len_bucket(n_tok).alias("bucket"))
    gmax = lens.agg(F.max("n_tok").alias("corpus_max"))
    per_bucket = (
        lens.groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("true_tokens"),
        )
        .crossJoin(F.broadcast(gmax))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("true_tokens").cast("long").alias("true_tokens"),
            (F.col("bucket") * F.col("n_docs")).cast("long").alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("true_tokens") / (F.col("bucket") * F.col("n_docs")),
                6,
            ).alias("bucket_waste"),
            F.round(
                F.lit(1.0)
                - F.col("true_tokens") / (F.col("corpus_max") * F.col("n_docs")),
                6,
            ).alias("naive_waste"),
        )
        .orderBy("bucket")
    )
    return per_bucket


register(
    "length_bucketed_padding",
    q_length_bucketed_padding,
    f"""
WITH lens AS (
  SELECT len(list_filter({_TOKS_SQL}, x -> x != '')) AS n_tok FROM documents
),
b AS (
  SELECT n_tok,
         CASE WHEN n_tok <= 16 THEN 16 WHEN n_tok <= 32 THEN 32
              WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
              WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
              ELSE 1024 END AS bucket
  FROM lens
),
gmax AS (SELECT max(n_tok) AS corpus_max FROM b)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS true_tokens,
       CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
       round(1.0 - sum(n_tok) / CAST(bucket * count(*) AS DOUBLE), 6) AS bucket_waste,
       round(1.0 - sum(n_tok) / CAST(corpus_max * count(*) AS DOUBLE), 6) AS naive_waste
FROM b CROSS JOIN gmax
GROUP BY bucket, corpus_max
ORDER BY bucket
""",
)


# -- Collocation mining: document-level co-occurrence PMI ------------------
_PMI_MIN_CODF = 25
_PMI_TOP = 100


def q_token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining — the phrase-detection statistic: for token
    pairs co-occurring in >= {_PMI_MIN_CODF} documents, the pointwise
    mutual information ln(P(a,b) / (P(a) P(b))) over document-level
    presence, top-{_PMI_TOP} by SUPPORT (exact integer ranking; PMI
    itself is reported rounded — ranking on a 6dp-rounded ln would
    ride on cross-engine last-ulp at bucket edges).

    Plan: distinct (doc, token) presence pass, per-doc sorted pair
    generation through a self-join on doc_id (bounded by the ~40-token
    docs; a real corpus caps tokens-per-doc first), token df and pair
    co-df aggregates, broadcast 1-row N. The pair shuffle carries the
    distinct observed pairs only."""
    docs = load_table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("term")
    ).filter(F.col("term") != "")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    df_t = pres.groupBy("term").agg(F.count("*").alias("df"))
    a, b = pres.alias("a"), pres.alias("b")
    co = (
        a.join(b, "doc_id")
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(F.col("a.term").alias("tok_a"), F.col("b.term").alias("tok_b"))
        .agg(F.count("*").alias("co_df"))
        .filter(F.col("co_df") >= _PMI_MIN_CODF)
    )
    dfa = df_t.select(F.col("term").alias("tok_a"), F.col("df").alias("df_a"))
    dfb = df_t.select(F.col("term").alias("tok_b"), F.col("df").alias("df_b"))
    top = (
        co.join(dfa, "tok_a")
        .join(dfb, "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .orderBy(F.col("co_df").desc(), "tok_a", "tok_b")
        .limit(_PMI_TOP)
    )
    return top.select(
        "tok_a",
        "tok_b",
        F.col("co_df").cast("long").alias("co_df"),
        F.col("df_a").cast("long").alias("df_a"),
        F.col("df_b").cast("long").alias("df_b"),
        F.round(
            F.log(
                F.col("co_df")
                * F.col("n_docs")
                / (F.col("df_a") * F.col("df_b"))
            ),
            6,
        ).alias("pmi_nats"),
    ).orderBy(F.col("co_df").desc(), "tok_a", "tok_b")


register(
    "token_cooccurrence_pmi",
    q_token_cooccurrence_pmi,
    f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter({_TOKS_SQL}, x -> x != '')) AS term
  FROM documents
),
pres AS (SELECT DISTINCT doc_id, term FROM toks),
n AS (SELECT count(*) AS n_docs FROM documents),
df_t AS (SELECT term, count(*) AS df FROM pres GROUP BY term),
co AS (
  SELECT a.term AS tok_a, b.term AS tok_b, count(*) AS co_df
  FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN_CODF}
),
top AS (
  SELECT tok_a, tok_b, co_df, da.df AS df_a, db.df AS df_b, n_docs
  FROM co JOIN df_t da ON da.term = tok_a
          JOIN df_t db ON db.term = tok_b
          CROSS JOIN n
  ORDER BY co_df DESC, tok_a, tok_b LIMIT {_PMI_TOP}
)
SELECT tok_a, tok_b, CAST(co_df AS BIGINT) AS co_df,
       CAST(df_a AS BIGINT) AS df_a, CAST(df_b AS BIGINT) AS df_b,
       round(ln(co_df * n_docs / CAST(df_a * df_b AS DOUBLE)), 6) AS pmi_nats
FROM top ORDER BY co_df DESC, tok_a, tok_b
""",
)


# -- Character-entropy quality signal --------------------------------------
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def q_char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution entropy (nats) — the cheap
    compressibility proxy quality filters use: gibberish and
    single-char spam sit far from natural-text entropy, no compressor
    needed. Counts per alphabet char come from the
    length-minus-replace trick (len(s) - len(replace(s, c, ''))) —
    identical integer arithmetic in both engines, no per-char explode
    of the text; characters outside the alphabet are lumped into one
    'other' mass. Each entropy term is snapped to a 1e-9-scaled BIGINT
    before the sum, so the per-doc total is independent of the
    char-group aggregation order (the repo's standard float-sum
    discipline).

    Plan: alphabet-literal explode (37 rows per doc), one groupBy
    doc_id — a scan + bounded-fanout aggregate at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    # r13 (guide §2.4): the 37-way alphabet explode copied the full
    # document text into every generated row (Tungsten materializes
    # generate output) and shuffled 37 rows/doc into a hash aggregate
    # only to sum terms that are a pure per-doc expression. Same
    # length-minus-replace counts, same 1e9-scaled BIGINT per-term
    # snap (order-independent by construction, so a left-to-right
    # array aggregate sums the identical longs the hash aggregate
    # summed) — now one codegen projection per doc: scan -> project ->
    # sort. No Generate, no Exchange before the final orderBy.
    n = F.length(low)
    cnts = F.array(
        *[n - F.length(F.replace(low, F.lit(c))) for c in _ENTROPY_ALPHABET]
    )
    term = lambda cnt: F.when(  # noqa: E731 — per-count entropy term
        cnt > 0,
        F.round(-(cnt / F.col("n")) * F.log(cnt / F.col("n")) * 1e9, 0).cast(
            "long"
        ),
    ).otherwise(F.lit(0).cast("long"))
    per_doc = docs.select(
        "doc_id", n.alias("n"), cnts.alias("_cnts")
    ).select(
        "doc_id",
        "n",
        F.aggregate(
            "_cnts", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("alpha_cnt"),
        F.aggregate(
            F.transform("_cnts", term), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_scaled"),
    )
    other = F.col("n") - F.col("alpha_cnt")
    with_other = per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        (F.col("sum_scaled") + term(other)).alias("scaled"),
    )
    return with_other.select(
        "doc_id",
        "n_chars",
        F.round(F.col("scaled") / 1e9, 6).alias("entropy_nats"),
    ).orderBy("doc_id")


_ENT_CHARS_SQL = "['" + "', '".join(
    c if c != " " else " " for c in _ENTROPY_ALPHABET
) + "']"

register(
    "char_entropy_scores",
    q_char_entropy_scores,
    f"""
WITH chars AS (SELECT unnest({_ENT_CHARS_SQL}) AS ch),
base AS (SELECT doc_id, lower(text) AS t, length(text) AS n FROM documents),
per_char AS (
  SELECT doc_id, n, length(t) - length(replace(t, ch, '')) AS cnt
  FROM base CROSS JOIN chars
),
agg AS (
  SELECT doc_id, n,
         sum(cnt) AS alpha_cnt,
         sum(CASE WHEN cnt > 0
                  THEN CAST(round(-(cnt / CAST(n AS DOUBLE))
                                  * ln(cnt / CAST(n AS DOUBLE)) * 1e9, 0) AS BIGINT)
                  ELSE 0 END) AS sum_scaled
  FROM per_char GROUP BY doc_id, n
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       round((sum_scaled
              + CASE WHEN n - alpha_cnt > 0
                     THEN CAST(round(-((n - alpha_cnt) / CAST(n AS DOUBLE))
                                     * ln((n - alpha_cnt) / CAST(n AS DOUBLE)) * 1e9, 0) AS BIGINT)
                     ELSE 0 END) / 1e9, 6) AS entropy_nats
FROM agg ORDER BY doc_id
""",
)


# -- Tokenizer fertility by language ---------------------------------------
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — subword tokens emitted per
    whitespace word, the standard tokenizer-evaluation metric (a
    fertility of 2 means the token budget buys half the text): per
    lang, total words, total BPE-ish tokens, the corpus-level
    fertility ratio, and the doc-level mean fertility (each doc's
    ratio snapped to a 6dp-scaled BIGINT before averaging — the
    float-sum discipline). One scan, one bounded-key aggregate."""
    from ..operators.tokenize import bpe_ish_tokens

    docs = load_table(spark, sf_dir, "documents")
    n_ws = F.size(F.filter(tokens("text"), lambda t: t != F.lit(""))).cast("long")
    n_bpe = F.size(bpe_ish_tokens(F.col("text"))).cast("long")
    per_doc = docs.select(
        "lang",
        n_ws.alias("n_ws"),
        n_bpe.alias("n_bpe"),
        F.when(
            n_ws > 0,
            F.round(n_bpe / n_ws * 1e6, 0).cast("long"),
        ).alias("fert_scaled"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws").alias("total_words"),
            F.sum("n_bpe").alias("total_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_ws"), 6).alias("corpus_fertility"),
            F.round(F.sum("fert_scaled") / F.count("fert_scaled") / 1e6, 6).alias(
                "mean_doc_fertility"
            ),
        )
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_words").cast("long").alias("total_words"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            "corpus_fertility",
            "mean_doc_fertility",
        )
        .orderBy("lang")
    )


from ..operators.tokenize import BPE_ISH_PATTERN as _BPE_RAW_F  # noqa: E402

_BPE_F = _BPE_RAW_F.replace("'", "''")

register(
    "tokenizer_fertility",
    q_tokenizer_fertility,
    f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter({_TOKS_SQL}, x -> x != '')) AS n_ws,
         len(regexp_extract_all(text, '{_BPE_F}')) AS n_bpe
  FROM documents
),
scaled AS (
  SELECT lang, n_ws, n_bpe,
         CASE WHEN n_ws > 0
              THEN CAST(round(n_bpe / CAST(n_ws AS DOUBLE) * 1e6, 0) AS BIGINT)
         END AS fert_scaled
  FROM per_doc
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_ws) AS BIGINT) AS total_words,
       CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
       round(sum(n_bpe) / CAST(sum(n_ws) AS DOUBLE), 6) AS corpus_fertility,
       round(sum(fert_scaled) / CAST(count(fert_scaled) AS DOUBLE) / 1e6, 6)
         AS mean_doc_fertility
FROM scaled GROUP BY lang ORDER BY lang
""",
)


# -- n-gram novelty per document (dedup-adjacent curation signal) ----------
def q_ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the share of a doc's DISTINCT
    word-3-grams whose first corpus occurrence (min doc_id over docs
    containing the gram) is this doc. The curation signal behind
    prefix-dedup / novelty curves: a crawl slice whose novelty rate
    collapses is re-crawling what the corpus already has.

    Shape: one tokenize scan -> per-doc distinct gram hashes (31-bit
    Horner mix of per-token md5s — 8-byte shuffle keys, never gram
    strings) -> groupBy gram for the first-seen doc -> hash-join back
    -> per-doc counts. Two shuffles on bounded-width keys; the
    repartition ahead of the generate stage parallelizes the one-file
    source [pyspark_guide: single-small-file inputs]."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    hashed = docs.select("doc_id", _token_hashes(tokens("text")).alias("hs"))
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - 2)
    grams = F.when(
        F.size(hcol) >= 3,
        F.array_distinct(F.transform(idx, lambda i: _gram_mix(hcol, i, 3))),
    ).otherwise(F.array().cast("array<bigint>"))
    per_doc = hashed.select("doc_id", F.explode(grams).alias("gh"))
    first = per_doc.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    return (
        per_doc.join(first, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty_rate"),
        )
    )


register(
    "ngram_novelty_rate",
    q_ngram_novelty_rate,
    f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_TOKS_SQL},
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, gh
  FROM t, LATERAL unnest(
    list_transform(range(1, len(hs) - 1), i -> {_gram_mix_sql('hs', 'i', 3)})
  ) AS u(gh)
  WHERE len(hs) >= 3
),
f AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh)
SELECT g.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty_rate
FROM g JOIN f USING (gh)
GROUP BY g.doc_id
""",
)


# -- vocabulary coverage curve (vocab-budget planning) ---------------------
_COVERAGE_GRID = [100, 500, 1000, 2500, 5000, 10000]


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence coverage of the top-N 3-gram vocabulary for a grid of
    vocab budgets N — the curve a tokenizer/vocab-size decision reads
    (the unigram vocabulary of this corpus is ~31 terms, so the curve
    runs on 3-grams where the head/tail split is real).

    Scale shape: gram occurrence counts aggregate on 8-byte Horner-mix
    keys; the top-maxN survivors come from a distributed sort+limit
    (TakeOrderedAndProject — never a full-vocab single-partition
    window; row_number runs on the maxN survivors only), the budget
    grid joins in as a broadcast theta-join against those survivors,
    and the denominator is a broadcast 1-row normalizer."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    hashed = docs.select(_token_hashes(tokens("text")).alias("hs"))
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - 2)
    grams = F.when(
        F.size(hcol) >= 3,
        F.transform(idx, lambda i: _gram_mix(hcol, i, 3)),
    ).otherwise(F.array().cast("array<bigint>"))
    per_gram = (
        hashed.select(F.explode(grams).alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    max_n = max(_COVERAGE_GRID)
    top = per_gram.orderBy(F.col("freq").desc(), "gh").limit(max_n)
    # LIMIT-bounded survivors -> constant-key bounded window, not the
    # range-partition machinery (see bounded_rank / the r6 zipf note).
    from ..operators.distributed_rank import bounded_rank

    ranked = bounded_rank(
        top, [F.col("freq").desc(), F.col("gh").asc()], rank_col="rank"
    ).select("rank", "freq")
    grid = spark.createDataFrame(
        [(n,) for n in _COVERAGE_GRID], "vocab_size long"
    )
    total = per_gram.agg(F.sum("freq").alias("total_occurrences"))
    return (
        ranked.join(F.broadcast(grid), F.col("rank") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("freq").alias("covered"))
        .crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            "covered",
            "total_occurrences",
            F.round(F.col("covered") / F.col("total_occurrences"), 6).alias(
                "coverage"
            ),
        )
    )


register(
    "vocab_coverage_curve",
    q_vocab_coverage_curve,
    f"""
WITH t AS (
  SELECT list_transform({_TOKS_SQL},
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
g AS (
  SELECT gh
  FROM t, LATERAL unnest(
    list_transform(range(1, len(hs) - 1), i -> {_gram_mix_sql('hs', 'i', 3)})
  ) AS u(gh)
  WHERE len(hs) >= 3
),
c AS (SELECT gh, count(*) AS freq FROM g GROUP BY gh),
top AS (
  SELECT gh, freq, CAST(row_number() OVER (ORDER BY freq DESC, gh) AS BIGINT) AS rank
  FROM c ORDER BY freq DESC, gh LIMIT {max(_COVERAGE_GRID)}
),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_occurrences FROM c),
grid AS (SELECT CAST(unnest({_COVERAGE_GRID}) AS BIGINT) AS vocab_size)
SELECT vocab_size,
       CAST(sum(freq) AS BIGINT) AS covered,
       total_occurrences,
       round(sum(freq) / CAST(total_occurrences AS DOUBLE), 6) AS coverage
FROM grid JOIN top ON top.rank <= grid.vocab_size
CROSS JOIN tot
GROUP BY vocab_size, total_occurrences
""",
)


# -- cross-source n-gram leakage matrix ------------------------------------
def q_cross_source_ngram_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content leakage between corpus sources: for every
    source pair, the number of distinct word-3-grams both emit and the
    overlap coefficient |A ∩ B| / min(|A|, |B|) — the
    decontamination-adjacent diagnostic for "crawl slice B is
    re-serving slice A's content" (and, run eval-suite-vs-train, for
    benchmark leakage).

    Shape: one tokenize pass -> distinct (gram-hash, source) pairs ->
    self-join on the 8-byte gram key -> 190-row pair aggregate joined
    to per-source gram counts. A gram shared by k sources emits
    k(k-1)/2 pair rows, so the join output is bounded by
    |distinct grams| x pairs(n_sources) — linear in the corpus for a
    fixed source vocabulary; for thousands of sources you'd cap or
    bucket the source dimension first (hot-shingle-cap shape)."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    docs = docs.repartition(par, "doc_id")
    hashed = docs.select("source", _token_hashes(tokens("text")).alias("hs"))
    hcol = F.col("hs")
    idx = F.sequence(F.lit(1), F.size(hcol) - 2)
    grams = F.when(
        F.size(hcol) >= 3,
        F.transform(idx, lambda i: _gram_mix(hcol, i, 3)),
    ).otherwise(F.array().cast("array<bigint>"))
    sg = (
        hashed.select("source", F.explode(grams).alias("gh"))
        .dropDuplicates(["source", "gh"])
    )
    per_source = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("source").alias("source_a"), "gh")
    b = sg.select(F.col("source").alias("source_b"), "gh")
    shared = (
        a.join(b, "gh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    pa = per_source.select(
        F.col("source").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    pb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            "grams_a",
            "grams_b",
            F.round(
                F.col("shared_grams") / F.least(F.col("grams_a"), F.col("grams_b")),
                6,
            ).alias("overlap_coeff"),
        )
    )


register(
    "cross_source_ngram_leakage",
    q_cross_source_ngram_leakage,
    f"""
WITH t AS (
  SELECT source,
         list_transform({_TOKS_SQL},
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
sg AS (
  SELECT DISTINCT source, gh
  FROM t, LATERAL unnest(
    list_transform(range(1, len(hs) - 1), i -> {_gram_mix_sql('hs', 'i', 3)})
  ) AS u(gh)
  WHERE len(hs) >= 3
),
ps AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
sh AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_grams
  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sh.source_a, sh.source_b, sh.shared_grams,
       pa.n_grams AS grams_a, pb.n_grams AS grams_b,
       round(sh.shared_grams
             / CAST(least(pa.n_grams, pb.n_grams) AS DOUBLE), 6) AS overlap_coeff
FROM sh
JOIN ps pa ON pa.source = sh.source_a
JOIN ps pb ON pb.source = sh.source_b
""",
)


# -- perplexity-bucket curation mix (CCNet-style) --------------------------
def q_perplexity_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped quality partition: documents quartile by their
    bigram-LM fluency score (avg -ln p, lower = head/more fluent) and
    the report shows what each bucket would contribute to a training
    mix — doc count, score range, character mass. The classic use is
    keeping the head/middle buckets and dropping the tail.

    The global quartile runs on operators/distributed_rank.with_ntile
    (range-repartition + per-partition offsets — never a
    single-partition ntile window); ordering is on the 6dp-scaled
    BIGINT score with doc_id tiebreak, so bucket membership is exact
    and engine-portable. DuckDB's ntile shares the SQL-standard
    bucket-size semantics, asserted bit-equal in the distributed-rank
    tests."""
    from ..operators.distributed_rank import with_ntile

    scores = q_bigram_logprob_scores(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = scores.join(docs, "doc_id").select(
        "doc_id",
        "n_chars",
        F.bround(F.col("avg_neg_logprob") * 1e6, 0).cast("long").alias("s"),
    )
    tiled = with_ntile(
        j, 4, [F.col("s").asc(), F.col("doc_id").asc()], "ppl_bucket"
    )
    return (
        tiled.groupBy("ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("s") / 1e6, 6).alias("min_score"),
            F.round(F.max("s") / 1e6, 6).alias("max_score"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("ppl_bucket")
    )


register(
    "perplexity_bucket_mix",
    q_perplexity_bucket_mix,
    f"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_filter({_TOKS_SQL}, x -> x != ''),
                        x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM documents
),
e AS (
  SELECT doc_id, hs[i] AS h1, {_gram_mix_sql('hs', 'i', 2)} AS h2
  FROM t, LATERAL unnest(range(1, len(hs))) AS u(i)
  WHERE len(hs) >= 2
),
bc AS (SELECT h2, count(*) AS c12 FROM e GROUP BY h2),
uc AS (
  SELECT h1, count(*) AS c1
  FROM (SELECT unnest(hs) AS h1 FROM t) GROUP BY h1
),
v AS (SELECT count(*) AS v FROM uc),
nlp AS (
  SELECT e.doc_id,
         CAST(round(-ln((bc.c12 + 1) / CAST(uc.c1 + v.v AS DOUBLE)) * 1e6, 0)
              AS BIGINT) AS nlp
  FROM e JOIN bc USING (h2) JOIN uc USING (h1) CROSS JOIN v
),
sc AS (
  SELECT doc_id,
         CAST(round_even(round(sum(nlp) / CAST(count(*) AS DOUBLE) / 1e6, 6) * 1e6,
                         0) AS BIGINT) AS s
  FROM nlp GROUP BY doc_id
),
tiled AS (
  SELECT sc.doc_id, d.n_chars, sc.s,
         CAST(ntile(4) OVER (ORDER BY sc.s, sc.doc_id) AS BIGINT) AS ppl_bucket
  FROM sc JOIN documents d USING (doc_id)
)
SELECT ppl_bucket,
       count(*) AS n_docs,
       round(min(s) / 1e6, 6) AS min_score,
       round(max(s) / 1e6, 6) AS max_score,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM tiled GROUP BY ppl_bucket ORDER BY ppl_bucket
""",
)


# -- positional phrase search -----------------------------------------------
_PHRASES = (
    ("batch", "stream"),
    ("hash", "scan"),
    ("order", "sort"),
    ("spark", "window"),
    ("window", "window"),
)


def q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a positional inverted index: build
    (term, doc_id, pos) postings, then a phrase "w1 w2" matches where
    the two terms' postings align at adjacent positions in the same
    document — the classic IR positional-intersection, expressed as an
    equi-join.

    Scale posture: the postings explode is one scan; BOTH posting
    sides are filtered to the query phrases' terms BEFORE the
    self-join (pushed predicate on the exploded frame), so join input
    is bounded by the query terms' document frequency, never corpus
    size; the join keys are (doc_id, pos) — pure equi-join, shuffle
    hash-partitioned, no inequality scan. Output: per-phrase document
    frequency and occurrence count.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w1s = tuple(sorted({a for a, _ in _PHRASES}))
    w2s = tuple(sorted({b for _, b in _PHRASES}))
    post = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    a = post.where(F.col("term").isin(*w1s)).select(
        "doc_id", F.col("pos").alias("pos_a"), F.col("term").alias("w1")
    )
    b = post.where(F.col("term").isin(*w2s)).select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("term").alias("w2"),
    )
    phrases = spark.createDataFrame(list(_PHRASES), "w1 string, w2 string")
    hits = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.col("pos_b") == F.col("pos_a") + 1),
        )
        .join(F.broadcast(phrases), ["w1", "w2"])
    )
    return (
        hits.groupBy("w1", "w2")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            "n_docs",
            "n_occurrences",
        )
        .orderBy("phrase")
    )


def _phrase_sql() -> str:
    vals = ", ".join(f"('{a}', '{b}')" for a, b in _PHRASES)
    return f"""
WITH post AS (
  SELECT doc_id, u.term, u.pos
  FROM documents,
       LATERAL (SELECT unnest({_TOKS_SQL}) AS term,
                       generate_subscripts({_TOKS_SQL}, 1) - 1 AS pos) u
),
phrases(w1, w2) AS (VALUES {vals}),
hits AS (
  SELECT p.w1, p.w2, a.doc_id
  FROM post a
  JOIN post b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN phrases p ON a.term = p.w1 AND b.term = p.w2
)
SELECT w1 || ' ' || w2 AS phrase,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY w1, w2
ORDER BY phrase
"""


register(
    "phrase_search_positional",
    q_phrase_search_positional,
    _phrase_sql(),
)


# -- Jensen-Shannon divergence matrix between sources ------------------------
def q_source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every two sources'
    unigram distributions — the symmetric, bounded (<= ln 2) companion
    to source_kl_divergence, the standard "how different are these two
    corpora" readout for mixture design.

    Shape: the SAME (source, term-hash) count frame as the KL query
    (one tokenize scan), densified over the vocab spine so one-sided
    terms contribute their half of the divergence; each per-term
    contribution 0.5*(p*ln(p/m) + q*ln(q/m)) is snapped to a scaled
    BIGINT before the per-pair sum (order-independent on both
    engines). The pair frame is vocab x C(sources,2) — bounded by
    vocabulary and source count, never corpus volume."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source",
            F.explode(F.filter(tokens("text"), lambda x: x != "")).alias("term"),
        )
        .select("source", shingle_hash32("term").alias("h"))
        .groupBy("source", "h")
        .agg(F.count("*").alias("c_sw"))
        .localCheckpoint(eager=True)
    )
    spine = st.select("h").distinct().crossJoin(
        F.broadcast(st.select("source").distinct())
    )
    dense = spine.join(st, ["source", "h"], "left").fillna(0, subset=["c_sw"])
    s_tot = st.groupBy("source").agg(F.sum("c_sw").alias("c_s"))
    d = dense.join(F.broadcast(s_tot), "source")
    a = d.select(
        F.col("source").alias("source_a"),
        "h",
        F.col("c_sw").alias("c_a"),
        F.col("c_s").alias("n_a"),
    )
    b = d.select(
        F.col("source").alias("source_b"),
        F.col("h").alias("h_b"),
        F.col("c_sw").alias("c_b"),
        F.col("c_s").alias("n_b"),
    )
    j = a.join(
        b,
        (F.col("source_a") < F.col("source_b")) & (F.col("h") == F.col("h_b")),
    )
    p = F.col("c_a") / F.col("n_a")
    q = F.col("c_b") / F.col("n_b")
    m = (p + q) / F.lit(2.0)
    term = F.lit(0.5) * (
        F.when(F.col("c_a") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("c_b") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    contrib = F.round(term * 1e9, 0).cast("long")
    # n_terms = terms ACTIVE for this pair (c_a > 0 OR c_b > 0), not the
    # densified vocab-spine size (which is pair-invariant and misleading).
    active = ((F.col("c_a") > 0) | (F.col("c_b") > 0)).cast("long")
    return (
        j.select("source_a", "source_b", contrib.alias("t"), active.alias("act"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum("act").alias("n_terms"),
            F.round(F.sum("t") / 1e9, 6).alias("jsd_nats"),
        )
        .orderBy("source_a", "source_b")
    )


register(
    "source_jsd_matrix",
    q_source_jsd_matrix,
    f"""
WITH st AS (
  SELECT source, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h,
         count(*) AS c_sw
  FROM (
    SELECT source, unnest(list_filter({_TOKS_SQL}, x -> x != '')) AS term
    FROM documents
  )
  GROUP BY 1, 2
),
spine AS (
  SELECT source, h FROM (SELECT DISTINCT source FROM st)
  CROSS JOIN (SELECT DISTINCT h FROM st)
),
dense AS (
  SELECT s.source, s.h, coalesce(t.c_sw, 0) AS c_sw
  FROM spine s LEFT JOIN st t ON s.source = t.source AND s.h = t.h
),
s_tot AS (SELECT source, sum(c_sw) AS c_s FROM st GROUP BY source),
d AS (SELECT dense.*, c_s FROM dense JOIN s_tot USING (source)),
j AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.c_sw AS c_a, a.c_s AS n_a, b.c_sw AS c_b, b.c_s AS n_b
  FROM d a JOIN d b ON a.source < b.source AND a.h = b.h
),
terms AS (
  SELECT source_a, source_b,
         CAST(round(0.5 * (
           CASE WHEN c_a > 0
                THEN (c_a / n_a) * ln((c_a / n_a)
                       / (((c_a / n_a) + (c_b / n_b)) / 2.0))
                ELSE 0e0 END
           + CASE WHEN c_b > 0
                  THEN (c_b / n_b) * ln((c_b / n_b)
                         / (((c_a / n_a) + (c_b / n_b)) / 2.0))
                  ELSE 0e0 END) * 1e9, 0) AS BIGINT) AS t,
         CASE WHEN c_a > 0 OR c_b > 0 THEN 1 ELSE 0 END AS act
  FROM j
)
SELECT source_a, source_b,
       CAST(sum(act) AS BIGINT) AS n_terms,
       round(sum(t) / 1e9, 6) AS jsd_nats
FROM terms GROUP BY 1, 2
ORDER BY source_a, source_b
""",
)


# -- Naive Bayes language classifier: distributed train + score ------------
def q_nb_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID trained ON the corpus and
    scored back over it (resubstitution confusion matrix) — the
    train-a-model-with-aggregates exhibit beside kmeans_lite: the
    entire "model" is two count tables (per-(lang, feature-hash)
    occurrences and per-lang totals) plus the vocabulary size and the
    class priors, all products of ordinary shuffles; no driver-side
    fitting at all, which is exactly how NB scales to 100 TB (training
    IS one groupBy). Features are CHAR TRIGRAMS of the lowercased
    text (the standard langid feature — word tokens barely beat the
    majority class on this corpus because the synthetic langs share
    most of their word vocabulary; trigrams capture orthography).

    Scoring is the long-form: each (doc, feature occurrence) is crossed
    with the (broadcast, |langs|-row) class list, left-joined against
    the count table, and each per-term Laplace-smoothed negative
    log-likelihood round(-ln((c+1)/(N_l+V))·1e6) is scaled to BIGINT
    BEFORE the per-(doc, class) sum — the established order-
    independent float-parity pattern (bigram_logprob_scores /
    source_kl_divergence). Class priors join as one more scaled
    BIGINT; argmin by total negative log-posterior with the class
    label as the deterministic tiebreak. Output = the confusion
    matrix (true_lang, pred_lang, n_docs), tiny and exact. Zero-token
    docs are excluded by construction on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    low = F.lower(F.trim(F.col("text")))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - 2),
        lambda i: low.substr(i, F.lit(3)),
    )
    # r13 (guide §2.3 "aggregate before you shuffle"): a trigram
    # repeated k times in a doc scored k identical rows through the
    # crossJoin x langs + count-table join; collapsing to per-(doc, h)
    # counts first shrinks every downstream join input by the
    # repetition factor, and the per-term BIGINT nll is multiplied by
    # cnt instead of summed k times — the same long, exactly. The
    # training-side margins are then exact-integer functions of the
    # (lang, h) count table: n_l = sum of c per lang and vocab =
    # distinct h OF THE COUNT TABLE, so neither re-reads the trigram
    # stream (two fewer full-corpus aggregations).
    dt = (
        docs.repartition(par, "doc_id")
        .filter(F.length(low) >= 3)
        .select("doc_id", "lang", F.explode(grams).alias("term"))
        .select("doc_id", "lang", shingle_hash32("term").alias("h"))
        .groupBy("doc_id", "lang", "h")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # feeds counts AND scoring
    )
    counts = (
        dt.groupBy(F.col("lang").alias("cand"), "h")
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint(eager=True)  # feeds scoring, n_l AND vocab
    )
    n_l = counts.groupBy("cand").agg(F.sum("c").alias("n_l"))
    vocab = counts.select("h").distinct().agg(F.count("*").alias("v"))
    d_l = docs.groupBy(F.col("lang").alias("cand")).agg(F.count("*").alias("d_l"))
    d_tot = docs.agg(F.count("*").alias("d"))
    prior = (
        d_l.crossJoin(F.broadcast(d_tot))
        .select(
            "cand",
            F.round(-F.log(F.col("d_l") / F.col("d")) * 1e6, 0)
            .cast("long")
            .alias("prior_nlp"),
        )
    )
    # class list reuses the per-lang doc counts — no third documents
    # scan + distinct shuffle for a frame d_l already materializes
    langs = d_l.select("cand")
    scored = (
        dt.select("doc_id", F.col("lang").alias("true_lang"), "h", "cnt")
        .crossJoin(F.broadcast(langs))
        .join(counts, ["cand", "h"], "left")
        .join(F.broadcast(n_l), "cand")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.col("cnt")
                * F.round(
                    -F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1)
                        / (F.col("n_l") + F.col("v"))
                    )
                    * 1e6,
                    0,
                ).cast("long")
            ).alias("nlp"),
        )
    )
    totals = (
        scored.groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("nlp").alias("s"))
        .join(F.broadcast(prior), "cand")
        .select(
            "doc_id", "true_lang", "cand", (F.col("s") + F.col("prior_nlp")).alias("neg_lp")
        )
    )
    # argmin by (neg_lp, cand) as a lexicographic min-struct aggregate
    # (r13, guide §2.4): partial map-side aggregation replaces the
    # full-width per-doc window sort; min(struct(neg_lp, cand)) is
    # exactly the row_number(ORDER BY neg_lp ASC, cand ASC) = 1 winner.
    pred = totals.groupBy("doc_id", "true_lang").agg(
        F.min(F.struct("neg_lp", "cand")).alias("m")
    )
    return (
        pred.groupBy("true_lang", F.col("m.cand").alias("pred_lang"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


register(
    "nb_langid_confusion",
    q_nb_langid_confusion,
    f"""
WITH dt AS (
  SELECT doc_id, lang, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, len(lower(trim(text))) - 1),
                                     i -> substr(lower(trim(text)), CAST(i AS INTEGER), 3))) AS term
        FROM documents
        WHERE len(lower(trim(text))) >= 3)
),
counts AS (SELECT lang AS cand, h, count(*) AS c FROM dt GROUP BY 1, 2),
nl AS (SELECT lang AS cand, count(*) AS n_l FROM dt GROUP BY 1),
v AS (SELECT count(DISTINCT h) AS v FROM dt),
dl AS (SELECT lang AS cand, count(*) AS d_l FROM documents GROUP BY 1),
dd AS (SELECT count(*) AS d FROM documents),
prior AS (
  SELECT dl.cand,
         CAST(round(-ln(dl.d_l / CAST(dd.d AS DOUBLE)) * 1e6, 0) AS BIGINT) AS prior_nlp
  FROM dl CROSS JOIN dd
),
langs AS (SELECT DISTINCT lang AS cand FROM documents),
scored AS (
  SELECT dt.doc_id, dt.lang AS true_lang, l.cand,
         CAST(round(-ln((COALESCE(c.c, 0) + 1)
                        / CAST(nl.n_l + v.v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS nlp
  FROM dt
  CROSS JOIN langs l
  JOIN nl ON nl.cand = l.cand
  CROSS JOIN v
  LEFT JOIN counts c ON c.cand = l.cand AND c.h = dt.h
),
totals AS (
  SELECT s.doc_id, s.true_lang, s.cand,
         CAST(sum(s.nlp) AS BIGINT) + any_value(p.prior_nlp) AS neg_lp
  FROM scored s JOIN prior p ON p.cand = s.cand
  GROUP BY 1, 2, 3
),
pred AS (
  SELECT doc_id, true_lang, cand,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY neg_lp ASC, cand ASC) AS rn
  FROM totals
)
SELECT true_lang, cand AS pred_lang, count(*) AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
