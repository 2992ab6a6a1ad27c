"""Distributed PCA over an embedding column [SURVEY §2.11 N3
extension — the dimensionality-reduction step a training pipeline runs
before clustering/IVF (whitening, compaction), and the standard
embedding-drift diagnostic].

Spark mapping, 100 TB posture:
- Moment accumulation is the distributed part: per-dimension sums and
  the d×d cross-moment matrix are EXACT scaled-BIGINT aggregates
  (embeddings quantized at 1e6), so the covariance is deterministic
  under any partitioning / aggregation order — the same
  order-independence recipe as the OLS/Zipf moments. The cross-moment
  pass emits (i, j, xi*xj) for the upper triangle via a native
  posexplode product — codegen, no Python in the corpus pass.
- Eigendecomposition happens on the DRIVER over the d×d matrix (64×64
  here): metadata-scale numpy work, the same sanctioned pattern as the
  PQ codebook fit (pq.py) and MLlib's own PCA (RowMatrix
  computePrincipalComponents collects the Gramian).
- Projection broadcasts the k×d component matrix back as literal
  arrays; each output coordinate is a native zip_with/aggregate dot
  product — whole-stage codegen, no UDF.

Sign convention: each eigenvector is flipped so its
largest-|coefficient| entry is positive — removes the eigensolver's
sign ambiguity, making results reproducible across runs/platforms.

Determinism contract (pinned by tests/test_pca.py): the quantized
moments make Spark's covariance EQUAL to a single-node numpy
computation on the same quantized values, so the factorization is
bit-identical to the local reference — not merely close.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_SCALE = 1_000_000  # 1e6 quantization of embedding coordinates


def _quantized(vec_col: str):
    # Explicit double cast: under non-ANSI coercion float * int stays
    # FLOAT, where x*1e6 can land exactly on .5 (float32 spacing at
    # ~7.9e4 is 0.0078) and HALF_UP diverges from the float64
    # reference by one quantization unit. Casting first makes the
    # quantization ANSI-mode-independent and bit-identical to
    # numpy's float64 round.
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * _SCALE, 0).cast("long"),
    )


def pca_fit(embeddings: DataFrame, k: int = 4) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA: returns (components [k×d], mean [d], eigenvalues [k])."""
    comps, mean, evals, _ = pca_fit_full(embeddings, k)
    return comps, mean, evals


def pca_fit_full(embeddings: DataFrame, k: int = 4) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Fit PCA: returns (components [k×d], mean [d], eigenvalues [k],
    moments) where ``moments`` exposes the EXACT integer aggregates the
    fit ran on — {"n": int, "sx": [d python ints], "sxx_diag": [d]} in
    quantized (1e6) units. Downstream certificates (queries_llm
    q_embedding_pca) rebuild sign-free invariants from these without a
    second driver collect, and a SQL oracle can recompute the identical
    integers from the raw parquet.

    One corpus pass builds n, per-dim sums, and upper-triangle
    cross-moments as exact BIGINT aggregates; the d×d eigenproblem is
    driver-side numpy. Cross-moment rows shuffled: d·(d+1)/2 per
    aggregation partial — independent of corpus size."""
    q = embeddings.select(_quantized("embedding").alias("qv"))
    # (pos_i, xi) pairs, then upper-triangle products against the
    # original array: posexplode is a generator (no shuffle); the
    # group-by carries (i, j) keys — at most d^2/2 groups.
    pairs = q.select(
        F.posexplode("qv").alias("i", "xi"), F.col("qv").alias("qv")
    )
    tri = pairs.select(
        "i",
        "xi",
        F.posexplode(F.slice("qv", F.col("i") + 1, F.size("qv"))).alias("joff", "xj"),
    ).select(
        "i",
        (F.col("i") + F.col("joff")).alias("j"),
        (F.col("xi") * F.col("xj")).alias("xx"),
    )
    moments = tri.groupBy("i", "j").agg(F.sum("xx").alias("sxx"))
    sums = pairs.groupBy("i").agg(
        F.sum("xi").alias("sx"), F.count("*").alias("n")
    )
    mrows = moments.collect()  # ≤ d(d+1)/2 rows: metadata-scale
    srows = sums.collect()  # d rows
    d = max(r["i"] for r in srows) + 1
    n = srows[0]["n"]
    # Accumulate the moments as PYTHON ints (object dtype): copied
    # into float64 they silently lose exactness past 2^53, breaking
    # the bit-identical-covariance contract at large n·scale². The
    # covariance numerator n·Sxx − Sx·Sxᵀ is formed in exact integer
    # arithmetic; ONE rounding happens at the final division.
    sx = np.zeros(d, dtype=object)
    for r in srows:
        sx[r["i"]] = int(r["sx"])
    sxx = np.zeros((d, d), dtype=object)
    for r in mrows:
        sxx[r["i"], r["j"]] = int(r["sxx"])
        sxx[r["j"], r["i"]] = int(r["sxx"])
    mean = (sx / n).astype(np.float64)
    num = n * sxx - np.outer(sx, sx)  # exact (object ints)
    cov = (num / (n * (n - 1))).astype(np.float64)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k×d, in quantized units (scale-free directions)
    # sign convention: largest-|coeff| entry positive
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1
    moments = {
        "n": int(n),
        "sx": [int(v) for v in sx],
        "sxx_diag": [int(sxx[i, i]) for i in range(d)],
    }
    return comps, mean / _SCALE, evals[order] / (_SCALE * _SCALE), moments


def pca_project(
    embeddings: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
) -> DataFrame:
    """Project ``embedding`` onto the fitted components as ``pc1``..
    ``pc<k>``, with native expressions: the k×d matrix rides along as
    literal arrays (broadcast-sized), each coordinate one
    zip_with/aggregate dot product in codegen."""
    centered = F.zip_with(
        F.col("embedding"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda x, m: x - m,
    )
    cols = []
    for ci, comp in enumerate(components, start=1):
        cvec = F.array(*[F.lit(float(c)) for c in comp])
        dot = F.aggregate(
            F.zip_with(centered, cvec, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cols.append(F.round(dot, 6).alias(f"pc{ci}"))
    return embeddings.select("*", *cols)
