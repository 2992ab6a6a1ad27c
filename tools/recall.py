"""Quantified quality evidence for the approximate ANN queries.

The four approximate-nearest-neighbor queries (LSH-bucketed, IVF
fixed-grid, IVF k-means, PQ-ADC) are hash-checked against oracles that
replay the same approximation or check a planted-recall floor, which
proves each computes what it claims but not how close its answer is to
the exact neighbours. That
quality evidence lived only in pytest floors (r4 verdict #7); this tool
promotes it into a committed artifact: it runs the
REGISTERED queries themselves (exactly what the driver runs) and the
exact brute-force baseline ``ann_cosine_topk`` on the same sf dir, and
records mean/min recall@k per query.

    python tools/recall.py [sf_dir] [out.json]   # defaults sf0.01, RECALL.json
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.session import get_spark

# name -> metric space: cosine queries compare against the exact
# brute-force cosine baseline; PQ ranks by L2, so its ground truth is
# the exact L2 top-k (cosine would mis-grade it whenever the corpus
# vectors aren't normalized).
APPROX = {
    "ann_lsh_bucketed_topk": "cosine",
    "ann_ivf_topk": "cosine",
    "ann_ivf_kmeans_topk": "cosine",
    "ann_pq_topk": "l2",
}


def _topk_sets(rows) -> dict:
    out: dict = {}
    for r in rows:
        qid = r["query_id"] if "query_id" in r.__fields__ else r["qid"]
        out.setdefault(qid, set()).add(r["cand_id"])
    return out


def _exact_l2_topk(spark, sf_dir: str, k: int = 10):
    """Brute-force squared-L2 top-k over the same vec_id<5 query set."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from dataframe_retail_e_inventarios_spark.operators.pq import _sq_l2
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    j = (
        q.crossJoin(c)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", _sq_l2(F.col("qv"), F.col("cv")).alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cand_id"))
    return j.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _planted_corpus(spark, sf_dir: str, k: int = 10, rel_noise: float = 0.05,
                    seed: int = 7):
    """The natural corpus has NO true neighbors (max pairwise cos ~0.5
    — pure noise floor), so its recall numbers cannot distinguish a
    good partition-probing ANN from a broken one (r5 verdict #4). This
    builds the corpus a recall metric can actually grade: for each
    query vector (vec_id < 5), ``k`` PLANTED neighbors — the query
    plus small relative Gaussian noise (cos ~0.999, far above the
    noise floor), labels inherited so they live in the query's IVF
    cell the way real near-duplicates share a cluster. Planted ids are
    100000 + qid*100 + j.

    Returns (corpus_df, {query_id: set(planted ids)})."""
    import numpy as np
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", "embedding").toPandas()
    rng = np.random.RandomState(seed)
    rows, truth = [], {}
    for _, r in base[base.vec_id < 5].iterrows():
        qid = int(r.vec_id)
        v = np.asarray(r.embedding, dtype=np.float64)
        scale = rel_noise * float(np.sqrt((v * v).mean()))
        truth[qid] = set()
        for j in range(k):
            pid = 100000 + qid * 100 + j
            nv = v + rng.normal(0.0, scale, v.shape)
            rows.append((pid, int(r.label), [float(x) for x in nv]))
            truth[qid].add(pid)
    planted = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<float>").alias("embedding")
    )
    corpus = emb.select("vec_id", "label", "embedding").unionByName(planted)
    return corpus.localCheckpoint(eager=True), truth


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "RECALL.json"
    spark = get_spark("recall")
    qs = queries()
    exact_cos = _topk_sets(qs["ann_cosine_topk"](spark, sf_dir).collect())
    k = max(len(v) for v in exact_cos.values())
    exact_l2 = _topk_sets(_exact_l2_topk(spark, sf_dir, k).collect())
    report = {
        "metric": "ann_recall_at_k",
        "k": k,
        "sf_dir": sf_dir,
        "note": (
            "Two regimes. PLANTED (the binding quality gate): k true "
            "near-neighbors (cos ~0.999) are planted per query; a "
            "correct ANN must retrieve them — planted recall separates "
            "a working index from a broken one. NOISE-FLOOR (the "
            "natural corpus, max pairwise cos ~0.5, no real neighbors): "
            "kept as the stress exhibit — partition-probing ANN "
            "provably trades recall for scan fraction there, so those "
            "numbers grade the regime, not the index. Registered-query "
            "defaults (lsh r=2xb=12, ivf nprobe=2, kmeans nprobe=3, pq "
            "shortlist=100) are chosen to clear >= 0.9 planted recall — "
            "see planted_nprobe_curve for the ivf justification."
        ),
        "planted": {},
        "noise_floor": {},
    }

    # -- planted regime: the quality gate ---------------------------------
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.operators.pq import pq_topk_reranked
    from dataframe_retail_e_inventarios_spark.operators.similarity import (
        cosine_topk,
        ivf_kmeans_topk,
        ivf_topk,
        lsh_bucketed_topk,
    )

    corpus, truth = _planted_corpus(spark, sf_dir, k=k)
    qf = F.col("vec_id") < 5

    def planted_recall(rows) -> dict:
        got = _topk_sets(rows)
        recalls = [
            len(truth[q] & got.get(q, set())) / len(truth[q]) for q in truth
        ]
        return {
            "n_queries": len(recalls),
            "mean_recall": round(sum(recalls) / len(recalls), 4),
            "min_recall": round(min(recalls), 4),
        }

    # sanity: the planted set IS the exact top-k (validates the fixture,
    # not the ANN)
    report["planted"]["exact_baseline"] = planted_recall(
        cosine_topk(corpus, qf, k=k).collect()
    )
    planted_runs = {
        "ann_lsh_bucketed_topk": lsh_bucketed_topk(corpus, qf, k=k),
        "ann_ivf_topk": ivf_topk(corpus, qf, k=k, nprobe=2),
        "ann_ivf_kmeans_topk": ivf_kmeans_topk(corpus, qf, k=k, nprobe=3),
        "ann_pq_topk": pq_topk_reranked(corpus, qf, k=k, shortlist=100),
    }
    for name, df in planted_runs.items():
        entry = planted_recall(df.collect())
        entry["space"] = APPROX[name]
        report["planted"][name] = entry
        print("planted", name, entry, flush=True)

    # planted nprobe curve: justifies the registered kmeans default
    n_cells = 10
    pcurve = {}
    for nprobe in (1, 2, 3, 5):
        entry = planted_recall(
            ivf_kmeans_topk(corpus, qf, k=k, nprobe=nprobe, n_cells=n_cells).collect()
        )
        entry["probed_fraction"] = round(nprobe / n_cells, 2)
        pcurve[str(nprobe)] = entry
        print("planted ivf_kmeans nprobe", nprobe, entry, flush=True)
    report["planted_nprobe_curve"] = {"n_cells": n_cells, "points": pcurve}

    # -- noise-floor regime: the stress exhibit ---------------------------
    # r10: ann_pq_topk / ann_ivf_kmeans_topk registered queries now emit
    # the planted-recall GATE contract (booleans), so the noise-floor
    # regime calls the underlying operators at the registered defaults
    # (same code path the gates exercise, raw top-k shape).
    from dataframe_retail_e_inventarios_spark.sources.readers import (
        load_table as _lt,
    )

    _emb = _lt(spark, sf_dir, "embeddings")
    _qf = F.col("vec_id") < 5
    noise_runs = {
        "ann_lsh_bucketed_topk": lsh_bucketed_topk(_emb, _qf, k=k),
        "ann_ivf_topk": ivf_topk(_emb, _qf, k=k, nprobe=2),
        "ann_ivf_kmeans_topk": ivf_kmeans_topk(_emb, _qf, k=k, nprobe=3),
        "ann_pq_topk": pq_topk_reranked(_emb, _qf, k=k, shortlist=100),
    }
    for name, space in APPROX.items():
        exact = exact_cos if space == "cosine" else exact_l2
        approx = _topk_sets(noise_runs[name].collect())
        recalls = [
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ]
        entry = {
            "space": space,
            "n_queries": len(recalls),
            "mean_recall": round(sum(recalls) / len(recalls), 4),
            "min_recall": round(min(recalls), 4),
        }
        report["noise_floor"][name] = entry
        print("noise_floor", name, entry, flush=True)

    # nprobe sweep: measured backing for the recall-vs-probed-fraction
    # tradeoff (the registered queries pin nprobe=2/3; this shows the
    # knob works and recall is monotone in it)
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.operators.similarity import (
        ivf_kmeans_topk,
    )
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = 10
    curve = {}
    for nprobe in (1, 2, 3, 5, 10):
        rows = ivf_kmeans_topk(
            emb, F.col("vec_id") < 5, k=k, nprobe=nprobe, n_cells=n_cells
        ).collect()
        approx = _topk_sets(rows)
        recalls = [
            len(exact_cos[q] & approx.get(q, set())) / len(exact_cos[q])
            for q in exact_cos
        ]
        curve[str(nprobe)] = {
            "mean_recall": round(sum(recalls) / len(recalls), 4),
            "probed_fraction": round(nprobe / n_cells, 2),
        }
        print("ivf_kmeans nprobe", nprobe, curve[str(nprobe)], flush=True)
    report["ivf_nprobe_curve"] = {"n_cells": n_cells, "points": curve}
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print("wrote", out_path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
