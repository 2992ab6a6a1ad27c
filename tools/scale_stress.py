"""Scale-stress harness: synthesize a K-times larger dataset from
sf0.1 by unioning key-shifted copies (MORE series / users / docs /
vectors, not just fatter groups — growing key cardinality is what
stresses shuffles), run the heavy headline queries on both sizes, and
report the wall-time ratio vs the ideal K.

A query whose ratio stays near K scales linearly in data size; a
super-linear ratio exposes a scale cliff (quadratic pair joins,
single-partition bottlenecks) before a real cluster does.

Usage: python tools/scale_stress.py [K] [base_sf_dir]
Writes scaled parquet under $TMPDIR/spark_graft_scale_K (reused if
present) and prints one JSON line per query plus a summary.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.session import get_spark
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tools.harness import best_of

STRESS_QUERIES = [
    # (query, table it stresses)
    ("flagship_inventory", "lineitem"),
    ("ewma_weekly_demand", "lineitem"),
    ("trailing_moving_average", "lineitem"),
    ("window_rank_family", "lineitem"),
    ("croston_forecast", "lineitem"),
    ("abc_classification", "lineitem"),
    ("events_sessionization", "events"),
    ("events_sliding_counts", "events"),
    ("cdc_latest_state", "events"),
    ("dedup_minhash_lsh", "documents"),
    ("bm25_top_terms", "documents"),
    ("doc_chunks", "documents"),
    ("embedding_cosine_neardup_bucketed", "embeddings"),
    ("holt_linear_forecast", "lineitem"),
    ("theta_forecast", "lineitem"),
    ("mann_kendall_trend", "lineitem"),
    ("gopher_quality_flags", "documents"),
    ("pagerank_event_graph", "events"),
    # round-3 part-2 families: key-cardinality axis for each new shape
    ("scd2_user_event_history", "events"),
    ("last_touch_attribution", "events"),
    ("pit_join_purchase_state", "events"),
    ("rolling_active_users", "events"),
    ("incremental_monthly_rollup", "lineitem"),
    ("inventory_projection_folded", "lineitem"),
    ("demand_anomalies_mad", "lineitem"),
    ("bigram_logprob_scores", "documents"),
    ("passage_dedup_stats", "documents"),
    ("duplicate_ngram_fraction", "documents"),
    ("source_kl_divergence", "documents"),
    ("zipf_vocab_topk", "documents"),
    ("embedding_int8_quantization", "embeddings"),
    ("embedding_pca_projection", "embeddings"),
    # round-8 additions: the curation chain (key-cardinality axis =
    # more docs AND more sources), the PPJoin+ prefix join, the HLL
    # profile default, and the new classic-join silhouettes.
    ("llm_curation_pipeline", "documents"),
    ("dedup_setsim_prefix", "documents"),
    ("source_score_calibration", "documents"),
    ("profile_lineitem_columns_approx", "lineitem"),
    ("shipping_priority_topk", "lineitem"),
    ("local_supplier_volume", "lineitem"),
    ("nation_market_share", "lineitem"),
    # round-9 additions: the Q21 exists/not-exists qualification (the
    # per-(order,supplier) rollup is the key-cardinality axis), the
    # Q20 semi-join, and the Q9 profit rollup.
    ("waiting_supplier_count", "lineitem"),
    ("dominant_supplier_parts", "lineitem"),
    ("product_type_profit", "lineitem"),
    # round-10 additions: the NB classifier (8x docs AND the same 5
    # langs — the count table grows with vocab x langs, scoring with
    # corpus), and the re-keyed blocked-levenshtein entity join (8x
    # part names through the new (block, length) equi-key).
    ("nb_langid_confusion", "documents"),
    ("fuzzy_part_name_pairs", "part"),
    # round-12 additions: the three steepest 10x-curve queries after
    # dedup_setsim_prefix (BENCH_scale_r12 slopes 7.3 / 6.1 / 5.9) —
    # targeted-decade candidates for attribution.
    ("time_decay_attribution", "events"),
    ("bpe_pair_counts", "documents"),
    ("association_rules", "lineitem"),
]

# Tables any stress query touches (flagship etc. may read dims).
TABLES = (
    "lineitem", "orders", "customer", "supplier", "part", "nation", "region",
    "events", "documents", "embeddings",
)


def _shifted(df, table: str, i: int):
    """Copy i of a table with keys shifted so cardinality grows K-fold."""
    if i == 0:
        return df
    if table == "lineitem":
        # new series: shift the store key; new orders too.
        return df.withColumn("l_suppkey", F.col("l_suppkey") + 10_000 * i).withColumn(
            "l_orderkey", F.col("l_orderkey") + 100_000_000 * i
        )
    if table == "orders":
        # Shift o_orderkey IN LOCKSTEP with lineitem's l_orderkey so
        # the fact-fact join keeps every shifted copy (r9 review: with
        # orders unscaled, shifted lineitem rows dropped at the inner
        # join and every order-joining stress row certified only scan
        # growth). o_custkey stays unshifted — customer is a dim, and
        # the join must keep matching it.
        return df.withColumn("o_orderkey", F.col("o_orderkey") + 100_000_000 * i)
    if table == "events":
        return (
            df.withColumn("event_id", F.col("event_id") + 1_000_000_000 * i)
            .withColumn("user_id", F.col("user_id") + 1_000_000 * i)
        )
    if table == "documents":
        # distinct ids AND slightly distinct text (a pure k-fold exact
        # duplication would quadratically inflate near-dup outputs and
        # measure output explosion, not operator scaling).
        return df.withColumn("doc_id", F.col("doc_id") + 1_000_000 * i).withColumn(
            "text", F.concat(F.col("text"), F.lit(f" variant{i}"))
        )
    if table == "embeddings":
        return df.withColumn("vec_id", F.col("vec_id") + 1_000_000 * i).withColumn(
            "embedding",
            F.transform(F.col("embedding"), lambda v: v + F.lit(float(i)) * 1e-4),
        )
    if table == "part":
        # shifted keys match no unscaled lineitem rows (joins keep
        # their base semantics; part-side scans grow k-fold) and a
        # 2i-char suffix keeps every cross-copy name pair > 1 edit
        # apart, so blocked-levenshtein pair output grows k-fold (one
        # replica of each base pair per copy), never k².
        return df.withColumn("p_partkey", F.col("p_partkey") + 1_000_000 * i).withColumn(
            "p_name", F.concat(F.col("p_name"), F.lit(" " + "x" * (2 * i)))
        )
    return df  # dims stay as-is


def scaled_fixture_dir(k: int) -> str:
    """The ONE versioned path for the k-fold fixture — imported by
    every harness that builds or reuses it (r9 ADVICE: stream_state_
    stress had its own unversioned name, so the _v2 cache-busting
    rename that fixed the FK-preserving orders recipe would not have
    invalidated ITS cache). Bump the _v suffix with any recipe change;
    build_scaled skips existing table dirs, so a stale path silently
    reuses the old recipe. _v3: part is now scaled too (shifted keys +
    a 2i-char name suffix so cross-copy names stay > 1 edit apart —
    entity pairs grow k-fold, not k²)."""
    return os.path.join(tempfile.gettempdir(), f"spark_graft_scale_{k}x_v3")


def build_scaled(spark, base_dir: str, k: int, out_dir: str) -> None:
    for table in TABLES:
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        base = load_table(spark, base_dir, table)
        if table in ("lineitem", "orders", "events", "documents", "embeddings", "part"):
            df = base
            scaled = df
            for i in range(1, k):
                scaled = scaled.unionByName(_shifted(df, table, i))
        else:
            scaled = base
        scaled.write.mode("overwrite").parquet(dst)


def time_query(qs, name: str, sf_dir: str, runs: int = 2) -> float:
    """min-of-N (r11: was single-shot — the r10-verdict-#6 32x point
    first read ratio 60, then 48, then 32.1 purely from base-leg
    variance of a ~5 s query on a busy box; the stress RATIO is the
    evidence, so both legs get the same min-of-2 the bench's light
    group uses)."""
    best, _ = best_of(lambda: qs[name](SPARK, sf_dir).count(), runs)
    return round(best, 2)


def main() -> None:
    global SPARK
    argv = list(sys.argv[1:])
    only: list[str] = []
    if "--queries" in argv:
        # r10 verdict #6: a deeper decade (32x/64x) is affordable only
        # for a targeted subset — the queries whose blocked/prefix-
        # filter math carries the heaviest scale load.
        i = argv.index("--queries")
        if i + 1 >= len(argv):
            print("--queries requires a comma-separated name list", file=sys.stderr)
            raise SystemExit(2)
        only = [q for q in argv[i + 1].split(",") if q]
        del argv[i : i + 2]
    k = int(argv[0]) if argv else 8
    base = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    # _v2 (in scaled_fixture_dir): the pre-r9-review fixture lacked
    # scaled orders — a stale cached dir would silently reproduce the
    # vacuous-join measurement.
    out = scaled_fixture_dir(k)
    os.makedirs(out, exist_ok=True)
    SPARK = get_spark("scale_stress")
    build_scaled(SPARK, base, k, out)

    qs = queries()
    qs["flagship_inventory"](SPARK, "/root/testdata/sf0.001").count()  # warm
    stress = STRESS_QUERIES
    if only:
        stress = [(n, t) for n, t in STRESS_QUERIES if n in only]
        missing = set(only) - {n for n, _ in stress}
        if missing:
            print(f"unknown stress queries: {sorted(missing)}", file=sys.stderr)
            raise SystemExit(2)
    results = {}
    for name, table in stress:
        t_base = time_query(qs, name, base)
        t_big = time_query(qs, name, out)
        ratio = round(t_big / max(t_base, 1e-9), 1)
        results[name] = {
            "table": table,
            "base_s": t_base,
            f"{k}x_s": t_big,
            "ratio": ratio,
            "linear?": bool(ratio <= k * 1.5),
        }
        print(json.dumps({"query": name, **results[name]}))
    worst = max(results.values(), key=lambda r: r["ratio"])
    print(json.dumps({"k": k, "worst_ratio": worst["ratio"], "all_linear": all(r["linear?"] for r in results.values())}))


if __name__ == "__main__":
    main()
