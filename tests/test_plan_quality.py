"""Physical-plan assertions (SURVEY §4.2): these lock in the scale
properties — column pruning reaching the scan, predicate pushdown,
broadcast joins for dims, whole-stage codegen — so a regression shows
up as a test failure, not a 10x slowdown at deploy time."""

import re

import pytest
import pyspark.sql.functions as F

from dataframe_retail_e_inventarios_spark.operators.cleaning import clean_sales
from dataframe_retail_e_inventarios_spark.registry import queries
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    # clean_project_filter touches 6 of 11 lineitem columns; the scan
    # must not read the rest.
    plan = plan_of(spark, "clean_project_filter")
    assert "l_orderkey" in plan
    assert "l_shipdate" not in plan.split("ReadSchema")[-1]
    assert "l_returnflag" not in plan.split("ReadSchema")[-1]


def test_filter_pushdown_to_scan(spark):
    # o_orderstatus = 'O' is a plain comparison -> parquet PushedFilters.
    plan = plan_of(spark, "semi_join_open_orders")
    assert "PushedFilters" in plan
    assert "EqualTo(o_orderstatus,O)" in plan


def test_star_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "star_join_revenue")
    # customer/nation/region joins must be broadcast-hash, not shuffle.
    # (WholeStageCodegen spans only appear in the post-execution AQE
    # plan, so the codegen check lives in test_codegen_applies.)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_codegen_applies(spark):
    df = queries()["star_join_revenue"](spark, SF_SMOKE)
    df.collect()  # execute THIS plan so AQE finalizes it
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # "*(n)" prefixes mark WholeStageCodegen spans in the compact
    # rendering; joins + aggregates must sit inside them.
    assert "*(5) BroadcastHashJoin" in plan or "*(" in plan.split("HashAggregate")[0] + "HashAggregate"
    assert plan.count("*(") >= 4


def test_ann_broadcasts_queries(spark):
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_flagship_shuffle_budget(spark):
    """The flagship should reduce the fact early (partial aggregation)
    and reuse one series-key partitioning for all window work."""
    plan = plan_of(spark, "flagship_inventory")
    # partial agg before the weekly shuffle (map-side combine)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan
    # Budget: (1) fact -> weekly on (keys, week); (2) weekly -> series
    # on (keys), whose partitioning every window + the final aggregate
    # then REUSE. More than 5 means a partitioning stopped being reused
    # (e.g. the dense gap-fill regressed to a spine join).
    n = plan.count("+- Exchange")
    assert n <= 5, f"exchange count grew: {n}"
    # Global top-k must be TakeOrderedAndProject (map-side partial
    # top-k), never a single-partition Window over the full result.
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan.split("TakeOrderedAndProject")[0]


def test_dedup_pair_joins_are_banded(spark):
    """No dedup pair operator may fall back to an all-pairs join: the
    SimHash and MinHash-LSH candidate joins are band equi-joins (hash
    or sort-merge), never CartesianProduct. (The 1-row hot-shingle
    broadcast in the LSH plan is a BroadcastNestedLoopJoin by nature,
    so only the cartesian check applies there.)"""
    plan = plan_of(spark, "dedup_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band_val" in plan
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "band_key" in plan


def test_cdc_merge_single_shuffle(spark):
    """Changelog compaction is union + ONE key shuffle: the window
    rank partitioning is the only Exchange; the base/changes split
    must not introduce extra ones."""
    plan = plan_of(spark, "cdc_latest_state")
    assert plan.count("+- Exchange") == 1
    assert "Union" in plan  # plan concatenation, not a join


def test_sliding_window_is_generator_not_self_union(spark):
    """window(ts, 1h, 30min) must compile to the window generator
    (Expand/Explode of window structs) + one aggregate shuffle, never
    a self-union of two tumbling plans (which would scan events
    twice)."""
    plan = plan_of(spark, "events_sliding_counts")
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("+- Exchange") == 1  # the (window, type) aggregate


def test_bm25_single_tokenize_pass_and_broadcast_stats(spark):
    """tf/df/dl/stats all read the ONE materialized tf frame: the
    final plan contains no tokenize+explode at all (it happened once,
    before the checkpoint) and no cartesian blowup."""
    plan = plan_of(spark, "bm25_top_terms")
    assert plan.count("Generate explode") == 0
    assert plan.count("Scan parquet") == 0  # reads the checkpointed tf
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_no_inferred_generate_filters(spark):
    """Regression guard for the InferFiltersFromGenerate trap: spine
    and shingle explodes must not re-evaluate their input expression
    inside a synthesized Filter (see operators/dedup.doc_shingles)."""
    for name in ("weekly_resample_dense", "dedup_ngram_jaccard"):
        plan = plan_of(spark, name)
        for line in plan.splitlines():
            if line.strip().startswith("Filter") or "+- Filter" in line:
                assert "sequence(" not in line, name
                assert "transform(" not in line, name


def test_trend_family_shuffle_budget(spark):
    """OLS / Holt / theta / Mann-Kendall all reduce to ONE dense-series
    partitioning: dense resample on (product, week) -> series aggregate
    on (product). More exchanges means a fold started shuffling twice."""
    for name in ("ols_demand_trend", "holt_linear_forecast",
                 "theta_forecast", "mann_kendall_trend"):
        plan = plan_of(spark, name)
        n = plan.count("+- Exchange")
        assert n <= 4, f"{name}: exchange count grew to {n}"
        # The quadratic MK pair sum must run as a per-row fold over the
        # series array, never as a self-join.
        assert "Join" not in plan or name != "mann_kendall_trend"


def test_model_fit_plan_shape(spark):
    """The model-fit queries: fact -> weekly aggregate, the pre-gated
    dense table, and ONE key repartition feeding a single mapInPandas.
    The admission gate runs inside the fit, so a window sort over the
    dense table (a native gate coming back) or a second Python node
    shows up here."""
    for name in ("forecast_udf_ensemble", "forecast_udf_ensemble_native"):
        plan = plan_of(spark, name)
        assert plan.count("Exchange") == 3, name
        assert plan.count("Window") == 0, name
        assert plan.count("MapInPandas") == 1, name


def test_clean_sales_is_one_project_one_filter(spark):
    """The reference's rename -> coerce -> fillna -> filter chain collapses
    into one Project over one Filter over the scan, which reads only the
    four columns it names; no shuffle."""
    df = clean_sales(load_table(spark, SF_SMOKE, "lineitem"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [re.match(r"[\s:+|-]*(?:\*\(\d+\) )?(\w+)", line).group(1)
             for line in plan.splitlines()]
    assert nodes == ["Project", "Filter", "ColumnarToRow", "FileScan"], nodes
    read_schema = plan.split("ReadSchema: ")[1]
    assert read_schema.count(":") == 4, read_schema


def test_pricing_summary_single_pass(spark):
    """One scan, one 2-key exchange, no joins — the canonical shape."""
    plan = plan_of(spark, "tpch_pricing_summary")
    assert plan.count("Scan parquet") == 1
    assert plan.count("+- Exchange") <= 1
    assert "Join" not in plan


def test_salted_query_spreads_key(spark):
    """The salted join must shuffle on (key, salt), not key alone, and
    must not degrade to a broadcast that would defeat the spread."""
    plan = plan_of(spark, "skew_salted_brand_revenue")
    assert "_salt" in plan


def test_registered_similarity_scale_paths_never_all_pairs(spark):
    """Every REGISTERED embedding-similarity scale path must be a band/
    bucket equi-join — CartesianProduct (or an unbroadcast nested-loop)
    in any of these plans means the O(n^2) fallback leaked back into a
    user-facing query. (The exact all-pairs twin embedding_cosine_neardup
    is corpus-size-guarded at the operator level instead — covered by
    test_allpairs_neardup_guard_raises_on_large_corpus.)"""
    for name in (
        "embedding_cosine_neardup_bucketed",
        "ann_lsh_bucketed_topk",
        "ann_ivf_topk",
        "ann_ivf_kmeans_topk",
        "sparse_cosine_topk",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_partitioned_flagship_prunes_months_at_plan_time(spark):
    """The partitioned-layout flagship must push its date bound into
    the scan as a PartitionFilter (directory-level pruning, zero I/O
    for pruned months) — asserted on the flagship plan itself, and
    backed by the file listing: the pruned scan reads only the
    surviving month directories of the partitioned copy."""
    from dataframe_retail_e_inventarios_spark.plans.queries_layout import (
        PARTITION_CUTOFF,
        partitioned_lineitem,
    )

    plan = plan_of(spark, "flagship_inventory_partitioned")
    seg = plan.split("PartitionFilters: [")
    assert len(seg) >= 2, "no PartitionFilters in the flagship scan"
    assert "_part" in seg[1].split("]")[0]

    # Execute the pruned scan and record which files it ACTUALLY read
    # (inputFiles() lists the unpruned FileIndex, so it can't serve as
    # evidence). Every touched month directory must be >= the cutoff,
    # and strictly fewer directories than the full copy holds.
    full = partitioned_lineitem(spark, SF_SMOKE)
    pruned = full.filter(F.col("_part") >= F.lit(PARTITION_CUTOFF).cast("date"))
    read_dirs = {
        r[0].rsplit("/", 2)[1]
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    all_dirs = {f.rsplit("/", 2)[1] for f in full.inputFiles()}
    assert 0 < len(read_dirs) < len(all_dirs)
    for part in read_dirs:
        assert part >= f"_part={PARTITION_CUTOFF}", part


def test_scd2_single_exchange(spark):
    """Both SCD2 window passes share the (user_id, event_type)
    partitioning: exactly one hash exchange in the plan."""
    plan = plan_of(spark, "scd2_user_event_history")
    assert plan.count("Exchange hashpartitioning") == 1


def test_holdout_split_is_scan_side(spark):
    """The split function is a pure projection: no join, no window —
    one exchange for the final 3-group aggregate only."""
    plan = plan_of(spark, "group_holdout_split")
    assert "Join" not in plan
    assert "Window" not in plan


def test_zipf_topk_is_distributed_topk(spark):
    """The heavy ranking must be TakeOrderedAndProject (distributed
    top-k), never a global single-partition Sort + Window over the
    whole vocabulary."""
    plan = plan_of(spark, "zipf_vocab_topk")
    assert "TakeOrderedAndProject" in plan


def test_ngram_and_passage_shuffles_carry_hashes_not_text(spark):
    """The duplicated-n-gram and passage-dedup group-bys key on the
    32-bit fingerprint: no string gram/chunk column in any exchange."""
    for name in ("duplicate_ngram_fraction", "passage_dedup_stats"):
        plan = plan_of(spark, name)
        for line in plan.splitlines():
            if line.strip().startswith("Exchange hashpartitioning"):
                assert "gh#" in line, f"{name}: non-hash shuffle key: {line}"


def test_incremental_fold_single_shuffle_over_partials(spark):
    """Union-of-partials + re-aggregate: the fold itself must not add
    a shuffle per input — partials aggregate under one exchange."""
    plan = plan_of(spark, "incremental_monthly_rollup")
    # two partial rollups + one fold: 3 aggregation exchanges max,
    # and no join anywhere (the fold is a union, not a merge join)
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_attribution_single_user_shuffle(spark):
    plan = plan_of(spark, "last_touch_attribution")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_pit_join_is_windowed_not_joined(spark):
    """Point-in-time enrichment must be the union + carry-forward
    window (one user shuffle), never an interval/inequality join."""
    plan = plan_of(spark, "pit_join_purchase_state")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_mad_screen_has_no_window_median(spark):
    """Robust MAD screen uses grouped exact medians (portable), not a
    window median."""
    plan = plan_of(spark, "demand_anomalies_mad")
    assert "percentile" in plan.lower()
    # the only Window ops allowed are none at all
    assert "Window" not in plan


def test_multi_consumer_queries_scan_once(spark):
    """Queries whose plan fans one frame into several consumers must
    materialize that frame: the executed plan contains NO parquet
    re-scan (the localCheckpointed frame is the only source)."""
    for name in (
        "source_kl_divergence",
        "domain_mixture_weights",
        "rolling_active_users",
        "passage_dedup_stats",
        "bigram_logprob_scores",
    ):
        plan = plan_of(spark, name)
        assert plan.count("FileScan parquet") == 0, f"{name} re-scans parquet"


def test_funnel_pushes_step_filters_to_scan(spark):
    # Each funnel step reads only its event type: the equality
    # predicate must reach the parquet scan, and only the three used
    # columns survive pruning.
    plan = plan_of(spark, "window_funnel_levels")
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "value" not in plan.split("ReadSchema")[-1]


def test_elasticity_broadcasts_part_dim(spark):
    plan = plan_of(spark, "price_elasticity_by_brand")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_oov_rate_broadcasts_vocab_and_takeordered_topk(spark):
    # vocab induction is a distributed top-k (TakeOrderedAndProject),
    # and the coverage join broadcasts the 512-row vocab — the corpus
    # side must not shuffle for it.
    plan = plan_of(spark, "tokenizer_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_join_probe_never_joins_fact_rows(spark):
    # the probe joins per-key HISTOGRAMS (post-aggregate), so each
    # side aggregates BEFORE the join: no fact-row join appears.
    plan = plan_of(spark, "join_cardinality_probe")
    pre, _, post = plan.partition("SortMergeJoin")
    if not post:  # AQE may choose broadcast for the histogram join
        pre, _, post = plan.partition("BroadcastHashJoin")
    assert post, "expected a histogram join in the plan"
    # both join inputs are aggregates, not scans: HashAggregate must
    # appear on the build side string before any parquet scan does
    assert post.count("HashAggregate") >= 2


def test_waiting_supplier_single_qualification_shuffle(spark):
    """Q21 silhouette: the exists/not-exists pair must collapse into
    window aggs over ONE per-(order,supplier) rollup — no fact-fact
    self-joins, no cartesian, broadcast supplier/nation dims, and the
    window must reuse the rollup's exchange (the rollup repartitions
    on l_orderkey ALONE — a subset of the grouping keys — which
    satisfies the pair aggregate AND both windows' distributions)."""
    plan = plan_of(spark, "waiting_supplier_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation
    # lineitem scans once: one join with orders, zero self-joins
    assert plan.count("lineitem.parquet") == 1
    # the top-100 is a distributed top-k, not a global sort
    assert "TakeOrderedAndProject" in plan
    # qualification pipeline = ONE l_orderkey exchange shared by the
    # pair agg and both windows, + the final per-supplier agg
    # exchange; no exchange keyed on the (order,supp) pair (r10: was
    # <=3 with an avoidable pair-keyed agg shuffle before the window).
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan
    # plan strings carry expression IDs (l_orderkey#123L), so match by
    # regex, not literal column lists (r10 review: the literal form
    # could never match and the guard was vacuous)
    import re

    assert re.search(r"hashpartitioning\(l_orderkey#\d+L?, \d+\)", plan), plan
    assert not re.search(
        r"hashpartitioning\(l_orderkey#\d+L?, l_suppkey#", plan
    ), plan


def test_dominant_supplier_semi_join_shape(spark):
    """Q20 silhouette: part-name filter broadcast BELOW the rollup,
    correlated scalar as a window over the rollup's own exchange,
    supplier qualification as a LEFT SEMI broadcast join."""
    plan = plan_of(spark, "dominant_supplier_parts")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # part prune + semi
    # year filter reaches the lineitem scan
    assert "PushedFilters" in plan
    # one lineitem scan; the per-part total must come from a window,
    # not a second aggregate-and-join pass
    assert plan.count("lineitem.parquet") == 1
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan


def test_product_type_profit_prunes_part_below_fact_join(spark):
    """Q9 silhouette: the part-name filter must broadcast-prune
    lineitem BEFORE the orders join; supplier/nation broadcast; one
    fact-fact exchange pair for the order join plus the final agg."""
    plan = plan_of(spark, "product_type_profit")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # part + supplier + nation
    assert plan.count("lineitem.parquet") == 1
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 3, plan
