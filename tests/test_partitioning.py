"""Physical-layout machinery: partition pruning, salted joins,
bucketed shuffle-free joins — asserted on plans and results."""

import os

import pyspark.sql.functions as F
import pytest

from dataframe_retail_e_inventarios_spark.operators.partitioning import (
    salted_join,
    write_bucketed_table,
    write_time_partitioned,
)
from dataframe_retail_e_inventarios_spark.sources.readers import load_table
from tests.conftest import SF_SMOKE


def test_partition_pruning(spark, tmp_path):
    li = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "li_part")
    write_time_partitioned(li, path, "l_shipdate", "year")
    back = spark.read.parquet(path)

    q = back.filter(F.col("_part") == "1998-01-01")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_part" in plan.split("PartitionFilters")[1][:200]
    # Pruned scan reads only the one year's rows.
    expected = li.filter(F.year("l_shipdate") == 1998).count()
    assert q.count() == expected > 0


def test_salted_join_matches_plain_join(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(F.count("*"), F.sum("l_quantity"))
        .collect()[0]
    )
    salted = (
        salted_join(li, orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
        .agg(F.count("*"), F.sum("l_quantity"))
        .collect()[0]
    )
    assert plain[0] == salted[0]
    assert abs(plain[1] - salted[1]) < 1e-6


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    # warehouse.dir is static config; tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    # Pre-clean catalog AND physical location: a stale spark-warehouse/
    # dir left by an interrupted or concurrent run fails saveAsTable
    # with LOCATION_ALREADY_EXISTS even after DROP TABLE (the drop only
    # removes the catalog entry when the table isn't registered).
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    for t in ("li_b", "ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    try:
        li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
        orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed_table(li, "li_b", ["l_orderkey"], 8)
        write_bucketed_table(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b", ["l_orderkey"], 8
        )
        j = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_ivf_probe_is_exact_within_probed_cells(spark):
    """The IVF guarantee is NOT global recall (that depends on how
    clustered the data is — the synthetic embeddings are unclustered
    noise); it is that the probe returns the EXACT top-k among the
    vectors in the probed inverted lists. Verify against a brute-force
    rank restricted to the same candidate set."""
    import numpy as np

    from dataframe_retail_e_inventarios_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    got = ivf_topk(emb, F.col("vec_id") < 5, k=10, nprobe=2).toPandas()

    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    # Take the index AS BUILT by Spark (centroid fp-estimation order
    # differs from numpy's and legitimately flips near-tied probe
    # rankings on unclustered data); the property under test is the
    # probe + exact re-rank given that index.
    cent_df, assign = ivf_index(emb)
    cell = {r.cand_id: r.cell for r in assign.collect()}
    cents = {r.label: np.array(r.centroid, dtype=np.float64) for r in cent_df.collect()}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for qid in range(5):
        qv = vecs[qid]
        probed = sorted(cents, key=lambda c: (-cos(qv, cents[c]), c))[:2]
        cands = [i for i, c in cell.items() if c in probed and i != qid]
        expected = sorted(cands, key=lambda i: (-cos(qv, vecs[i]), i))[:10]
        assert got[got.query_id == qid]["cand_id"].tolist() == expected, qid


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join rewrite is the runtime complement to explicit
    salting: with one key carrying 60% of a shuffle join's rows, the
    final adaptive plan must mark the join skew-handled
    (SortMergeJoin(skew=true)) — the skewed partition is split across
    tasks instead of becoming the straggler."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 6, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        small = spark.range(0, 1_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("w")
        )
        j = big.join(small, "k").select("k", "pad", "w")
        n = 0
        for _ in j.toLocalIterator():
            n += 1
        assert n == 3_000_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_registered_hot_key_query_gets_aqe_skew_split(spark):
    """The REGISTERED skewed query (not a synthetic frame): under
    forced-shuffle confs with scale-appropriate thresholds, AQE must
    mark the hot-key join skew-handled in the final adaptive plan —
    the runtime counterpart of the salted twin, on the same query the
    correctness gate hash-checks."""
    from dataframe_retail_e_inventarios_spark.registry import queries

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = queries()["skew_hot_key_revenue_plain"](spark, SF_SMOKE)
        assert len(j.collect()) > 0  # execute THIS plan so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot-key partition"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_twin_spreads_hot_key_across_tasks(spark):
    """On the hot-key fact of ``skew_hot_key_revenue_plain`` (60% of
    rows on one key), ``salted_join``'s salt (the row's xxhash64 mod
    8, recomputed here) puts the hot key's rows in all 8 salt buckets,
    so a salted join of that fact gives no single task 60% of it. The
    plan side (``_salt`` in the join keys) is asserted on the
    registered ``skew_salted_brand_revenue`` in
    tests/test_plan_quality.py."""
    from dataframe_retail_e_inventarios_spark.plans.queries_layout import _hot_key_fact

    fact = _hot_key_fact(spark, SF_SMOKE)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8))
    n_buckets = (
        fact.filter(F.col("hk") == 1)
        .select(salt.alias("_salt"))
        .distinct()
        .count()
    )
    assert n_buckets == 8


def test_compaction_reduces_files_and_preserves_content(spark, tmp_path):
    import glob

    from dataframe_retail_e_inventarios_spark.operators.partitioning import (
        compact_files,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    messy = str(tmp_path / "messy")
    li.repartition(64).write.parquet(messy)  # simulated small-files ingest
    assert len(glob.glob(f"{messy}/part-*")) == 64

    compacted = str(tmp_path / "compacted")
    compact_files(spark.read.parquet(messy), compacted, n_files=4)
    assert len(glob.glob(f"{compacted}/part-*")) <= 4

    a = li.agg(
        F.count("*"), F.sum(F.col("l_quantity").cast("long")),
        F.sum(F.bround(F.col("l_extendedprice") * 100, 0).cast("long")),
    ).collect()[0]
    b = spark.read.parquet(compacted).agg(
        F.count("*"), F.sum(F.col("l_quantity").cast("long")),
        F.sum(F.bround(F.col("l_extendedprice") * 100, 0).cast("long")),
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_compaction_caps_records_per_file(spark, tmp_path):
    """max_records_per_file splits one fat task's output: no file holds
    more rows than the cap, and no row is lost."""
    import glob

    import pyarrow.parquet as pq

    from dataframe_retail_e_inventarios_spark.operators.partitioning import (
        compact_files,
    )

    ev = load_table(spark, SF_SMOKE, "events").coalesce(1)  # one fat task
    out = str(tmp_path / "capped")
    compact_files(ev, out, max_records_per_file=200)
    counts = [
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{out}/part-*.parquet")
    ]
    assert len(counts) >= 3  # the fat task was split
    assert max(counts) <= 200
    assert sum(counts) == ev.count()


def test_range_compaction_enables_file_skipping(spark, tmp_path):
    """Sorted (range-partitioned) layout must let a selective range
    predicate read FEWER rows from the scan than the shuffled layout —
    parquet footer min/max pruning, observed via the scan's
    numOutputRows metric."""
    from dataframe_retail_e_inventarios_spark.operators.partitioning import (
        compact_files,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    shuffled = str(tmp_path / "shuffled")
    ranged = str(tmp_path / "ranged")
    li.repartition(8).write.parquet(shuffled)
    compact_files(li, ranged, sort_col="l_orderkey", n_files=8)

    lo = li.agg(F.max("l_orderkey")).collect()[0][0] // 100  # ~1% slice

    def rows_read(path):
        df = spark.read.parquet(path).filter(F.col("l_orderkey") <= lo)
        df.collect()
        node = df._jdf.queryExecution().executedPlan()
        # walk to the leaf scan and read its numOutputRows metric
        while node.children().nonEmpty():
            node = node.children().head()
        return node.metrics().apply("numOutputRows").value()

    read_shuffled = rows_read(shuffled)
    read_ranged = rows_read(ranged)
    # the shuffled layout reads every row-group (predicate true rows
    # exist in all 8 files); the ranged layout skips ~7/8 of them
    assert read_ranged < read_shuffled / 2


def test_compaction_sort_without_nfiles_yields_disjoint_ranges(spark, tmp_path):
    """sort_col with n_files=None must still range-partition (ADVICE
    r4): every output file covers a disjoint l_orderkey range, so the
    footer min/max skipping claim holds in this configuration too."""
    import glob

    import pyarrow.parquet as pq

    from dataframe_retail_e_inventarios_spark.operators.partitioning import (
        compact_files,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    messy = str(tmp_path / "messy")
    li.repartition(6).write.parquet(messy)
    out = str(tmp_path / "ranged_default")
    compact_files(spark.read.parquet(messy), out, sort_col="l_orderkey")

    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ci = md.row_group(0).column(0)
        lo = ci.statistics.min
        hi = ci.statistics.max
        for rg in range(1, md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            lo, hi = min(lo, st.min), max(hi, st.max)
        ranges.append((lo, hi))
    assert len(ranges) > 1  # kept the incoming partition count
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # disjoint (boundary key may repeat)
    # content preserved
    assert spark.read.parquet(out).count() == li.count()


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A fact partitioned on disk joined to a FILTERED dim must get a
    runtime partition filter (dynamicpruningexpression) — Catalyst's
    DPP, the mechanism that keeps star joins from scanning every
    partition when the predicate lives on the dimension side. This is
    free at 100 TB only if the layout + join shape allow it; assert it
    actually fires."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    path = str(tmp_path / "li_month")
    (
        li.withColumn(
            "ship_month", (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("int")
        )
        .write.mode("overwrite")
        .partitionBy("ship_month")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    # An INDEPENDENT month dimension with a real attribute to filter
    # on: DPP's heuristic requires a selective non-join-column
    # predicate on the dim side (a constant lit(True) filter folds
    # away and never qualifies — probed explicitly).
    months = sorted(r[0] for r in fact.select("ship_month").distinct().collect())
    dim = spark.createDataFrame(
        [(m, (m % 100 - 1) // 3 + 1) for m in months], "ship_month int, qtr int"
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    dim_back = spark.read.parquet(dim_path).filter(F.col("qtr") == 1)
    q = fact.join(dim_back, "ship_month").agg(F.sum("l_quantity").alias("qty"))
    plan = q._jdf.queryExecution().sparkPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # pruned result == statically filtered result
    q1 = [m for m in months if (m % 100 - 1) // 3 + 1 == 1]
    expected = (
        fact.filter(F.col("ship_month").isin(q1)).agg(F.sum("l_quantity")).collect()[0][0]
    )
    assert abs(q.collect()[0][0] - expected) < 1e-6


def test_runtime_bloom_filter_reduces_shuffle_join(spark, tmp_path):
    """With broadcast disabled (fact-to-fact shape), Spark's runtime
    bloom filter should inject a might_contain semi-filter on the big
    side, pruning shuffle input by the small side's key set. Thresholds
    are lowered to make the fixture qualify; the assertion is that the
    optimizer path is available and fires under the documented confs."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li_path = str(tmp_path / "li")
        ord_path = str(tmp_path / "ord")
        load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_quantity"
        ).write.parquet(li_path)
        load_table(spark, SF_SMOKE, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).write.parquet(ord_path)
        big = spark.read.parquet(li_path)
        # the injection heuristic needs a SELECTIVE filter visible on
        # the creation side at plan time (a pre-filtered file has no
        # filter node and never qualifies)
        small = spark.read.parquet(ord_path).filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        q = big.join(small, big.l_orderkey == small.o_orderkey).agg(
            F.sum("l_quantity")
        )
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
        assert q.collect()[0][0] is not None
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
