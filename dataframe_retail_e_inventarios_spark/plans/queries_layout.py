"""Physical-layout query twins [SURVEY §4.2]: the flagship pipeline
over a TIME-PARTITIONED copy of the fact, proving the partition-pruning
posture on the flagship path itself rather than only in isolation
tests.

At 100 TB the fact table is never one flat directory: it's partitioned
by a coarse time bucket so date-bounded queries read the months they
touch and skip the rest at PLAN time (PartitionFilters in the scan —
zero I/O for pruned months, not even footers). This module registers
``flagship_inventory_partitioned``: a month-partitioned copy of
lineitem is written once per scale factor (operators/partitioning.
write_time_partitioned), the flagship runs over the slice at or after
``PARTITION_CUTOFF``, and the DuckDB oracle applies the identical date
bound to the flat table — so the hash check proves pruning did not
change semantics, while the plan test (tests/test_plan_quality.py)
proves the scan actually pruned (PartitionFilters present, fewer input
files than the full copy).

The cutoff sits on a month boundary ON PURPOSE: ``_part`` is
date_trunc('month', ts), so ``_part >= cutoff`` is exactly
``ts >= cutoff`` only when the cutoff is a month start — a mid-month
cutoff would need a residual row filter on top of the partition
filter. Boundary-aligned bounds are the norm for partition-pruned
pipelines; the oracle's plain ``l_shipdate >=`` bound keeps that
honest.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.exact import exact_money_sum_sql
from ..operators.partitioning import write_time_partitioned
from ..registry import register
from ..sources.readers import load_table
from .flagship import flagship, flagship_oracle

# Month-boundary cutoff: keeps 1999-2001 (~35 of ~82 months of the
# testdata span), so pruning is substantial but the surviving series
# still clear the 12-week admission gates at every test scale factor.
PARTITION_CUTOFF = "1999-01-01"

_WAREHOUSE = Path(__file__).resolve().parents[2] / "spark-warehouse"


def partitioned_lineitem_path(sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return str(_WAREHOUSE / f"lineitem_month_{tag}")


def partitioned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-partitioned copy of lineitem, written ONCE per sf_dir
    (testdata is immutable, so presence of _SUCCESS is a sufficient
    freshness check) and read back through the partition-discovering
    parquet source — the `_part` directory column is what the pruning
    predicate binds to."""
    path = partitioned_lineitem_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_time_partitioned(
            load_table(spark, sf_dir, "lineitem"), path, "l_shipdate", "month"
        )
    return spark.read.parquet(path)


def q_flagship_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship inventory pipeline over the partition-pruned fact slice
    [VERDICT r2 item 6]. Semantically: flagship_inventory restricted to
    sales at/after PARTITION_CUTOFF; physically: the scan lists only
    the surviving month directories."""
    pruned = (
        partitioned_lineitem(spark, sf_dir)
        .filter(F.col("_part") >= F.lit(PARTITION_CUTOFF).cast("date"))
        .drop("_part")
    )
    return flagship(spark, sf_dir, top_k=100, lineitem=pruned)


def _partitioned_oracle() -> str:
    """The flagship oracle with the cutoff pushed into the sales CTE —
    the flat-table equivalent of the partition filter."""
    base = flagship_oracle()
    anchor = "FROM lineitem\n  WHERE "
    assert anchor in base, "flagship oracle shape changed; update anchor"
    return base.replace(
        anchor,
        f"FROM lineitem\n  WHERE l_shipdate >= TIMESTAMP '{PARTITION_CUTOFF}' AND ",
        1,
    )


register("flagship_inventory_partitioned", q_flagship_partitioned, _partitioned_oracle())


# -- deliberately skewed join, split by AQE --------------------------------
#
# The testdata's natural part-key distribution is near-uniform, so the
# skew demo CONSTRUCTS a pathological key deterministically: 60% of
# fact rows remap to part key 1 (hk below). Both engines apply the
# identical remap, so the plain shuffle join that AQE's skew-split must
# save at runtime is hash-checked against the plain SQL join. The AQE
# skew=true plan assertion lives in tests/test_partitioning.py. The
# explicit salted rewrite is ``skew_salted_brand_revenue``
# (queries_trend.py), which reuses ``_brand_revenue``.

def _hot_key_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 6, F.lit(1))
        .otherwise(F.col("l_partkey"))
        .alias("hk"),
        "l_extendedprice",
        "l_discount",
    )


def _brand_revenue(joined: DataFrame) -> DataFrame:
    from ..functions.exact import exact_money_sum

    return joined.groupBy("p_brand").agg(
        exact_money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


def q_skew_hot_plain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The straggler shape on purpose: one key carries 60% of the fact
    into a shuffle join. At scale this is what AQE's skew-join split
    handles at runtime (skewedPartitionFactor/ThresholdInBytes); the
    plan test runs THIS query under forced-shuffle confs and asserts
    SortMergeJoin(skew=true) in the final adaptive plan.

    The split is MAP-OUTPUT-GRANULAR: AQE carves a skewed reduce
    partition along mapper boundaries, so a scan that collapses to one
    map task (the single-file test fixture — and any undersized read)
    makes the split structurally impossible no matter the thresholds.
    A 100 TB fact scan has thousands of mappers and never hits this;
    the conditional re-fan below restores that real-scale shape when
    the local scan starves (and is a no-op otherwise), which is also
    simply correct parallelism hygiene for a skew-prone join input."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("hk"), "p_brand"
    )
    fact = _hot_key_fact(spark, sf_dir)
    min_maps = spark.sparkContext.defaultParallelism
    if fact.rdd.getNumPartitions() < min_maps:
        fact = fact.repartition(min_maps)
    return _brand_revenue(fact.join(part, "hk"))


register(
    "skew_hot_key_revenue_plain",
    q_skew_hot_plain,
    f"""
WITH f AS (
  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 1 ELSE l_partkey END AS hk,
         l_extendedprice, l_discount
  FROM lineitem
)
SELECT p_brand,
       {exact_money_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(*) AS n_lines
FROM f JOIN part ON hk = p_partkey
GROUP BY 1
""",
)
