"""Physical-layout operators for the 100 TB posture [SURVEY §4.2]:
time-partitioned fact storage (partition pruning), salted joins for
skewed keys, bucketed tables for shuffle-free co-located joins, and
``compact_files``, the one writer for size-capped and range- or
Z-clustered files.

These don't change query semantics — they change what the scan reads
and where the shuffle happens, which is the difference between a query
that runs and one that doesn't at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def write_time_partitioned(
    df: DataFrame, path: str, ts_col: str, granularity: str = "month"
) -> None:
    """Write a fact partitioned by a coarse time bucket. Date-range
    predicates then prune whole directories at plan time
    (PartitionFilters in the scan) instead of reading and filtering."""
    bucketed = df.withColumn(
        "_part", F.date_trunc(granularity, F.col(ts_col)).cast("date")
    )
    bucketed.write.mode("overwrite").partitionBy("_part").parquet(path)


SALT_BUCKETS = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
) -> DataFrame:
    """Inner equi-join with key salting for skew [SURVEY §4.2].

    The big side gets a random-ish salt derived from a stable row hash
    (deterministic — no rand(), so plans stay reproducible); the small
    side is exploded across all salt values. A key carrying 30% of the
    data then lands in ``SALT_BUCKETS`` separate tasks instead of one
    straggler. AQE's skew-join handles moderate skew automatically;
    salting is for the pathological keys AQE can't split (e.g. a
    single giant build-side group in an aggregation-after-join).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(SALT_BUCKETS))
    big_s = big.withColumn("_salt", salt)
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    out = big_s.join(small_s, on=[key, "_salt"])
    return out.drop("_salt")


def write_bucketed_table(
    df: DataFrame, table: str, keys: list[str], n_buckets: int = 16
) -> None:
    """Persist a table bucketed (and sorted) by join keys: two tables
    bucketed the same way join with ZERO shuffle on either side —
    the co-located join that makes repeated fact-to-fact joins viable
    at scale."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def compact_files(
    df: DataFrame,
    path: str,
    sort_col: str | Column | None = None,
    max_records_per_file: int = 1_000_000,
    n_files: int | None = None,
) -> None:
    """The package's one layout writer: small-files compaction with an
    optional range layout.

    A streaming/hourly ingest leaves thousands of tiny files per
    partition; scan cost becomes task-scheduling overhead instead of
    IO. Compaction = rewrite at a target file size.
    ``max_records_per_file`` caps every output file whatever the task
    count, so a skewed task can't emit one giant file either.

    With ``sort_col`` (a column name or any ``Column`` key) the rewrite
    uses repartitionByRange + sortWithinPartitions, so each output file
    covers a NARROW key range — parquet footer min/max stats then let a
    selective range predicate skip whole files/row-groups at read time
    (data skipping without an index). A name gives the 1-D layout;
    ``operators/zorder.zorder_layout`` passes a Morton key to cluster
    on several columns at once. The key itself is never written.
    """
    w = df
    if sort_col is not None:
        # ALWAYS range-repartition when a sort layout is requested:
        # sortWithinPartitions over the existing (arbitrary) hash
        # partitioning would leave file min/max ranges overlapping and
        # void the skipping claim above. Without an explicit n_files,
        # keep the current partition count as the output file count.
        n = n_files or df.rdd.getNumPartitions()
        key = F.col(sort_col) if isinstance(sort_col, str) else sort_col
        w = w.repartitionByRange(n, key).sortWithinPartitions(key)
    elif n_files:
        w = w.repartition(n_files)
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def backfill_partition_overwrite(
    restated: DataFrame,
    path: str,
    partition_col: str,
    in_restated_range,
) -> None:
    """Partition-level backfill with CORRECT empty-restatement
    semantics.

    Dynamic partition overwrite only replaces partitions PRESENT in
    the restated frame; a restated partition whose recomputation
    yields zero rows would silently keep its stale files (ADVICE r4).
    This operator completes the restatement contract: after the
    dynamic overwrite, any existing partition inside the restated
    range that produced no rows is deleted — the moral equivalent of
    Delta's ``replaceWhere``, done explicitly for raw parquet.

    ``in_restated_range`` receives the RAW partition-directory value
    (a string, e.g. ``"199801"`` for ``ship_month=199801``) and says
    whether that partition belongs to the restated range.

    Which partitions the write actually restated is derived from a
    BEFORE/AFTER diff of each partition directory's file listing —
    never from collecting the restated frame: part-file names carry
    the write job's UUID, so "file set unchanged" reliably means "not
    written by this job", while a collected-value match would (a)
    execute the restated plan twice and (b) silently miss any type
    whose Python ``str`` differs from Spark's partition-path encoding
    (dates, escaped strings) — exactly the stale-partition bug this
    operator exists to fix (ADVICE r5).

    Scale: the diff is directory metadata — O(partitions + files),
    never O(rows). On a cluster the listing would go through the
    Hadoop FileSystem / catalog API; local paths use os.listdir,
    same O().
    """
    import os
    import shutil

    prefix = f"{partition_col}="

    def part_files() -> dict:
        out = {}
        for name in os.listdir(path):
            if name.startswith(prefix):
                d = os.path.join(path, name)
                out[name[len(prefix):]] = (d, frozenset(os.listdir(d)))
        return out

    before = part_files()
    (
        restated.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
    after = part_files()
    for raw, (part_dir, files_after) in after.items():
        untouched = raw in before and files_after == before[raw][1]
        if untouched and in_restated_range(raw):
            shutil.rmtree(part_dir, ignore_errors=True)
