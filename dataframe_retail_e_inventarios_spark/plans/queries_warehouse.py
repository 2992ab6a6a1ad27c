"""Warehouse-maintenance queries [SURVEY §2 parity-plus; reference
treats every load as full-refresh pandas (PRACTICA3.py:20-40) — at
100 TB the same semantics need incremental/dimension-history forms]:

- SCD Type-2 history build from a change stream (change suppression +
  validity intervals) — one shuffle on the dimension key, two window
  passes over the same partitioning (no second exchange).
- Leak-free grouped holdout split: train/val/test assignment is a pure
  hash of the SERIES key, so every row of a series lands on one side —
  the split a forecasting/training pipeline must use to avoid
  target leakage (row-hash splits leak: the same (part,supplier)
  series would straddle train and val).
- Domain mixture reweighting: per-source sampling weights that move
  the corpus token mixture toward a target distribution (static
  mixture rebalancing a la DoReMi baselines) — one scan, one tiny
  aggregate, weights broadcastable back onto the corpus.
- Incremental materialized-rollup maintenance (fold-of-partials, see
  operators/incremental.py) and its registered query.
- Event analytics over the same change-stream framing: last-touch
  attribution, conversion-lag quantiles, point-in-time (temporal)
  join against the SCD2 history, rolling DAU/WAU/MAU engagement, and
  a robust MAD anomaly screen.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.timewall import wall_epoch_seconds
from ..streaming.events import await_bounded
from ..operators.tokenize import bpe_ish_tokens
from ..registry import register
from ..sources.readers import load_table

# ---------------------------------------------------------------------------
# SCD Type-2 dimension history
# ---------------------------------------------------------------------------


def scd2_history(
    changes: DataFrame,
    keys: tuple[str, ...],
    attr: str,
    seq_cols: tuple[str, ...],
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 build: collapse a change stream
    into validity intervals per key.

    Change suppression first (drop versions whose tracked attribute is
    null-safe-equal to the previous version), then validity windows
    over the survivors. Both windows share the same partitioning, so
    the plan carries ONE hash exchange on the dimension key; the filter
    between them preserves distribution. Scale: per-key state is the
    key's version count (bounded by its change history), never the
    table width.
    """
    korder = [F.col(c) for c in seq_cols]
    w = Window.partitionBy(*keys).orderBy(*korder)
    staged = changes.select(
        *keys,
        *seq_cols,
        attr,
        F.row_number().over(w).alias("_rn"),
        F.lag(F.col(attr)).over(w).alias("_prev"),
    )
    suppressed = staged.filter(
        (F.col("_rn") == 1) | ~F.col(attr).eqNullSafe(F.col("_prev"))
    )
    w2 = Window.partitionBy(*keys).orderBy(*korder)
    return suppressed.select(
        *keys,
        F.row_number().over(w2).alias("version_n"),
        wall_epoch_seconds(seq_cols[0]).alias("valid_from_epoch"),
        F.lead(wall_epoch_seconds(seq_cols[0])).over(w2).alias("valid_to_epoch"),
        F.col(attr),
        F.lead(F.col(attr)).over(w2).isNull().alias("is_current"),
    )


def q_scd2_user_event_history(
    spark: SparkSession,
    sf_dir: str,
    etypes: tuple[str, ...] | None = None,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """events as a change stream keyed by (user_id, event_type) with
    `value` the tracked attribute — the SCD2 twin of cdc_latest_state
    (queries_scale.py): where CDC keeps only the latest version, SCD2
    keeps every distinct-value version with its validity interval.

    Fuzz geometry (r11 verdict #5): `etypes` restricts the change
    stream (re-deriving version_n / is_current over the survivors),
    and `as_of_epoch` keeps only the version VALID AT that instant
    (valid_from <= t < valid_to, open current version included) —
    the half-open validity-edge semantics the PIT join relies on,
    value-hash-compared against DuckDB at drawn boundaries."""
    ev = load_table(spark, sf_dir, "events")
    if etypes is not None:
        ev = ev.filter(F.col("event_type").isin(*etypes))
    hist = scd2_history(
        ev,
        keys=("user_id", "event_type"),
        attr="value",
        seq_cols=("ts", "event_id"),
    )
    if as_of_epoch is not None:
        hist = hist.filter(
            (F.col("valid_from_epoch") <= as_of_epoch)
            & (
                F.col("valid_to_epoch").isNull()
                | (F.lit(as_of_epoch) < F.col("valid_to_epoch"))
            )
        )
    return hist


def scd2_user_event_history_sql(
    etypes: tuple[str, ...] | None = None, as_of_epoch: int | None = None
) -> str:
    where = ""
    if etypes is not None:
        quoted = ", ".join(f"'{t}'" for t in etypes)
        where = f"WHERE event_type IN ({quoted})"
    asof = ""
    if as_of_epoch is not None:
        asof = (
            f"WHERE valid_from_epoch <= {as_of_epoch} "
            f"AND (valid_to_epoch IS NULL OR {as_of_epoch} < valid_to_epoch)"
        )
    return f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id, value,
         lag(value) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS prev,
         row_number() OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS rn
  FROM events
  {where}
),
suppressed AS (
  SELECT * FROM ordered WHERE rn = 1 OR value IS DISTINCT FROM prev
),
hist AS (
  SELECT user_id, event_type,
         CAST(row_number() OVER w AS INT) AS version_n,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS valid_from_epoch,
         CAST(lead(floor(epoch_us(ts) / 1000000)) OVER w AS BIGINT) AS valid_to_epoch,
         value,
         lead(value) OVER w IS NULL AS is_current
  FROM suppressed
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
SELECT * FROM hist {asof}
"""


register(
    "scd2_user_event_history",
    q_scd2_user_event_history,
    scd2_user_event_history_sql(),
)



# ---------------------------------------------------------------------------
# Leak-free grouped holdout split
# ---------------------------------------------------------------------------

# Same md5-bucket idiom as sample_stratified_hash (queries_curation.py):
# the keep decision is a pure function of the stable key — reproducible,
# shuffle-free, and pushable into the scan. Split boundaries: bucket
# 0..191 train (75%), 192..223 val (12.5%), 224..255 test (12.5%).
_TRAIN_UB, _VAL_UB = 192, 224


def _series_bucket(*cols) -> F.Column:
    h = F.md5(F.concat_ws(":", *[F.col(c).cast("string") for c in cols]))
    v1 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    v2 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    return (v1 * 16 + v2).cast("long")


def q_group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split row/series counts for a grouped train/val/test split
    of the (l_partkey, l_suppkey) demand series. The split function
    hashes the SERIES key only — disjointness across splits is by
    construction (a series maps to exactly one bucket), which is the
    anti-leakage property a row-level split lacks."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = _series_bucket("l_partkey", "l_suppkey")
    split = (
        F.when(bucket < _TRAIN_UB, F.lit("train"))
        .when(bucket < _VAL_UB, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        li.select(
            split.alias("split"),
            F.concat_ws(":", F.col("l_partkey").cast("string"), F.col("l_suppkey").cast("string")).alias("series"),
            F.col("l_quantity"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("series").alias("n_series"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


_SERIES_MD5_SQL = (
    "md5(CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR))"
)
_BUCKET2_SQL = (
    f"CAST((strpos('0123456789abcdef', substr({_SERIES_MD5_SQL}, 1, 1)) - 1) * 16"
    f" + (strpos('0123456789abcdef', substr({_SERIES_MD5_SQL}, 2, 1)) - 1) AS BIGINT)"
)

register(
    "group_holdout_split",
    q_group_holdout_split,
    f"""
WITH b AS (
  SELECT CASE WHEN {_BUCKET2_SQL} < {_TRAIN_UB} THEN 'train'
              WHEN {_BUCKET2_SQL} < {_VAL_UB} THEN 'val'
              ELSE 'test' END AS split,
         CAST(l_partkey AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR) AS series,
         l_quantity
  FROM lineitem
)
SELECT split, count(*) AS n_rows,
       count(DISTINCT series) AS n_series,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM b GROUP BY split
""",
)


# ---------------------------------------------------------------------------
# Domain mixture reweighting
# ---------------------------------------------------------------------------


def q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weight to move the corpus token mixture to a
    uniform target across sources: weight = target_share /
    current_share. One corpus scan (BPE-ish token counting is codegen,
    tokenize.py), one tiny per-source aggregate; the weight table is
    dimension-sized and broadcastable onto the corpus for weighted
    sampling (see quality_weighted_sample). Shares and weights are
    ratios of exact BIGINT token sums — deterministic across engines —
    rounded for publication."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.size(bpe_ish_tokens("text")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("tokens"))
        # materialized: the totals aggregate AND the final join both
        # read this source-count-sized frame — without the cut each
        # replans its own corpus tokenize scan (2 scans measured)
        .localCheckpoint(eager=True)
    )
    totals = per_source.agg(
        F.sum("tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    j = per_source.crossJoin(F.broadcast(totals))
    share = F.col("tokens") / F.col("total_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return j.select(
        "source",
        "n_docs",
        "tokens",
        F.round(share, 6).alias("token_share"),
        F.round(target / share, 6).alias("mix_weight"),
    )


from ..operators.tokenize import BPE_ISH_PATTERN as _BPE_RAW3  # noqa: E402

_BPE3 = _BPE_RAW3.replace("'", "''")

register(
    "domain_mixture_weights",
    q_domain_mixture_weights,
    f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(regexp_extract_all(text, '{_BPE3}'))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(tokens) AS total_tokens, count(*) AS n_sources FROM per_source)
SELECT source, n_docs, tokens,
       round(tokens / total_tokens, 6) AS token_share,
       round((1.0 / n_sources) / (tokens / total_tokens), 6) AS mix_weight
FROM per_source CROSS JOIN tot
""",
)


def q_mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling mixture (alpha = 0.5): the standard
    multilingual-pretraining reweighting p_d ∝ share_d^alpha that
    up-samples tail domains without flattening to uniform. Plan shape
    is domain_mixture_weights' (one corpus scan, dimension-sized
    aggregate); the cross-engine float hazard is the SUM of per-domain
    sqrt shares (non-associative double addition), so each sqrt share
    is snapped to a 1e12-scaled BIGINT first and the normalizer is an
    exact integer sum — deterministic under any partitioning. Output
    includes the expected document allocation for a 100k-doc budget."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source", F.size(bpe_ish_tokens("text")).cast("long").alias("n_tok")
        )
        .groupBy("source")
        .agg(F.sum("n_tok").alias("tokens"))
    )
    totals = per_source.agg(F.sum("tokens").alias("total_tokens"))
    raw = F.round(
        F.sqrt(F.col("tokens") / F.col("total_tokens")) * F.lit(1e12), 0
    ).cast("long")
    scaled = per_source.crossJoin(F.broadcast(totals)).select(
        "source", "tokens", raw.alias("raw")
    )
    denom = scaled.agg(F.sum("raw").alias("denom"))
    j = scaled.crossJoin(F.broadcast(denom))
    w = F.col("raw") / F.col("denom")
    return j.select(
        "source",
        "tokens",
        F.round(w, 6).alias("mix_weight"),
        F.round(w * F.lit(100000.0), 0).cast("long").alias("budget_docs"),
    )


register(
    "mixture_temperature_weights",
    q_mixture_temperature_weights,
    f"""
WITH per_source AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(text, '{_BPE3}'))) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(tokens) AS total_tokens FROM per_source),
scaled AS (
  SELECT source, tokens,
         CAST(round(sqrt(tokens / total_tokens) * 1e12, 0) AS BIGINT) AS raw
  FROM per_source CROSS JOIN tot
),
d AS (SELECT sum(raw) AS denom FROM scaled)
SELECT source, tokens,
       round(raw / denom, 6) AS mix_weight,
       CAST(round(raw / denom * 100000.0, 0) AS BIGINT) AS budget_docs
FROM scaled CROSS JOIN d
""",
)


# ---------------------------------------------------------------------------
# Incremental materialized-rollup maintenance
# ---------------------------------------------------------------------------


def q_incremental_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing (part, ship-month) rollup maintained incrementally:
    the fact is split at a cutoff into history + new arrivals, the
    history rollup is folded with the delta's partials, and the fold
    is bit-identical to the one-shot aggregate (the oracle) because
    every partial state is an associative BIGINT. At 100 TB the fold
    touches O(delta + affected keys) rows — history fact rows are
    never re-scanned (operators/incremental.py; random-split property
    test in tests/test_incremental.py)."""
    from ..operators.incremental import finalize_rollup, fold_rollup, rollup_partials

    li = load_table(spark, sf_dir, "lineitem")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")
    fact = li.select(
        "l_partkey", month.alias("ship_month"), "l_quantity"
    )
    cutoff = 199800  # history = months < 1998-01; delta = the rest
    keys = ("l_partkey", "ship_month")
    base = rollup_partials(fact.filter(F.col("ship_month") < cutoff), keys, "l_quantity")
    delta = rollup_partials(fact.filter(F.col("ship_month") >= cutoff), keys, "l_quantity")
    return finalize_rollup(fold_rollup(base, delta, keys))


def q_rollup_backfill_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-rollup BACKFILL via dynamic partition overwrite —
    the restatement op every warehouse needs: a correction arrives for
    a bounded date range, the affected partitions are recomputed from
    the fact and swapped in atomically per-partition, and every other
    partition's files are untouched (no full-table rewrite).

    Here: the monthly revenue rollup is materialized partitioned by
    ship_month; then months >= 1998-01 are RESTATED to exclude
    returned lines (l_returnflag = 'R') and written with
    partitionOverwriteMode=dynamic as a WRITE OPTION (no session
    mutation) — only the restated months' directories are replaced.
    The read-back table is the registered result; the oracle computes
    the same piecewise semantics in one SQL (pre-cutoff months keep
    all rows, restated months drop returns). At 100 TB the backfill
    writes O(affected partitions), and the pattern composes with the
    incremental fold above for pure-append maintenance."""
    import shutil
    import tempfile

    li = load_table(spark, sf_dir, "lineitem")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")
    cents = F.bround(F.col("l_extendedprice") * 100, 0).cast("long")

    from ..operators.partitioning import backfill_partition_overwrite

    cutoff = 199801
    # ONE conditional aggregate (r13, guide §2.3): the initial rollup
    # and the restatement are both per-month integer aggregates, so one
    # groupBy delivers (all-rows, non-returned) partials together. Exact: counts and bround-cent sums are associative BIGINTs,
    # and a restated month with zero qualifying rows yields n_keep = 0
    # here exactly where the filtered re-aggregation yielded no row —
    # the n_keep > 0 filter reproduces that absence (which is what
    # lets backfill_partition_overwrite delete emptied partitions).
    keep = F.col("l_returnflag") != "R"
    combined = (
        li.select(month.alias("ship_month"), "l_extendedprice", "l_returnflag")
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents).alias("rev_cents"),
            F.count(F.when(keep, F.lit(1))).alias("n_keep"),
            F.sum(F.when(keep, cents)).alias("rev_keep"),
        )
    )
    work = tempfile.mkdtemp(prefix="spark_graft_backfill_")
    try:
        path = f"{work}/rollup"
        combined.select("ship_month", "n_rows", "rev_cents").write.partitionBy(
            "ship_month"
        ).parquet(path)
        restated = combined.filter(
            (F.col("ship_month") >= cutoff) & (F.col("n_keep") > 0)
        ).select(
            "ship_month",
            F.col("n_keep").alias("n_rows"),
            F.col("rev_keep").alias("rev_cents"),
        )
        backfill_partition_overwrite(
            restated, path, "ship_month", lambda raw: int(raw) >= cutoff
        )
        back = spark.read.parquet(path).select(
            # partition-column inference may narrow to INT; pin the
            # contract types explicitly
            F.col("ship_month").cast("long").alias("ship_month"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
        )
        return back.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "rollup_backfill_overwrite",
    q_rollup_backfill_overwrite,
    """
SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       count(*) AS n_rows,
       CAST(sum(CAST(round_even(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM lineitem
WHERE year(l_shipdate) * 100 + month(l_shipdate) < 199801
   OR l_returnflag <> 'R'
GROUP BY 1
""",
)


def q_rollup_backfill_empty_restatement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill where part of the restated range legitimately EMPTIES
    — the case dynamic partition overwrite alone gets wrong (it only
    replaces partitions present in the new frame, so an emptied month
    would keep its stale files; ADVICE r4). A product recall restates
    months >= 1998-01: returned lines are dropped AND nothing shipped
    on/after 1998-10-01 may be billed. Months 1998-10..12 therefore
    recompute to zero rows and must VANISH from the rollup —
    ``backfill_partition_overwrite`` deletes exactly those partition
    directories (metadata-scale listing, no full-table rewrite). The
    oracle states the same piecewise semantics in one SQL; a stale
    partition would surface as extra rows."""
    import shutil
    import tempfile

    from ..operators.partitioning import backfill_partition_overwrite

    li = load_table(spark, sf_dir, "lineitem")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")
    cents = F.bround(F.col("l_extendedprice") * 100, 0).cast("long")

    cutoff = 199801
    # ONE lineitem scan via conditional aggregation — the restructure of
    # q_rollup_backfill_overwrite above (r13, guide §6), checkpointed for
    # both writes; here the recall cutoff joins the keep predicate, and
    # months whose restatement empties (1998-10..12) get n_keep = 0,
    # reproducing the no-row absence the partition-deletion contract
    # relies on.
    keep = (F.col("l_returnflag") != "R") & (
        F.col("l_shipdate") < F.lit("1998-10-01").cast("date")
    )
    combined = (
        li.select(
            month.alias("ship_month"), "l_extendedprice", "l_returnflag", "l_shipdate"
        )
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(cents).alias("rev_cents"),
            F.count(F.when(keep, F.lit(1))).alias("n_keep"),
            F.sum(F.when(keep, cents)).alias("rev_keep"),
        )
        .localCheckpoint(eager=True)
    )
    work = tempfile.mkdtemp(prefix="spark_graft_backfill_empty_")
    try:
        path = f"{work}/rollup"
        combined.select("ship_month", "n_rows", "rev_cents").write.partitionBy(
            "ship_month"
        ).parquet(path)
        restated = combined.filter(
            (F.col("ship_month") >= cutoff) & (F.col("n_keep") > 0)
        ).select(
            "ship_month",
            F.col("n_keep").alias("n_rows"),
            F.col("rev_keep").alias("rev_cents"),
        )
        backfill_partition_overwrite(
            restated, path, "ship_month", lambda raw: int(raw) >= cutoff
        )
        back = spark.read.parquet(path).select(
            F.col("ship_month").cast("long").alias("ship_month"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("rev_cents").cast("long").alias("rev_cents"),
        )
        return back.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "rollup_backfill_empty_restatement",
    q_rollup_backfill_empty_restatement,
    """
SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       count(*) AS n_rows,
       CAST(sum(CAST(round_even(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
FROM lineitem
WHERE year(l_shipdate) * 100 + month(l_shipdate) < 199801
   OR (l_returnflag <> 'R' AND l_shipdate < DATE '1998-10-01')
GROUP BY 1
""",
)


register(
    "incremental_monthly_rollup",
    q_incremental_monthly_rollup,
    """
SELECT l_partkey,
       CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
       round(sum(CAST(l_quantity AS BIGINT)) / CAST(count(*) AS DOUBLE), 6) AS avg_qty
FROM lineitem
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------


def q_last_touch_attribution(
    spark: SparkSession, sf_dir: str, lookback_s: int = 86400
) -> DataFrame:
    """Marketing-style last-touch attribution: each purchase is
    credited to the same user's most recent PRIOR non-purchase event
    within a `lookback_s` (default 24h) lookback. One per-user window
    pass (conditional last-ignore-nulls over rows-preceding) — the
    as-of-join semantics without a join: at 100 TB this is one shuffle
    on user_id, and the carried state per row is a single (ts, id,
    type) triple. lookback_s fuzz-drawn (r11 verdict #5): the lookback
    edge decides which touches attribute."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nonp = F.col("event_type") != "purchase"
    touch_ts = F.last(F.when(nonp, F.col("ts")), ignorenulls=True).over(w)
    touch_id = F.last(F.when(nonp, F.col("event_id")), ignorenulls=True).over(w)
    touch_type = F.last(F.when(nonp, F.col("event_type")), ignorenulls=True).over(w)
    gap = wall_epoch_seconds(F.col("ts")) - wall_epoch_seconds(touch_ts)
    return (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            touch_id.alias("touch_event_id"),
            touch_type.alias("touch_type"),
            gap.alias("gap_s"),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("touch_event_id").isNotNull()
            & (F.col("gap_s") <= lookback_s)
        )
        .select("event_id", "user_id", "touch_event_id", "touch_type", "gap_s")
    )


def _last_touch_sql_prefix(lookback_s: int) -> str:
    """Shared WITH-clause of the last-touch attribution oracle —
    conversion_lag_quantiles builds on the same attributed set."""
    return f"""
WITH t AS (
  SELECT event_id, user_id, event_type,
         floor(epoch_us(ts) / 1000000) AS es,
         last_value(CASE WHEN event_type != 'purchase' THEN event_id END IGNORE NULLS)
           OVER w AS touch_event_id,
         last_value(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
           OVER w AS touch_type,
         last_value(CASE WHEN event_type != 'purchase'
                         THEN floor(epoch_us(ts) / 1000000) END IGNORE NULLS)
           OVER w AS touch_es
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
"""


def last_touch_attribution_sql(lookback_s: int = 86400) -> str:
    return _last_touch_sql_prefix(lookback_s) + f"""
SELECT event_id, user_id, touch_event_id, touch_type,
       CAST(es - touch_es AS BIGINT) AS gap_s
FROM t
WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
  AND es - touch_es <= {lookback_s}
"""


register(
    "last_touch_attribution",
    q_last_touch_attribution,
    last_touch_attribution_sql(),
)


# ---------------------------------------------------------------------------
# Rolling engagement: DAU / WAU / MAU
# ---------------------------------------------------------------------------


def q_rolling_active_users(
    spark: SparkSession, sf_dir: str, *, wau_days: int = 7, mau_days: int = 28
) -> DataFrame:
    """Exact DAU / trailing-wau_days WAU / trailing-mau_days MAU per
    day. The fact collapses to the (user, day) grid FIRST (one dedup
    shuffle — at 100 TB this is the compression step: grid size is
    users × active-days, not raw events); each grid row then EXPLODES
    over exactly the mau_days window-end days it can contribute to
    (sequence(day, day+mau_days-1)) and an equi-join against the
    observed-day spine keeps real windows — a true constant ≤mau_days×
    fan-out. (The previous broadcast range join compiled to a nested
    loop over grid-rows × ALL spine days, i.e. work scaling with the
    full day span — the r3 ADVICE item.) Three conditional
    distinct-counts close per window. The sketch twin
    (approx_distinct_users) is the 100-TB approximate path. Window
    geometry is fuzz-injectable (tools/fuzz_oracles.py; requires
    wau_days <= mau_days) — both N-1 frame off-by-ones re-proved per
    draw."""
    if wau_days > mau_days:
        raise ValueError("wau_days must be <= mau_days (WAU frame inside MAU fan-out)")
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(wall_epoch_seconds("ts") / 86400).cast("long")
    # grid materialized: both the spine derivation and the fan-out
    # join read it — without the cut each replans its own events scan
    grid = ev.select("user_id", day.alias("day")).distinct().localCheckpoint(eager=True)
    spine = grid.select("day").distinct().select(F.col("day").alias("d"))
    fan = grid.withColumn(
        "d", F.explode(F.sequence(F.col("day"), F.col("day") + (mau_days - 1)))
    ).join(F.broadcast(spine), "d")
    return (
        fan.groupBy("d")
        .agg(
            F.countDistinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct(
                F.when(F.col("day") >= F.col("d") - (wau_days - 1), F.col("user_id"))
            ).alias("wau"),
            F.countDistinct("user_id").alias("mau"),
        )
        .select(F.col("d").alias("epoch_day"), "dau", "wau", "mau")
    )


def rolling_active_users_sql(wau_days: int = 7, mau_days: int = 28) -> str:
    if wau_days > mau_days:
        raise ValueError("wau_days must be <= mau_days (WAU frame inside MAU fan-out)")
    return f"""
WITH grid AS (
  SELECT DISTINCT user_id,
         CAST(floor(floor(epoch_us(ts) / 1000000) / 86400) AS BIGINT) AS day
  FROM events
),
spine AS (SELECT DISTINCT day AS d FROM grid)
SELECT d AS epoch_day,
       count(DISTINCT CASE WHEN day = d THEN user_id END) AS dau,
       count(DISTINCT CASE WHEN day >= d - {wau_days - 1} THEN user_id END) AS wau,
       count(DISTINCT user_id) AS mau
FROM grid JOIN spine ON day <= d AND day >= d - {mau_days - 1}
GROUP BY d
"""


register("rolling_active_users", q_rolling_active_users, rolling_active_users_sql())


# ---------------------------------------------------------------------------
# Point-in-time (temporal) join against the SCD2 dimension
# ---------------------------------------------------------------------------


def q_pit_join_purchase_state(
    spark: SparkSession,
    sf_dir: str,
    dim_type: str = "view",
    probe_type: str = "purchase",
) -> DataFrame:
    """Point-in-time-correct enrichment — the feature-store join: each
    `probe_type` event picks up the (user, `dim_type`) SCD2 version
    that was VALID AT the probe instant (valid_from <= t < valid_to),
    never a later one (no training-time leakage). Implemented as the
    as-of window form: union the versioned dimension rows with the
    probe events per user, one (user) shuffle + one ordered window
    carrying the last-seen version forward — the same shape as
    last_touch_attribution, avoiding an interval join entirely.
    Validity here = [version ts, next version ts) of the dim-value
    history; probes before any dim version stay unmatched and are
    dropped (inner PIT semantics). dim/probe types fuzz-drawn (r12):
    each draw reshapes both union sides and re-probes the
    same-instant side-ordering tie-break."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type") == dim_type).select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").alias("view_value"),
    )
    probe = ev.filter(F.col("event_type") == probe_type).select(
        "user_id", "ts", "event_id", F.col("value").alias("purchase_value")
    )
    tagged = dim.select(
        "user_id", "ts", "event_id", F.lit(0).alias("side"), "view_value",
        F.lit(None).cast("double").alias("purchase_value"),
    ).unionByName(
        probe.select(
            "user_id", "ts", "event_id", F.lit(1).alias("side"),
            F.lit(None).cast("double").alias("view_value"), "purchase_value",
        )
    )
    # dimension rows sort before a probe at the same instant (side 0
    # first): "valid at t" includes a version starting exactly at t.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "side",
        "purchase_value",
        F.last(F.when(F.col("side") == 0, F.col("view_value")), ignorenulls=True)
        .over(w)
        .alias("state_view_value"),
        F.last(F.when(F.col("side") == 0, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("state_version_id"),
    )
    return (
        carried.filter((F.col("side") == 1) & F.col("state_view_value").isNotNull())
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            "purchase_value",
            "state_view_value",
            "state_version_id",
        )
    )


def pit_join_purchase_state_sql(
    dim_type: str = "view", probe_type: str = "purchase"
) -> str:
    return f"""
WITH tagged AS (
  SELECT user_id, ts, event_id, 0 AS side, value AS view_value,
         CAST(NULL AS DOUBLE) AS purchase_value
  FROM events WHERE event_type = '{dim_type}'
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS DOUBLE) AS view_value,
         value AS purchase_value
  FROM events WHERE event_type = '{probe_type}'
),
carried AS (
  SELECT user_id, ts, event_id, side, purchase_value,
         last_value(CASE WHEN side = 0 THEN view_value END IGNORE NULLS)
           OVER w AS state_view_value,
         last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS)
           OVER w AS state_version_id
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_event_id, user_id, purchase_value,
       state_view_value, state_version_id
FROM carried
WHERE side = 1 AND state_view_value IS NOT NULL
"""


register(
    "pit_join_purchase_state",
    q_pit_join_purchase_state,
    pit_join_purchase_state_sql(),
)


# ---------------------------------------------------------------------------
# Robust (MAD) demand anomalies + conversion-lag quantiles
# ---------------------------------------------------------------------------


def q_demand_anomalies_mad(
    spark: SparkSession,
    sf_dir: str,
    *,
    z_gate: float = 3.5,
    min_weeks: int = 12,
) -> DataFrame:
    """Robust twin of demand_anomalies (queries_scale): modified
    z-score 0.6745*(x - median)/MAD with the Iglewicz-Hoaglin z_gate
    gate (gate + history floor fuzz-injectable, tools/fuzz_oracles.py) — immune to the outliers that inflate sigma and mask
    themselves in the classic z-score screen. Medians via exact
    linear-interp percentiles as two small per-product aggregates
    (grouped, not windowed — window median isn't portable), joined
    back broadcast-style; MAD rounded to 4dp before the divide so
    both engines gate on identical bounds."""
    from ..operators.cleaning import clean_sales
    from ..operators.resample import weekly_resample_sum

    sales = clean_sales(load_table(spark, sf_dir, "lineitem"))
    weekly = weekly_resample_sum(sales, ("product_id",), "invoice_date", "units_sold")
    med = weekly.groupBy("product_id").agg(
        F.count("*").alias("n_weeks"),
        F.percentile("units_sold", F.lit(0.5)).alias("med"),
    )
    j = weekly.join(med, "product_id")
    mad = (
        j.groupBy("product_id")
        .agg(
            (
                F.bround(
                    F.percentile(F.abs(F.col("units_sold") - F.col("med")), F.lit(0.5))
                    * 10000.0,
                    0,
                )
                / 10000.0
            ).alias("mad_r")
        )
    )
    full = j.join(mad, "product_id")
    z = (F.col("units_sold") - F.col("med")) * 0.6745 / F.col("mad_r")
    return (
        full.filter(
            (F.col("n_weeks") >= min_weeks) & (F.col("mad_r") > 0) & (F.abs(z) > z_gate)
        )
        .select(
            "product_id",
            "week",
            "units_sold",
            (F.bround(z * 10000.0, 0) / 10000.0).alias("robust_z"),
        )
    )


from . import oracle_fragments as _OF2  # noqa: E402

def demand_anomalies_mad_sql(z_gate: float = 3.5, min_weeks: int = 12) -> str:
    return f"""
WITH {_OF2.CLEAN_SALES_CTE.strip()},
weekly AS (
  SELECT product_id,
         CAST(invoice_date AS DATE)
           + CAST((7 - isodow(CAST(invoice_date AS DATE))) % 7 AS INTEGER) AS week,
         sum(units_sold) AS units_sold
  FROM sales GROUP BY 1, 2
),
med AS (
  SELECT product_id, count(*) AS n_weeks,
         quantile_cont(units_sold, 0.5) AS med
  FROM weekly GROUP BY 1
),
j AS (SELECT w.*, m.n_weeks, m.med FROM weekly w JOIN med m USING (product_id)),
mad AS (
  SELECT product_id,
         round_even(quantile_cont(abs(units_sold - med), 0.5) * 10000.0, 0) / 10000.0
           AS mad_r
  FROM j GROUP BY 1
)
SELECT product_id, week, units_sold,
       round_even((units_sold - med) * 0.6745 / mad_r * 10000.0, 0) / 10000.0
         AS robust_z
FROM j JOIN mad USING (product_id)
WHERE n_weeks >= {min_weeks} AND mad_r > 0
  AND abs((units_sold - med) * 0.6745 / mad_r) > {z_gate}
"""


register("demand_anomalies_mad", q_demand_anomalies_mad, demand_anomalies_mad_sql())


def q_conversion_lag_quantiles(
    spark: SparkSession,
    sf_dir: str,
    lookback_s: int = 86400,
    p_lo: float = 0.5,
    p_hi: float = 0.9,
) -> DataFrame:
    """Time-to-convert distribution per attributed touch type: p_lo /
    p_hi quantiles of the purchase-minus-touch gap from
    last_touch_attribution — the funnel-latency metric the attribution
    table exists to feed. One extra tiny aggregate over the
    attribution output. lookback_s and both quantile points fuzz-drawn
    (exact linear-interp percentile on integer gaps on both engines)."""
    att = q_last_touch_attribution(spark, sf_dir, lookback_s=lookback_s)
    return att.groupBy("touch_type").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("gap_s", F.lit(p_lo)), 4).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(p_hi)), 4).alias("p90_gap_s"),
    )


def conversion_lag_quantiles_sql(
    lookback_s: int = 86400, p_lo: float = 0.5, p_hi: float = 0.9
) -> str:
    return _last_touch_sql_prefix(lookback_s) + f""",
att AS (
  SELECT touch_type, CAST(es - touch_es AS BIGINT) AS gap_s
  FROM t
  WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
    AND es - touch_es <= {lookback_s}
)
SELECT touch_type, count(*) AS n,
       round(quantile_cont(gap_s, {p_lo!r}), 4) AS p50_gap_s,
       round(quantile_cont(gap_s, {p_hi!r}), 4) AS p90_gap_s
FROM att GROUP BY touch_type
"""


register(
    "conversion_lag_quantiles",
    q_conversion_lag_quantiles,
    conversion_lag_quantiles_sql(),
)


# ---------------------------------------------------------------------------
# Streaming rollup maintenance as a REGISTERED query
# ---------------------------------------------------------------------------


def q_streaming_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The foreachBatch materialized-view maintenance loop run for
    real, end to end, inside a registered query: the fact lands as a
    multi-file stream source, Structured Streaming drains it in
    micro-batches (availableNow), every batch folds its partials into
    the standing (part, ship-month) rollup, and the FINAL STATE is
    returned — gated by the same one-shot GROUP BY oracle as
    incremental_monthly_rollup. Whatever micro-batch boundaries the
    engine picks, the fold's associative-BIGINT states make the result
    identical to the one-shot aggregate — that is the invariant that
    lets a 100 TB deployment maintain the rollup hourly instead of
    recomputing history."""
    import shutil
    import tempfile

    from ..operators.incremental import finalize_rollup, fold_rollup, rollup_partials

    keys = ("l_partkey", "ship_month")
    li = load_table(spark, sf_dir, "lineitem")
    month = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")

    def fact_cols(df: DataFrame) -> DataFrame:
        m = (F.year("l_shipdate") * 100 + F.month("l_shipdate")).cast("long")
        return df.select("l_partkey", m.alias("ship_month"), "l_quantity")

    work = tempfile.mkdtemp(prefix="spark_graft_stream_rollup_")
    try:
        src = f"{work}/src"
        li.repartition(6).write.parquet(src)
        state_dir = f"{work}/state"

        def fold_batch(batch_df, batch_id):
            delta = rollup_partials(fact_cols(batch_df), keys, "l_quantity")
            # first-batch detection by state-dir existence, NOT by
            # catching every read error: a transient parquet failure
            # mid-drain must fail the query loudly, not silently
            # discard the standing rollup state
            if os.path.exists(state_dir):
                base = batch_df.sparkSession.read.parquet(state_dir)
                merged = fold_rollup(base, delta, keys)
            else:
                merged = delta
            out = f"{work}/state_new_{batch_id}"
            merged.write.mode("overwrite").parquet(out)
            shutil.rmtree(state_dir, ignore_errors=True)
            shutil.move(out, state_dir)

        stream = (
            spark.readStream.schema(li.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        # materialize before the workdir disappears
        return finalize_rollup(spark.read.parquet(state_dir)).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "streaming_rollup_maintenance",
    q_streaming_rollup_maintenance,
    """
SELECT l_partkey,
       CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
       count(*) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(min(CAST(l_quantity AS BIGINT)) AS BIGINT) AS min_qty,
       CAST(max(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty,
       round(sum(CAST(l_quantity AS BIGINT)) / CAST(count(*) AS DOUBLE), 6) AS avg_qty
FROM lineitem
GROUP BY 1, 2
""",
)


def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog-consumer loop run for real under the oracle gate:
    events stream in as micro-batches (availableNow), each batch
    MERGEs into the standing latest-state table via
    operators/cdc.merge_changes with tombstones RETAINED in state
    (an out-of-order older version in a later batch must not
    resurrect a deleted key), and deletes apply at read time. The
    final state is hash-compared against the same ranked-stream SQL
    oracle as cdc_latest_state — batch boundaries are invisible
    because (ts, event_id) totally orders versions."""
    import shutil
    import tempfile

    from ..operators.cdc import merge_changes

    keys, seq = ("user_id", "event_type"), ("ts", "event_id")
    tomb = F.col("value") < 1.0
    ev = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="spark_graft_stream_cdc_")
    try:
        src = f"{work}/src"
        ev.repartition(6).write.parquet(src)
        state_dir = f"{work}/state"

        def upsert_batch(batch_df, batch_id):
            # existence test, not blanket except: see fold_batch above
            if os.path.exists(state_dir):
                base = batch_df.sparkSession.read.parquet(state_dir)
            else:
                base = batch_df.filter(F.lit(False))
            merged = merge_changes(
                base, batch_df, keys=keys, seq_cols=seq,
                delete_pred=tomb, drop_deleted=False,
            )
            out = f"{work}/state_new_{batch_id}"
            merged.write.mode("overwrite").parquet(out)
            shutil.rmtree(state_dir, ignore_errors=True)
            shutil.move(out, state_dir)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(upsert_batch)
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        final = (
            spark.read.parquet(state_dir)
            .filter(~tomb)
            .select(
                "user_id",
                "event_type",
                wall_epoch_seconds("ts").alias("last_epoch"),
                "value",
            )
        )
        return final.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "streaming_cdc_upsert",
    q_streaming_cdc_upsert,
    """
WITH ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
SELECT user_id, event_type,
       CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS last_epoch, value
FROM ranked WHERE rn = 1 AND NOT (value < 1.0)
""",
)


def q_first_touch_attribution(
    spark: SparkSession, sf_dir: str, lookback_s: int = 86400
) -> DataFrame:
    """First-touch twin of last_touch_attribution: each purchase is
    credited to the EARLIEST non-purchase event inside the trailing
    `lookback_s` (default 24h) window — a RANGE frame over
    wall-epoch-micros (the window membership is value-based, so the
    lookback bound lives in the frame itself instead of a
    post-filter; fuzz-drawn, r11 verdict #5). Precondition: (user, ts)
    is unique (true of the event stream; duplicate instants would
    make first_value order-ambiguous — the last-touch form's (ts,
    event_id) ROWS ordering is the tie-robust variant)."""
    from ..functions.timewall import wall_epoch_micros

    ev = load_table(spark, sf_dir, "events")
    eus = wall_epoch_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(eus)
        .rangeBetween(-lookback_s * 1_000_000, -1)
    )
    nonp = F.col("event_type") != "purchase"
    touch_id = F.first(F.when(nonp, F.col("event_id")), ignorenulls=True).over(w)
    touch_type = F.first(F.when(nonp, F.col("event_type")), ignorenulls=True).over(w)
    touch_us = F.first(F.when(nonp, eus), ignorenulls=True).over(w)
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            touch_id.alias("touch_event_id"),
            touch_type.alias("touch_type"),
            ((eus - touch_us) / 1_000_000).cast("long").alias("gap_s"),
        )
        .filter((F.col("event_type") == "purchase") & F.col("touch_event_id").isNotNull())
        .select("event_id", "user_id", "touch_event_id", "touch_type", "gap_s")
    )


def first_touch_attribution_sql(lookback_s: int = 86400) -> str:
    return f"""
WITH t AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) AS eus,
         first_value(CASE WHEN event_type != 'purchase' THEN event_id END IGNORE NULLS)
           OVER w AS touch_event_id,
         first_value(CASE WHEN event_type != 'purchase' THEN event_type END IGNORE NULLS)
           OVER w AS touch_type,
         first_value(CASE WHEN event_type != 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
           OVER w AS touch_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {lookback_s * 1_000_000} PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, touch_event_id, touch_type,
       CAST((eus - touch_us) // 1000000 AS BIGINT) AS gap_s
FROM t
WHERE event_type = 'purchase' AND touch_event_id IS NOT NULL
"""


register(
    "first_touch_attribution",
    q_first_touch_attribution,
    first_touch_attribution_sql(),
)


def q_streaming_session_windows(
    spark: SparkSession, sf_dir: str, gap_min: int = 30
) -> DataFrame:
    """Third live-streaming surface under the oracle gate: the
    STATEFUL session_window aggregation run as a real availableNow
    stream (watermarked state, micro-batch session merging) and
    drained complete into a memory sink; the result is gated by the
    same first-principles gaps-and-islands oracle as the batch
    session_window query (session_window_builtin_sql, sharing the
    fuzz-drawn gap). Session-merge across micro-batch boundaries
    is exactly what this exercises — a session split over two batches
    must still come out as one row."""
    import uuid

    import shutil
    import tempfile

    from ..functions.timewall import wall_epoch_micros

    ev = load_table(spark, sf_dir, "events")
    # Watermarks demand an LTZ event-time column; build the instant
    # DETERMINISTICALLY as wall-clock-read-as-UTC (timestamp_micros of
    # the wall epoch), so the stream's session bounds are identical
    # under ANY driver session timezone — the same invariance contract
    # as every batch query (timewall.py).
    ev = ev.withColumn("ts", F.timestamp_micros(wall_epoch_micros("ts")))
    work = tempfile.mkdtemp(prefix="spark_graft_stream_sess_")
    try:
        src = f"{work}/src"
        ev.repartition(6).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        # No watermark here: the source files are not time-ordered, so
        # a watermark would drop genuinely-old events as late and lose
        # sessions (observed: 6474 of 9549). Complete mode retains all
        # session state for the bounded verification drain; the
        # watermarked production form is user_sessions_stream
        # (streaming/events.py), covered by the streaming tests.
        sessions = (
            stream.groupBy(
                F.session_window("ts", f"{gap_min} minutes").alias("sw"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "user_id",
                "n_events",
            )
        )
        name = f"sess_{uuid.uuid4().hex[:8]}"
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        # LTZ -> epoch via long cast: absolute-instant arithmetic,
        # timezone-free by construction.
        out = spark.table(name).select(
            "user_id",
            F.col("session_start").cast("long").alias("start_epoch"),
            F.col("session_end").cast("long").alias("end_epoch"),
            "n_events",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


from .queries_modern import session_window_builtin_sql as _sess_sql  # noqa: E402

register("streaming_session_windows", q_streaming_session_windows, _sess_sql())


def q_streaming_view_purchase_join(
    spark: SparkSession, sf_dir: str, *, progress_out: list | None = None
) -> DataFrame:
    """Fourth live-streaming surface under the gate: the STREAM-STREAM
    inner join (purchases x same-user views within 30 min) drained
    availableNow, gated by the batch join's oracle. Stream-stream
    joins REQUIRE watermarks (state eviction), and watermarks drop
    late rows. The file source orders same-mtime files ARBITRARILY
    (mod-time sort, second granularity — path order is not
    guaranteed), so a historical replay cannot rely on file layout
    for event-time order: the verification drain therefore runs with
    a watermark delay longer than the dataset's span (nothing is ever
    late; state stays bounded by the drained window). A live
    deployment keeps the tight 1h watermark — its arrival order IS
    event-time order — which the streaming tests cover. This
    late-vs-replay distinction is exactly what a 100 TB backfill
    pipeline has to get right (observed here: a 1h watermark on an
    unordered replay silently dropped half the joins)."""
    import shutil
    import tempfile
    import uuid

    from ..functions.timewall import wall_epoch_micros
    from ..streaming.events import view_purchase_join_stream

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(wall_epoch_micros("ts")))
    work = tempfile.mkdtemp(prefix="spark_graft_stream_join_")
    try:
        src = f"{work}/src"
        ev.repartition(6).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = view_purchase_join_stream(views, purchases, window_min=30, watermark="90 days")
        name = f"vpj_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        if progress_out is not None:
            # per-batch progress dicts (stateOperators carry
            # numRowsTotal) for the state-growth stress harness
            progress_out.extend(q.recentProgress)
        out = spark.table(name).select(
            "user_id",
            "view_id",
            F.col("purchase_id"),
            F.floor(
                F.timestamp_diff("MICROSECOND", F.col("view_ts"), F.col("purchase_ts"))
                / 1_000_000
            )
            .cast("long")
            .alias("gap_s"),
            "value",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "streaming_view_purchase_join",
    q_streaming_view_purchase_join,
    """
SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s,
       p.value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
""",
)


_VPJ_BUCKETS = 10


def q_streaming_view_purchase_join_bounded(
    spark: SparkSession,
    sf_dir: str,
    *,
    progress_out: list | None = None,
    window_min: int = 30,
    watermark_min: int = 60,
) -> DataFrame:
    """The PRODUCTION posture of the stream-stream join (r7 verdict
    #4): BOUNDED state under the same value-hash gate. The span-
    exceeding-watermark variant above is replay-correct but keeps full
    two-sided state (state grows with the corpus — its 10x curve row
    measures exactly that); a live deployment instead relies on
    arrival order ~ event-time order and a tight watermark, so state
    evicts continuously. This query makes that deployment shape
    REPLAYABLE and exact: events land range-bucketed by event time
    into {b} files with strictly increasing mtimes (the
    late_data_watermark landing machinery), so batch k's earliest row
    is never older than batch k-1's latest and NO row is ever late
    under any delay >= 0. The 1h watermark then only sizes the state
    store: views older than watermark minus the 30 min join bound are
    evicted every batch — measured at sf0.1: peak state 4 149 rows vs
    40 025 buffered by the 90-day replay drain (the ~10x = bucket
    count, exactly the continuous-eviction story). State partitions
    are scoped down to 8 for the drain (per batch, EVERY state
    partition pays open/evict/commit on 4 join state stores; 32
    partitions = 128 commits per 11 batches of machinery — the
    production lever is sizing state partitions to the stream volume,
    which on a cluster is spark.sql.shuffle.partitions at stream
    start). Wall is batch-count x stateful-join floor, so it's timed
    in the DEMO group; the hash gate still runs at sf0.01."""
    import shutil
    import tempfile
    import uuid

    from ..functions.timewall import wall_epoch_micros
    from ..streaming.events import view_purchase_join_stream

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(wall_epoch_micros("ts")))
    work = tempfile.mkdtemp(prefix="spark_graft_stream_vpjb_")
    try:
        lo, hi = ev.agg(
            F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
        ).collect()[0]
        width = max(1, (hi - lo) // _VPJ_BUCKETS + 1)
        chunked = os.path.join(work, "chunked")
        (
            ev.withColumn(
                "_bucket",
                ((F.col("ts").cast("long") - lo) / width).cast("int"),
            )
            .repartition(_VPJ_BUCKETS, "_bucket")
            .write.partitionBy("_bucket")
            .parquet(chunked)
        )
        src = os.path.join(work, "src")
        os.makedirs(src)
        base_mtime = 1_600_000_000
        for k in range(_VPJ_BUCKETS):
            d = os.path.join(chunked, f"_bucket={k}")
            if not os.path.isdir(d):
                continue
            part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
            dst = os.path.join(src, f"chunk{k}.parquet")
            shutil.move(os.path.join(d, part), dst)
            os.utime(dst, (base_mtime + 10 * k, base_mtime + 10 * k))
        # State-partition sizing (see docstring): the count is fixed at
        # stream start from the runtime conf. A cloned session
        # (newSession: own SQLConf, shared SparkContext/executors)
        # scopes the setting to this drain without mutating the
        # caller's conf — safe even if the caller ever runs queries
        # concurrently.
        ns = spark.newSession()
        ns.conf.set("spark.sql.shuffle.partitions", "8")
        stream = (
            ns.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        views = stream.filter(F.col("event_type") == "view")
        purchases = stream.filter(F.col("event_type") == "purchase")
        # Watermark must cover the join bound: state for a view is
        # needed until watermark passes view_ts + window, so a horizon
        # below the bound would be an eviction-correctness bug even on
        # the in-order landing. Enforced here; the fuzzer draws both.
        if watermark_min < window_min:
            raise ValueError("watermark_min must be >= window_min")
        joined = view_purchase_join_stream(
            views, purchases, window_min=window_min, watermark=f"{watermark_min} minutes"
        )
        name = f"vpjb_{uuid.uuid4().hex[:8]}"
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        if progress_out is not None:
            progress_out.extend(q.recentProgress)
        out = ns.table(name).select(
            "user_id",
            "view_id",
            F.col("purchase_id"),
            F.floor(
                F.timestamp_diff("MICROSECOND", F.col("view_ts"), F.col("purchase_ts"))
                / 1_000_000
            )
            .cast("long")
            .alias("gap_s"),
            "value",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


q_streaming_view_purchase_join_bounded.__doc__ = (
    q_streaming_view_purchase_join_bounded.__doc__.format(b=_VPJ_BUCKETS)
)

def streaming_view_purchase_join_bounded_sql(
    window_min: int = 30, watermark_min: int = 60
) -> str:
    # The oracle is the full batch interval join: the range-bucketed,
    # mtime-ordered landing means NO row is ever late, so the result
    # is watermark-invariant for any horizon >= the join bound — the
    # fuzzer drawing (window, watermark) pairs against this oracle
    # proves exactly that invariance, while the window bound itself
    # parametrizes both sides.
    if watermark_min < window_min:
        raise ValueError("watermark_min must be >= window_min")
    return f"""
SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s,
       p.value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND epoch_us(p.ts) - epoch_us(v.ts) <= {window_min * 60 * 1_000_000}
"""


register(
    "streaming_view_purchase_join_bounded",
    q_streaming_view_purchase_join_bounded,
    streaming_view_purchase_join_bounded_sql(),
)


def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-dedup under the gate: the source lands TWICE (a full
    replay of every file — the at-least-once delivery a real ingest
    must tolerate) and the drain runs dropDuplicatesWithinWatermark on
    event_id; the deduped stream must hash-match the original table
    exactly. Watermark delay exceeds the dataset span for the
    historical drain (same replay-ordering reasoning as
    streaming_view_purchase_join); a live pipeline's tight watermark
    is covered by the streaming tests."""
    import shutil
    import tempfile
    import uuid

    from ..functions.timewall import wall_epoch_micros

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts", F.timestamp_micros(wall_epoch_micros("ts")))
    work = tempfile.mkdtemp(prefix="spark_graft_stream_dedup_")
    try:
        src = f"{work}/src"
        ev.repartition(4).write.parquet(src)
        ev.repartition(4).write.mode("append").parquet(src)  # the replay
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(src)
        )
        deduped = stream.withWatermark("ts", "90 days").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        out = spark.table(name).select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("long").alias("epoch_s"),
            "value",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "streaming_dedup_replay",
    q_streaming_dedup_replay,
    """
SELECT event_id, user_id, event_type,
       CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS epoch_s, value
FROM events
""",
)


# ---------------------------------------------------------------------------
# Position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------


def q_position_attribution(
    spark: SparkSession,
    sf_dir: str,
    window_s: int = 86400,
    w_edge: float = 0.4,
) -> DataFrame:
    """U-shaped multi-touch attribution beside the first/last-touch
    pair: every non-purchase event is assigned to the SAME USER's next
    purchase within `window_s` (one forward-looking window pass — no
    join), then each conversion's touch list is U-weighted: first and
    last touch get `w_edge`, interior touches split the remaining
    1 - 2*w_edge evenly; 2 touches -> 0.5 each, 1 touch -> 1.0. All
    passes are user- or conversion-keyed windows — one shuffle each,
    no data-sized state. window_s and w_edge fuzz-drawn (r11 verdict
    #5; w_edge on a 2-decimal grid so the interior literal is the
    same double in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_p = F.col("event_type") == "purchase"
    conv_id = F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w_fwd)
    conv_ts = F.first(F.when(is_p, F.col("ts")), ignorenulls=True).over(w_fwd)
    touches = (
        ev.select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            conv_id.alias("conv_event_id"),
            (
                wall_epoch_seconds(conv_ts) - wall_epoch_seconds(F.col("ts"))
            ).alias("lead_s"),
        )
        .filter(
            (~is_p)
            & F.col("conv_event_id").isNotNull()
            & (F.col("lead_s") <= window_s)
        )
    )
    w_conv = Window.partitionBy("conv_event_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("conv_event_id")
    pos = F.row_number().over(w_conv)
    n = F.count("*").over(w_all)
    weight = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(w_edge))
        .otherwise(F.lit(round(1.0 - 2 * w_edge, 2)) / (n - F.lit(2)))
    )
    return touches.select(
        "conv_event_id",
        "user_id",
        F.col("event_id").alias("touch_event_id"),
        "event_type",
        pos.cast("long").alias("touch_pos"),
        n.cast("long").alias("n_touches"),
        F.round(weight, 6).alias("weight"),
    )


def position_based_attribution_sql(
    window_s: int = 86400, w_edge: float = 0.4
) -> str:
    w_mid = round(1.0 - 2 * w_edge, 2)
    return f"""
WITH t AS (
  SELECT event_id, user_id, ts, event_type,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
           OVER w AS conv_event_id,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN floor(epoch_us(ts) / 1000000) END IGNORE NULLS)
           OVER w AS conv_es
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
touches AS (
  SELECT event_id, user_id, ts, event_type, conv_event_id,
         conv_es - floor(epoch_us(ts) / 1000000) AS lead_s
  FROM t
  WHERE event_type != 'purchase' AND conv_event_id IS NOT NULL
    AND conv_es - floor(epoch_us(ts) / 1000000) <= {window_s}
),
ranked AS (
  SELECT conv_event_id, user_id, event_id AS touch_event_id, event_type,
         row_number() OVER (PARTITION BY conv_event_id ORDER BY ts, event_id) AS touch_pos,
         count(*) OVER (PARTITION BY conv_event_id) AS n_touches
  FROM touches
)
SELECT conv_event_id, user_id, touch_event_id, event_type,
       CAST(touch_pos AS BIGINT) AS touch_pos,
       CAST(n_touches AS BIGINT) AS n_touches,
       round(CASE WHEN n_touches = 1 THEN 1.0
                  WHEN n_touches = 2 THEN 0.5
                  WHEN touch_pos = 1 OR touch_pos = n_touches THEN {w_edge!r}
                  ELSE {w_mid!r} / (n_touches - 2) END, 6) AS weight
FROM ranked
"""


register(
    "position_based_attribution",
    q_position_attribution,
    position_based_attribution_sql(),
)


def q_time_decay_attribution(
    spark: SparkSession, sf_dir: str, window_h: int = 24
) -> DataFrame:
    """Time-decay multi-touch attribution completing the first/last/
    U-shaped family: touches assigned to the same user's next purchase
    within 24h (the shared forward-window pass), each weighted by
    harmonic decay 1/(1 + hours-before-conversion) and normalized per
    conversion.

    Float discipline: the decay weight is snapped to an exact BIGINT
    (round_even(1e6 / (1 + h)) — ONE division, no float sums), so the
    per-conversion normalizer is an exact integer window sum,
    associative under any shuffle order; the share is a single double
    division at the end. Same two window shuffles as the position
    query — no join, no data-sized state."""
    ev = load_table(spark, sf_dir, "events")
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_p = F.col("event_type") == "purchase"
    conv_id = F.first(F.when(is_p, F.col("event_id")), ignorenulls=True).over(w_fwd)
    conv_ts = F.first(F.when(is_p, F.col("ts")), ignorenulls=True).over(w_fwd)
    touches = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        conv_id.alias("conv_event_id"),
        (wall_epoch_seconds(conv_ts) - wall_epoch_seconds(F.col("ts"))).alias(
            "lead_s"
        ),
    ).filter(
        (~is_p)
        & F.col("conv_event_id").isNotNull()
        & (F.col("lead_s") <= window_h * 3600)
    )
    hours = F.floor(F.col("lead_s") / 3600).cast("long")
    w_scaled = F.bround(F.lit(1e6) / (F.lit(1) + hours), 0).cast("long")
    w_all = Window.partitionBy("conv_event_id")
    total = F.sum(w_scaled).over(w_all)
    return touches.select(
        "conv_event_id",
        "user_id",
        F.col("event_id").alias("touch_event_id"),
        "event_type",
        hours.alias("hours_before"),
        F.bround(w_scaled.cast("double") / total.cast("double"), 6).alias(
            "decay_share"
        ),
    )


def time_decay_attribution_sql(window_h: int = 24) -> str:
    # window_h fuzz-drawn: the attribution window is the one constant
    # whose edges decide which touches share a conversion.
    return f"""
WITH t AS (
  SELECT event_id, user_id, ts, event_type,
         first_value(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
           OVER w AS conv_event_id,
         first_value(CASE WHEN event_type = 'purchase'
                          THEN floor(epoch_us(ts) / 1000000) END IGNORE NULLS)
           OVER w AS conv_es
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
touches AS (
  SELECT event_id, user_id, event_type, conv_event_id,
         CAST(floor((conv_es - floor(epoch_us(ts) / 1000000)) / 3600) AS BIGINT)
           AS hours_before,
         CAST(round_even(1e6 / (1 + floor((conv_es - floor(epoch_us(ts) / 1000000))
                                          / 3600)), 0) AS BIGINT) AS w_scaled
  FROM t
  WHERE event_type != 'purchase' AND conv_event_id IS NOT NULL
    AND conv_es - floor(epoch_us(ts) / 1000000) <= {window_h * 3600}
)
SELECT conv_event_id, user_id, event_id AS touch_event_id, event_type,
       hours_before,
       round_even(CAST(w_scaled AS DOUBLE)
                  / CAST(sum(w_scaled) OVER (PARTITION BY conv_event_id)
                         AS DOUBLE), 6) + 0.0 AS decay_share
FROM touches
"""


register("time_decay_attribution", q_time_decay_attribution, time_decay_attribution_sql())


# ---------------------------------------------------------------------------
# Streaming: stream-static dimension enrichment
# ---------------------------------------------------------------------------


def q_streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most common production streaming shape, run for real under
    the hash gate: a fact stream enriched by a STATIC broadcastable
    dimension inside the stream (Structured Streaming's stream-static
    join — no foreachBatch, no state store for the join itself), then
    a streaming aggregate drained availableNow in complete mode.
    Orders arrive as a multi-file stream, customers are the static
    side; the final aggregate equals the one-shot batch join+group
    because every aggregation state is an associative BIGINT (counts +
    exact cents). At 100 TB the static side is a broadcast refreshed
    per deploy — the join adds zero streaming state."""
    import shutil
    import tempfile

    from ..functions.exact import exact_decimal_sum
    from ..streaming.events import run_stream_to_memory

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    work = tempfile.mkdtemp(prefix="spark_graft_stream_static_")
    try:
        src = f"{work}/src"
        orders.repartition(6).write.parquet(src)
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        enriched = stream.join(
            F.broadcast(cust), stream["o_custkey"] == cust["c_custkey"]
        )
        agg = enriched.groupBy("c_mktsegment", "o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            F.round(exact_decimal_sum(F.col("o_totalprice"), 2), 2).alias(
                "total_price"
            ),
        )
        run_stream_to_memory(spark, agg, "stream_static_enrichment")
        return (
            spark.table("stream_static_enrichment")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "streaming_static_enrichment",
    q_streaming_static_enrichment,
    """
SELECT c.c_mktsegment, o.o_orderpriority,
       count(*) AS n_orders,
       round(sum(CAST(round_even(o.o_totalprice * 100, 0) AS BIGINT)) / 100.0, 2)
         AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# Streaming watermark late-data semantics, fully deterministic
# ---------------------------------------------------------------------------
# Default watermark delay is 36 h — deliberately off the day grid so a
# window edge never lands exactly on the default watermark; the fuzzer
# draws ON-grid delays (24/48 h) too, which is the equality-edge probe.
_WM_CHUNKS = 3


def q_streaming_late_data_watermark(
    spark: SparkSession, sf_dir: str, delay_h: int = 36, chunks: int | None = None
) -> DataFrame:
    """Watermark LATE-DATA DROP semantics under the value-hash gate —
    the one streaming behavior the other drains deliberately avoid
    (they use complete mode or a span-exceeding delay). Here lateness
    is the point, so the replay makes it deterministic end to end:

    - arrival chunk = event_id % {chunks} (each chunk mixes old and
      new event times, so later chunks genuinely carry late rows);
    - each chunk is ONE parquet file with a strictly increasing
      mtime, and the file source sorts by modification time with
      maxFilesPerTrigger=1 — batch k IS chunk k, always;
    - watermark delay 36 h (off the day-window grid, so a window edge
      never lands exactly on the watermark);
    - three far-future SENTINEL batches close every real window:
      append mode emits a window only once the watermark passes its
      end, and the late-row FILTER applied in batch k is built from
      the event-time stats of batches <= k-2 (one batch to collect
      stats, one more before the updated watermark takes effect —
      verified with a controlled 6-batch experiment: a late row in
      batch 1 survives a batch-0 watermark, a late row in batch 2
      does not; the oracle's running max therefore ends at
      2 PRECEDING) — without the flush batches the tail windows
      would sit in state forever.

    The DuckDB oracle replays the same schedule in SQL: wm_before(k)
    = running max event time over chunks < k minus the delay; a row
    survives iff its day-window END exceeds wm_before(its chunk);
    every surviving window is emitted (the sentinels guarantee it).
    A 100 TB ingest has to reason about exactly this drop set when it
    mixes live tails with backfill replays."""
    import shutil
    import tempfile
    import uuid

    from ..functions.timewall import wall_epoch_micros

    if chunks is None:
        chunks = _WM_CHUNKS
    ev = load_table(spark, sf_dir, "events")
    ev = ev.select(
        "event_id",
        "event_type",
        F.timestamp_micros(wall_epoch_micros("ts")).alias("ts"),
    )
    work = tempfile.mkdtemp(prefix="spark_graft_stream_wm_")
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        base_mtime = 1_600_000_000

        def place(path: str, k: int) -> None:
            dst = os.path.join(src, f"chunk{k}.parquet")
            shutil.move(path, dst)
            os.utime(dst, (base_mtime + 10 * k, base_mtime + 10 * k))

        # All real chunks land in ONE pass: hash-repartition by chunk
        # (a chunk never splits across tasks -> exactly one part file
        # per partition dir) + partitionBy, instead of _WM_CHUNKS
        # sequential coalesce(1) scans of the full events table — the
        # r7 wall anatomy was 3 single-task scans (2.3 s) plus three
        # ~5 s coalesce(1) 1-row sentinel writes, not the drain.
        chunked = os.path.join(work, "chunked")
        (
            ev.withColumn(
                "_chunk", (F.col("event_id") % chunks).cast("int")
            )
            .repartition(chunks, "_chunk")
            .write.partitionBy("_chunk")
            .parquet(chunked)
        )
        for k in range(chunks):
            d = os.path.join(chunked, f"_chunk={k}")
            part = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
            place(os.path.join(d, part), k)
        far = ev.agg(
            F.max(F.col("ts").cast("long")).alias("mx")
        ).collect()[0][0] + 400 * 86400
        sentinel = spark.createDataFrame(
            [(10**12, "sentinel", far)], "event_id long, event_type string, es long"
        ).select("event_id", "event_type", F.timestamp_seconds(F.col("es")).alias("ts"))

        def land_one_row(df, k: int) -> None:
            tmp = os.path.join(work, f"tmp{k}")
            # repartition(1), NOT coalesce(1): coalescing a parallelized
            # 1-row local relation schedules a 4-5 s one-task union of
            # every empty slice (measured); the 1-row shuffle is ~0.5 s
            # and guarantees exactly one part file.
            df.repartition(1).write.parquet(tmp)
            part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
            place(os.path.join(tmp, part), k)

        land_one_row(sentinel, chunks)
        land_one_row(
            sentinel.withColumn("event_id", F.lit(10**12 + 1)), chunks + 1
        )
        land_one_row(
            sentinel.withColumn("event_id", F.lit(10**12 + 2)), chunks + 2
        )

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", f"{delay_h} hours")
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
        )
        name = f"wm_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_bounded(q, 300)
        out = (
            spark.table(name)
            .filter(F.col("event_type") != "sentinel")
            .select(
                F.col("win.start").cast("long").alias("win_start_s"),
                "event_type",
                F.col("n_events").cast("long").alias("n_events"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


q_streaming_late_data_watermark.__doc__ = q_streaming_late_data_watermark.__doc__.format(
    chunks=_WM_CHUNKS
)

def streaming_late_data_watermark_sql(
    delay_h: int = 36, chunks: int | None = None
) -> str:
    if chunks is None:
        chunks = _WM_CHUNKS
    delay_us = delay_h * 3600 * 1_000_000
    return f"""
WITH e AS (
  SELECT event_id, event_type, epoch_us(ts) AS us,
         event_id % {chunks} AS chunk
  FROM events
),
bmax AS (SELECT chunk, max(us) AS mx FROM e GROUP BY chunk),
wm AS (
  SELECT chunk,
         max(mx) OVER (ORDER BY chunk
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - {delay_us} AS wm_before
  FROM bmax
),
kept AS (
  SELECT e.*
  FROM e JOIN wm USING (chunk)
  WHERE wm.wm_before IS NULL
     OR (floor(us / 86400000000) * 86400000000 + 86400000000) > wm.wm_before
)
SELECT CAST(floor(us / 86400000000) * 86400 AS BIGINT) AS win_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM kept GROUP BY 1, 2
"""


register(
    "streaming_late_data_watermark",
    q_streaming_late_data_watermark,
    streaming_late_data_watermark_sql(),
)


# ---------------------------------------------------------------------------
# Bi-temporal as-of reporting (valid time x transaction time)
# ---------------------------------------------------------------------------
_BT_SNAPSHOTS = ["1997-01-01", "1999-01-01", "2001-01-01", "2002-06-01"]


def q_bitemporal_snapshot_revenue(
    spark: SparkSession,
    sf_dir: str,
    mod1: int = 7,
    mod2: int = 21,
    lag1: int = 30,
    lag2: int = 60,
    snapshots: tuple[str, ...] | None = None,
) -> DataFrame:
    """Bi-temporal reporting — the restatement question SCD2/PIT don't
    answer: monthly revenue BY VALID TIME (order month) as it was
    KNOWN at each transaction-time snapshot. The correction history is
    synthesized deterministically (v1 at +lag1 days for orderkey %
    mod1 = 0 adds the 5% audit adjustment, v2 at +lag2 days for %
    mod2 = 0 takes 2% back off), all in exact integer cents (the +5%
    is cents + floor(cents/20) — pure BIGINT arithmetic, no percentage
    float). For each snapshot the report takes every order's LATEST
    version with tx_date <= snapshot, so the same order month reports
    different revenue under different snapshots — exactly the drift a
    restatement audit reads. The correction geometry (mods, tx-lags,
    snapshot dates) is fuzz-drawn (r11 verdict #5): every draw
    rebuilds the version store AND the oracle from the same constants,
    so a tx_date<=snapshot edge bug on either engine fails the hash.

    Plan: the version frame is a 3-way union projection (no shuffle),
    snapshots are a 4-row broadcast, latest-version-per-(snapshot,
    order) is a keyed window, and the report is one aggregate. At
    100 TB the version store is what a lakehouse table's change log
    already is; nothing here is quadratic."""
    snapshot_dates = list(snapshots) if snapshots is not None else _BT_SNAPSHOTS
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    # r13 (guide §2.4 "remove shuffles outright"): the 3-way version
    # union + per-(snapshot, order) row_number window shuffled ~2.2x
    # the order count only to pick max(version | tx_date <= snapshot),
    # which is a closed-form CASE per (order, snapshot) row: version v
    # exists iff its mod gate passes, and its tx_date is odate + lag_v,
    # so "latest known" = 2 if (key%mod2=0 AND odate+lag2<=s) else
    # 1 if (key%mod1=0 AND odate+lag1<=s) else 0 — exactly the
    # row_number()-desc winner for ANY lag/mod draw (each arm tests its
    # own version's existence + visibility independently; the oracle's
    # recursive definition is unchanged and pins equivalence per draw).
    # v0 is visible iff odate <= s, which is also the order's own
    # membership condition, so the join condition becomes odate <= s.
    # Plan: union + window exchange + sort are gone; the 4-row
    # broadcast nested-loop join feeds a partially-aggregated groupBy.
    c1 = F.col("cents") + F.floor(F.col("cents") / 20).cast("long")
    c2 = c1 - F.floor(c1 / 50).cast("long")
    snaps = spark.createDataFrame(
        [(d,) for d in snapshot_dates], "snapshot string"
    ).select(F.col("snapshot").cast("date").alias("snapshot"))
    known = base.join(F.broadcast(snaps), F.col("odate") <= F.col("snapshot"))
    latest = known.withColumn(
        "version",
        F.when(
            (F.col("o_orderkey") % mod2 == 0)
            & (F.date_add("odate", lag2) <= F.col("snapshot")),
            F.lit(2),
        )
        .when(
            (F.col("o_orderkey") % mod1 == 0)
            & (F.date_add("odate", lag1) <= F.col("snapshot")),
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    ).withColumn(
        "vcents",
        F.when(F.col("version") == 2, c2)
        .when(F.col("version") == 1, c1)
        .otherwise(F.col("cents")),
    )
    return (
        latest.groupBy("snapshot", F.date_trunc("month", "odate").cast("date").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("version") > 0, 1).otherwise(0)).alias("n_restated"),
            F.sum("vcents").alias("sum_cents"),
        )
        .select(
            "snapshot",
            "order_month",
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("n_restated").cast("long").alias("n_restated"),
            F.round(F.col("sum_cents") / 1e2, 2).alias("revenue"),
        )
        .orderBy("snapshot", "order_month")
    )


def bitemporal_snapshot_revenue_sql(
    mod1: int = 7,
    mod2: int = 21,
    lag1: int = 30,
    lag2: int = 60,
    snapshots: tuple[str, ...] | None = None,
) -> str:
    snapshot_dates = list(snapshots) if snapshots is not None else _BT_SNAPSHOTS
    snaps_sql = ", ".join(f"DATE '{d}'" for d in snapshot_dates)
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
versions AS (
  SELECT o_orderkey, odate, 0 AS version, odate AS tx_date, cents AS vcents
  FROM base
  UNION ALL
  SELECT o_orderkey, odate, 1, odate + INTERVAL {lag1} DAY,
         cents + CAST(floor(cents / 20) AS BIGINT)
  FROM base WHERE o_orderkey % {mod1} = 0
  UNION ALL
  SELECT o_orderkey, odate, 2, odate + INTERVAL {lag2} DAY,
         (cents + CAST(floor(cents / 20) AS BIGINT))
           - CAST(floor((cents + CAST(floor(cents / 20) AS BIGINT)) / 50) AS BIGINT)
  FROM base WHERE o_orderkey % {mod2} = 0
),
snaps AS (SELECT unnest([{snaps_sql}]) AS snapshot),
known AS (
  SELECT v.*, s.snapshot,
         row_number() OVER (PARTITION BY s.snapshot, v.o_orderkey
                            ORDER BY v.version DESC) AS rk
  FROM versions v JOIN snaps s ON CAST(v.tx_date AS DATE) <= s.snapshot
)
SELECT snapshot, CAST(date_trunc('month', odate) AS DATE) AS order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN version > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_restated,
       round(sum(vcents) / 1e2, 2) AS revenue
FROM known WHERE rk = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


register(
    "bitemporal_snapshot_revenue",
    q_bitemporal_snapshot_revenue,
    bitemporal_snapshot_revenue_sql(),
)
