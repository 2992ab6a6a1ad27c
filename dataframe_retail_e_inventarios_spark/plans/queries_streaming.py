"""Event-stream analytics in batch form [SURVEY §7.6]: tumbling-window
counts and gap-based sessionization over the events table. The same
logic runs as Structured Streaming in streaming/events.py; the batch
form is oracle-checked (timestamps surfaced as epoch seconds so the
comparison is timezone-proof).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.timewall import wall_epoch_micros, wall_epoch_seconds
from ..registry import register
from ..sources.readers import load_table

SESSION_GAP_MIN = 30

from ..functions.exact import exact_decimal_sum as _exact_sum  # noqa: E402


def _exact2(c):
    return _exact_sum(c, 2)


# -- tumbling hourly counts per event type ---------------------------------
def q_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hour = (F.floor(wall_epoch_micros("ts") / F.lit(3_600_000_000)) * 3600).cast("long")
    return (
        ev.groupBy(hour.alias("hour_epoch"), "event_type")
        .agg(F.count("*").alias("n"), F.round(_exact2(F.col("value")), 2).alias("total_value"))
    )


register(
    "events_hourly_counts",
    q_hourly_counts,
    """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_epoch,
       event_type, count(*) AS n, round(sum(CAST(round_even(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total_value
FROM events GROUP BY 1, 2
""",
)


# -- gap-based sessionization (batch twin of session_window) ---------------
def q_sessions(
    spark: SparkSession, sf_dir: str, *, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Gaps-and-islands: a new session starts when the gap to the
    previous event of the same user exceeds gap_min minutes. Matches
    session_window(ts, gap) semantics on static data. Gap geometry is
    fuzz-injectable (tools/fuzz_oracles.py) — the strict-vs-closed
    boundary convention is re-proved at every drawn gap, not just 30."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = (
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.timestamp_diff("MICROSECOND", F.col("prev_ts"), F.col("ts"))
                > gap_min * 60 * 1_000_000
            ),
            1,
        ).otherwise(0)
    )
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_s", gap_flag)
        .withColumn("session_no", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return sessions.groupBy("user_id", "session_no").agg(
        wall_epoch_seconds(F.min("ts")).alias("session_start_epoch"),
        wall_epoch_seconds(F.max("ts")).alias("session_last_epoch"),
        F.count("*").alias("n_events"),
        F.round(_exact2(F.col("value")), 2).alias("total_value"),
    )


# -- view -> purchase conversion join (batch twin of stream-stream join) ---
CONVERSION_WINDOW_MIN = 30


def q_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversions: each purchase matched to every view by the same
    user in the preceding 30 minutes. Equi-join on user_id with a
    range predicate — one shuffle per side on the user key, per-user
    sort-merge; the streaming twin
    (streaming/events.view_purchase_join_stream) runs the identical
    condition with watermarks bounding the buffered state."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value"),
    )
    gap_us = F.timestamp_diff("MICROSECOND", F.col("view_ts"), F.col("purchase_ts"))
    return (
        purchases.join(views, "user_id")
        .filter(
            (F.col("purchase_ts") >= F.col("view_ts"))
            & (gap_us <= CONVERSION_WINDOW_MIN * 60 * 1_000_000)
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            F.floor(gap_us / 1_000_000).cast("long").alias("gap_s"),
            "value",
        )
    )


register(
    "events_view_purchase_join",
    q_view_purchase_join,
    f"""
SELECT p.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(floor((epoch_us(p.ts) - epoch_us(v.ts)) / 1000000) AS BIGINT) AS gap_s,
       p.value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND epoch_us(p.ts) - epoch_us(v.ts) <= {CONVERSION_WINDOW_MIN * 60 * 1_000_000}
""",
)


# -- cohort retention ------------------------------------------------------
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-active day
    (cohort), counted by distinct active day offset. Two aggregates —
    first-day per user (one shuffle on user), then distinct
    (cohort, offset, user) → counts; epoch-day arithmetic keeps it
    timezone-proof."""
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(wall_epoch_micros("ts") / F.lit(86_400_000_000)).cast("long")
    w = Window.partitionBy("user_id")
    return (
        ev.select("user_id", day.alias("day"))
        .withColumn("cohort_day", F.min("day").over(w))
        .select("user_id", "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
    )


register(
    "events_cohort_retention",
    q_cohort_retention,
    """
WITH days AS (
  SELECT user_id, CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
  FROM events
),
cohorted AS (
  SELECT DISTINCT user_id,
         min(day) OVER (PARTITION BY user_id) AS cohort_day,
         day - min(day) OVER (PARTITION BY user_id) AS day_offset
  FROM days
)
SELECT cohort_day, day_offset, count(*) AS n_users
FROM cohorted GROUP BY 1, 2
""",
)


# -- in-session conversion funnel ------------------------------------------
def q_session_funnel(
    spark: SparkSession, sf_dir: str, *, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Ordered funnel per session (gap fuzz-injectable,
    tools/fuzz_oracles.py): sessions counted by how far they
    got — any view, then a purchase at or after the first view (order
    matters: a purchase-before-any-view session does NOT convert).
    Builds on the same gaps-and-islands sessionization; the funnel is
    one aggregate over the session partition — min(view ts) vs
    max(purchase ts) comparison, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = (
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.timestamp_diff("MICROSECOND", F.col("prev_ts"), F.col("ts"))
                > gap_min * 60 * 1_000_000
            ),
            1,
        ).otherwise(0)
    )
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("new_s", gap_flag)
        .withColumn("session_no", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    stage = (
        F.when(
            F.col("first_view").isNotNull()
            & F.col("last_purchase").isNotNull()
            & (F.col("last_purchase") >= F.col("first_view")),
            F.lit("converted"),
        )
        .when(F.col("first_view").isNotNull(), F.lit("viewed_only"))
        .otherwise(F.lit("no_view"))
    )
    return per_session.groupBy(stage.alias("stage")).agg(
        F.count("*").alias("n_sessions")
    )


def events_session_funnel_sql(gap_min: int = SESSION_GAP_MIN) -> str:
    return f"""
WITH ordered AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                  OR (epoch_us(ts) - epoch_us(prev_ts)) > {gap_min * 60 * 1_000_000}
             THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
),
per_session AS (
  SELECT user_id, session_no,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM numbered GROUP BY 1, 2
)
SELECT CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL
             AND last_purchase >= first_view THEN 'converted'
            WHEN first_view IS NOT NULL THEN 'viewed_only'
            ELSE 'no_view' END AS stage,
       count(*) AS n_sessions
FROM per_session GROUP BY 1
"""


register("events_session_funnel", q_session_funnel, events_session_funnel_sql())


def events_sessionization_sql(gap_min: int = SESSION_GAP_MIN) -> str:
    return f"""
WITH ordered AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                  OR (epoch_us(ts) - epoch_us(prev_ts)) > {gap_min * 60 * 1_000_000}
             THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
numbered AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(floor(epoch_us(min(ts)) / 1000000) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch_us(max(ts)) / 1000000) AS BIGINT) AS session_last_epoch,
       count(*) AS n_events, round(sum(CAST(round_even(value * 100, 0) AS BIGINT)) / 100.0, 2) AS total_value
FROM numbered GROUP BY 1, 2
"""


register("events_sessionization", q_sessions, events_sessionization_sql())


# -- Ordered window funnel (ClickHouse windowFunnel shape) -----------------
_FUNNEL_WINDOW_MIN = 72 * 60


def q_window_funnel_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step funnel with a time window: per user, how far
    along view -> click -> purchase they got, where every later step
    must happen strictly AFTER the previous one and within 72 hours
    of the first view. The earliest-chain convention pins the
    semantics deterministically (t1 = first view; t2 = first click
    after t1; t3 = first purchase after t2; level k needs t_k within
    the window of t1) — the analysis ClickHouse calls windowFunnel,
    expressed relationally.

    Plan shape: one filtered, column-pruned pass per step (the
    event_type predicate reaches the scan), each reduced to ONE row
    per user before the next join — so the chain shuffles per-user
    aggregates, never raw events. Step k's join input shrinks
    monotonically (only users that completed step k-1). At 100 TB
    with events bucketed by user_id all three joins co-locate."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    users = ev.select("user_id").distinct()
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2.select("user_id", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    w_us = _FUNNEL_WINDOW_MIN * 60 * 1_000_000
    in_w = lambda c: (  # noqa: E731
        F.timestamp_diff("MICROSECOND", F.col("t1"), F.col(c)) <= w_us
    )
    lvl = (
        F.when(F.col("t1").isNull(), F.lit(0))
        .when(
            F.col("t2").isNotNull() & in_w("t2"),
            F.when(F.col("t3").isNotNull() & in_w("t3"), F.lit(3)).otherwise(
                F.lit(2)
            ),
        )
        .otherwise(F.lit(1))
    )
    joined = (
        users.join(t1, "user_id", "left")
        .join(t2.select("user_id", "t2"), "user_id", "left")
        .join(t3, "user_id", "left")
    )
    return (
        joined.select(lvl.cast("long").alias("level"))
        .groupBy("level")
        .agg(F.count("*").alias("n_users"))
        .orderBy("level")
    )


register(
    "window_funnel_levels",
    q_window_funnel_levels,
    f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
  GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2, min(t1.t1) AS t1
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY e.user_id
),
users AS (SELECT DISTINCT user_id FROM events),
lv AS (
  SELECT u.user_id,
    CASE
      WHEN t1.t1 IS NULL THEN 0
      WHEN t2.t2 IS NOT NULL
           AND date_diff('microsecond', t1.t1, t2.t2) <= {_FUNNEL_WINDOW_MIN * 60 * 1_000_000}
        THEN CASE
          WHEN t3.t3 IS NOT NULL
               AND date_diff('microsecond', t1.t1, t3.t3) <= {_FUNNEL_WINDOW_MIN * 60 * 1_000_000}
            THEN 3 ELSE 2 END
      ELSE 1
    END AS level
  FROM users u
  LEFT JOIN t1 ON u.user_id = t1.user_id
  LEFT JOIN t2 ON u.user_id = t2.user_id
  LEFT JOIN t3 ON u.user_id = t3.user_id
)
SELECT CAST(level AS BIGINT) AS level, CAST(count(*) AS BIGINT) AS n_users
FROM lv GROUP BY level ORDER BY level
""",
)
