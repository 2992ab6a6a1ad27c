"""Structured Streaming over the events table [SURVEY §2.10, §7.6 —
explicitly beyond the reference, which is pure batch].

The same windowed aggregations exist twice:
- batch form (plans/queries_streaming.py) with a DuckDB oracle;
- streaming form here (readStream -> watermark -> window -> sink),
  demonstrated in tests with a file source + memory sink.

At scale the stream source would be Kafka; the plan shape (watermarked
tumbling/session windows, append mode) is identical.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# How late an event may arrive and still count.
WATERMARK = "2 hours"


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stream source (stands in for Kafka in tests)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(path)


def hourly_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling hourly counts per event type; late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked SLIDING windows (1 h wide, 30 min hop): every event
    lands in two overlapping windows, the rolling-rate view a tumbling
    window can't give. State per key lives until the watermark passes
    the window end, so it is bounded at (width/hop)=2 open windows per
    event_type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def user_sessions_stream(events: DataFrame) -> DataFrame:
    """Session windows per user: events closer than 30 minutes merge into
    one session (stateful; watermark bounds session state)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def view_purchase_join_stream(
    views: DataFrame, purchases: DataFrame, window_min: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user views
    in the preceding ``window_min`` minutes. Both sides carry
    watermarks and the join condition bounds purchase_ts relative to
    view_ts, so Spark can size the state store per side and evict
    buffered rows once the watermark passes — the REQUIRED shape for
    an unbounded stream-stream join (without the time bound, both
    sides would buffer forever). Batch twin (oracle-checked):
    plans/queries_streaming.q_view_purchase_join."""
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
    )
    return p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {window_min} MINUTES")
        ),
    ).drop("v_user_id")


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Ingest-time exact dedup: drop replayed event_ids inside the
    watermark horizon (dropDuplicatesWithinWatermark — state holds one
    key per event_id only until the watermark passes it, so state is
    bounded; an unbounded dropDuplicates would leak state forever on a
    real firehose). This is the streaming twin of N1 exact dedup — the
    first stage of any streaming training-data ingest."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """transformWithStateInPandas twin of running_user_totals_stream —
    the forward-looking arbitrary-stateful API (Spark 4): typed state
    handles (ValueState/ListState/MapState) + timers replace the
    single packed state tuple of applyInPandasWithState. Same
    semantics here (per-user running count/total emitted on update);
    both twins are tested against the batch aggregate, so either API
    can carry a custom operator without semantic drift. NOTE: the
    transformWithState state protocol imports google.protobuf at
    runtime; environments without it (this container) should use the
    applyInPandasWithState twin — the test is skip-gated on the dep."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        StructType as _St,
        StructField as _Sf,
        LongType as _Lt,
        DoubleType as _Dt,
    )

    out_schema = _St(
        [
            _Sf("user_id", _Lt()),
            _Sf("n_events", _Lt()),
            _Sf("total_value", _Dt()),
        ]
    )
    state_schema = _St([_Sf("n", _Lt()), _Sf("tot", _Dt())])

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, tot = self._state.get() if self._state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                tot += float(pdf["value"].sum())
            self._state.update((n, tot))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(tot, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def await_bounded(q, timeout: float) -> None:
    """Await a bounded (availableNow) stream, raising on timeout.

    ``awaitTermination(t)`` returns False when t elapses with the
    stream STILL RUNNING; ignoring that boolean means a slow drain's
    partial memory table would be read as the result while cleanup
    code deletes the source directory under the live stream. Fail
    loudly instead: stop the query and raise."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"bounded stream {q.name or q.id} did not terminate within "
            f"{timeout}s — partial results would be wrong; aborting"
        )


def run_stream_to_memory(
    spark: SparkSession, stream_df: DataFrame, query_name: str
) -> None:
    """Drain a bounded file stream into a memory sink (test harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_bounded(q, 120)


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count / value total, emitted on every update.

    This is the arbitrary-stateful-processing escape hatch for
    operators session/tumbling windows can't express (counters,
    custom sessionization policies, online sketches). State is a
    single row per user; the watermark-free NoTimeout variant keeps
    the demo deterministic on a bounded file stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    OUT_SCHEMA = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    STATE_SCHEMA = StructType(
        [StructField("n", LongType()), StructField("tot", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(tot, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )
