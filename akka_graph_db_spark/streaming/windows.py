"""Structured Streaming event-window queries (SURVEY.md §2.9 streaming).

The batch expressions in ``functions.events`` run unchanged under
streaming; this module adds the streaming-only pieces: watermarked
aggregation (late-data drop), streaming dedup within the watermark, and a
custom stateful operator via ``applyInPandasWithState`` (the Spark-native
replacement for hand-rolled actor state, and the pattern for any stateful
operator the built-ins can't express).

All entry points take a STREAMING DataFrame (``spark.readStream...``) with
the events schema (ts TIMESTAMP, user_id BIGINT, event_type STRING,
value DOUBLE, ...).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from akka_graph_db_spark.streaming import drain

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def dedup_stream(
    events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Exactly-once event stream within the watermark horizon: duplicate
    event_ids arriving inside the window are dropped with bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


RUNNING_STATE_SCHEMA = "n bigint, total double"
RUNNING_OUT_SCHEMA = (
    "user_id bigint, batch_events bigint, lifetime_events bigint, "
    "lifetime_value double"
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user lifetime counters that survive
    across micro-batches — state the built-in windows can't express
    (unbounded, no window close). applyInPandasWithState keeps state as a
    tuple per user; Arrow batches in/out; state never grows per-event.
    """

    def update(
        key,
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        n, total = state.get() if state.exists else (0, 0.0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "batch_events": [batch_n],
                "lifetime_events": [n],
                "lifetime_value": [round(total, 2)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_counts_stream(
    events: DataFrame, gap: str = "10 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked streaming SESSION windows: per-user gap-based sessions
    that close (and emit, in append mode) once the watermark passes the
    session end. The streaming-native form of ``functions.events.session``
    — merging session state is maintained by Spark's session-window state
    store, evicted as the watermark advances, so the query runs unbounded.

    Append-mode emission semantics matter for drain-style tests: a
    session emits only in a micro-batch whose START watermark already
    passed the session's end, so an ``availableNow`` drain needs later
    sentinel batches to flush the tail (see q_streaming_session)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory_sink(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> DataFrame:
    """Drain an availableNow stream into the in-memory table
    ``query_name`` and return that table."""
    drain(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        checkpoint_dir,
    )
    return stream_df.sparkSession.table(query_name)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    watermark: str = "10 minutes",
    max_lag_seconds: int = 1800,
) -> DataFrame:
    """Stream-stream INNER interval join: a right event matches a left
    event with the same ``key`` when right_ts ∈ [left_ts,
    left_ts + max_lag_seconds]. Both sides are watermarked and the join
    condition is event-time-bounded, so Spark can evict join state as
    the watermark advances — the canonical funnel/attribution join
    (click → purchase within N minutes) that runs unbounded.

    Column names (other than ``key``) must be disjoint between the two
    inputs — rename ts columns before calling (the events fixture uses
    l_ts/r_ts).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts)
            + F.expr(f"INTERVAL {int(max_lag_seconds)} SECONDS")
        )
    )
    return lw.join(rw, cond, "inner").drop(rw[key])
