"""Structured Streaming slice (SURVEY.md §2.11 mapping + §7.1 step 5).

The reference has no streams — its "incremental" semantics are a daily
Airflow rerun over a re-read window plus idempotent re-upload
(dags/sp500_dag.py.py:324, :21, :285). The exact Spark analogue is a
file-stream source with ``trigger(availableNow=True)`` + checkpoint:
each run processes only files not yet in the checkpoint — the
exactly-once version of the reference's PURGE=TRUE bookkeeping (:378).

On top of that (deliberate extension, SURVEY.md §7.3): event-time
windowed aggregation with watermarks (tumbling / session; the sliding
plan builds its window in plans/queries_streaming.py), and custom
stateful operators via applyInPandasWithState.

Scale notes: state store size is bounded by the watermark horizon ×
key cardinality; the shuffle key is the window/user key, same
partitioning rules as batch groupBy. The one sink here is
``run_available_now``'s memory sink; the plans in
plans/queries_streaming.py snapshot it to parquet and read it back.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Events as a generator writes them, ts as int64 nanos: the schema for
# a landing dir of raw event files (io/readers.read_stream normalizes
# ts the same way load_table does).
EVENTS_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 2-hour late-data
    cutoff."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Session windows per user: a session closes after 30 minutes
    idle."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


_RUNNING_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _running_totals(key, pdfs, state: GroupState):
    """Custom stateful op: running per-user totals across micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key state the built-in
    windows can't express (monotone running totals, emitted every
    micro-batch).

    NoTimeout: state grows with ALL-TIME key cardinality — correct for
    bounded replays (availableNow over a finite landing dir), a
    scale-killer for 24/7 deployment. The bounded twin is
    running_user_totals_ttl below."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RUNNING_CENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def running_user_totals_cents(events: DataFrame) -> DataFrame:
    """Integer-state twin of running_user_totals (r8): the per-key
    accumulator is BIGINT cents (floor(value*100)), so the running
    total is ASSOCIATIVE-EXACT — no float-sum order dependence across
    micro-batch boundaries — and the FINAL emission per key (max
    n_events; n is strictly increasing for a key) equals the batch
    groupBy regardless of how the stream was batched. That final-state
    projection is what streaming_running_totals_final hash-checks
    against DuckDB; the double twin remains the update-mode exhibit."""

    def fn(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100.0).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_RUNNING_CENTS_SCHEMA,
        stateStructType="n BIGINT, cents BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Idle time after which running_user_totals_ttl evicts a user's state.
_TTL_MS = 3_600_000


def running_user_totals_ttl(events: DataFrame) -> DataFrame:
    """Bounded-state twin of running_user_totals: EventTimeTimeout
    evicts a user's state once the 2-hour watermark passes their last
    event by ``_TTL_MS`` (1 hour). Totals RESTART after an
    idle gap longer than the TTL — the deliberate semantics trade that
    caps state at (keys active within horizon+TTL) × bytes/key instead
    of all-time key cardinality. Event-time (not processing-time)
    timeout so replays of the same files are deterministic.

    Timeout mechanics: Spark invokes the function once per key with
    ``state.hasTimedOut`` when the watermark passes the registered
    timestamp and the key has no data in the batch — that invocation
    removes the state and emits nothing (39 -> 1 state rows at sf0.01,
    BASELINE.md §6); tests drive eviction across checkpointed
    availableNow runs."""

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last_ms = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            # pandas datetime64[ns] → epoch ms
            last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
        state.update((n, total, last_ms))
        # Must register strictly past the current watermark or Spark
        # rejects the timestamp (the key would be already expired).
        state.setTimeoutTimestamp(
            max(last_ms + _TTL_MS, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType="n BIGINT, total DOUBLE, last_ms BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_available_now(
    stream_df: DataFrame, checkpoint: str, query_name: str, output_mode: str = "append"
) -> None:
    """The reference's daily-batch semantics: process everything new,
    then stop (trigger availableNow + checkpoint = exactly-once over
    files, replacing replace=True/PURGE=TRUE bookkeeping)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
