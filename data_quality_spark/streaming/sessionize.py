"""Custom stateful streaming operator: gap-based sessionization via
`applyInPandasWithState` — the pattern for operators Structured Streaming's
built-in windows can't express (SURVEY §2.11: the reference has no streaming
runtime; its mergeable-accumulator design is what makes this possible).

Each user's events fold into sessions that close after `GAP_SECONDS` of
inactivity; timeouts emit sessions even when no further events arrive.
State per key is O(1) (current session aggregates), the GroupState store
handles spill/recovery, and the watermark bounds retained state.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

# a session closes after this many seconds without an event
GAP_SECONDS = 1800

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_ts", LongType()),    # micros
        StructField("last_ts", LongType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)


def _fold_sessions(key, pdfs, state: GroupState):
    gap_us = GAP_SECONDS * 1_000_000
    (user_id,) = key
    out = []

    def emit(s):
        out.append(
            (
                user_id,
                datetime.utcfromtimestamp(s[0] / 1e6),
                datetime.utcfromtimestamp(s[1] / 1e6),
                s[2],
                s[3],
            )
        )

    if state.hasTimedOut:
        if state.exists:
            emit(tuple(state.get))
            state.remove()
    else:
        cur = tuple(state.get) if state.exists else None
        events = []
        for pdf in pdfs:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                events.append((int(pd.Timestamp(ts).value // 1000), float(val)))
        events.sort()
        for ts_us, val in events:
            if cur is None:
                cur = (ts_us, ts_us, 1, val)
            elif ts_us - cur[1] > gap_us:
                emit(cur)
                cur = (ts_us, ts_us, 1, val)
            else:
                cur = (cur[0], max(cur[1], ts_us), cur[2] + 1, cur[3] + val)
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(cur[1] // 1000 + GAP_SECONDS * 1000)
    yield pd.DataFrame(
        out,
        columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
    )


def sessionize(events_stream: DataFrame) -> DataFrame:
    """events(user_id, ts, value) stream → closed sessions stream."""
    return (
        events_stream.withWatermark("ts", f"{GAP_SECONDS * 2} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold_sessions,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin (for validation): classic gap-sessionization via window
    lag — session id = cumulative count of gap-breaks per user."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # NTZ timestamps reject a direct bigint cast; hop via TIMESTAMP (session
    # timezone is pinned UTC in get_spark, so the epoch is unambiguous)
    epoch = F.col("ts").cast("timestamp").cast("long")
    marked = events.withColumn(
        "_new_session",
        F.when(epoch - F.lag(epoch, 1, 0).over(w) > GAP_SECONDS, 1).otherwise(0),
    ).withColumn("_session_no", F.sum("_new_session").over(w))
    return (
        marked.groupBy("user_id", "_session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("_session_no")
    )
