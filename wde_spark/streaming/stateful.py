"""Custom stateful streaming operator — `applyInPandasWithState`.

No reference counterpart (the reference is batch-only, SURVEY.md §2.9);
this is the engine's custom-stateful-operator surface for the streaming
north star: per-user session aggregation with explicit state, the shape
you reach for when `session_window` can't express the semantics (e.g.
per-session derived metrics, custom eviction, side outputs).

State model: one row of (open-session start/end/count/sum) per user key.
An incoming batch merges into state; sessions whose gap has lapsed
relative to the event-time watermark are emitted and evicted; on timeout
(watermark passed with no new data) the remaining open session flushes.

(Spark 4's successor API, `transformWithStateInPandas`, is the same
operator shape with typed state handles; its Python driver worker needs
`google.protobuf`, absent from this environment, so the engine standardizes
on `applyInPandasWithState` — identical capability surface.)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("end_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("s", T.DoubleType()),
])


def _session_fn():
    gap_seconds = 1800
    gap_us = gap_seconds * 1_000_000

    def fn(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows: list[tuple[int, float]] = []
        for pdf in pdfs:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                rows.append((int(ts.value // 1_000), float(val)))

        if state.hasTimedOut:
            if state.exists:
                st, en, n, s = state.get
                state.remove()
                yield _emit(user_id, st, en, n, s)
            return

        rows.sort()
        cur = list(state.get) if state.exists else None
        closed: list[tuple] = []
        for ts_us, val in rows:
            if cur is None:
                cur = [ts_us, ts_us, 0, 0.0]
            elif ts_us - cur[1] > gap_us:
                closed.append(tuple(cur))
                cur = [ts_us, ts_us, 0, 0.0]
            cur[1] = max(cur[1], ts_us)
            cur[2] += 1
            cur[3] += val
        if cur is not None:
            state.update(tuple(cur))
            state.setTimeoutTimestamp(cur[1] // 1000 + gap_seconds * 1000)
        for st, en, n, s in closed:
            yield _emit(user_id, st, en, n, s)

    def _emit(user_id, st, en, n, s):
        return pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(st, unit="us")],
            "session_end": [pd.Timestamp(en, unit="us")],
            "n_events": [n],
            "sum_value": [round(s, 4)],
        })

    return fn


def sessionize_stateful(events: DataFrame,
                        watermark: str = "2 hours") -> DataFrame:
    """events(ts timestamp, user_id long, value double) stream → closed
    sessions via explicit per-key state. Batch-equivalence with
    operators/relational.sessionize is asserted in tests.

    ts is cast to TIMESTAMP first: watermarks reject TIMESTAMP_NTZ, which
    is what Spark 4 infers from parquet written with isAdjustedToUTC=false
    (a no-op cast when the column is already TZ-aware)."""
    from pyspark.sql import functions as F

    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(),
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
