"""Custom stateful streaming operator: event sessionization with
applyInPandasWithState (the Structured Streaming escape hatch for operators
the built-in windowed aggs can't express — session windows keyed by gap,
emitting one row per CLOSED session).

State per user: (session_start, last_ts, n_events, sum_value). An event
more than `gap` after last_ts closes the open session (emit) and starts a
new one. Event-time timeout (watermark-driven) flushes idle sessions.

Batch twin for oracle checks: q05_sessionize (lag/window SQL) counts the
same sessions — the streaming test asserts the counts agree.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from docvision_spark.pipeline.shipping import ensure_py_files, on_worker

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("n_events", IntegerType()),
    StructField("sum_value", DoubleType()),
    StructField("closed_by", StringType()),   # 'gap' | 'timeout'
])

STATE_SCHEMA = StructType([
    StructField("start_ms", LongType()),
    StructField("last_ms", LongType()),
    StructField("n_events", IntegerType()),
    StructField("sum_value", DoubleType()),
])

GAP_S = 1800


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    user_id = key[0]
    rows = []

    if state.hasTimedOut:
        if state.exists:
            start_ms, last_ms, n, sv = state.get
            rows.append((user_id, start_ms, last_ms, n, sv, "timeout"))
            state.remove()
    else:
        events = pd.concat(list(pdfs), ignore_index=True)
        events = events.sort_values(["ts", "event_id"])
        if state.exists:
            start_ms, last_ms, n, sv = state.get
        else:
            start_ms = last_ms = -1
            n, sv = 0, 0.0
        for ts, val in zip(events["ts"], events["value"]):
            ts_ms = int(ts.value // 1_000_000)  # pandas ns -> ms
            if start_ms < 0:
                start_ms, last_ms, n, sv = ts_ms, ts_ms, 1, float(val)
            elif ts_ms - last_ms > GAP_S * 1000:
                rows.append((user_id, start_ms, last_ms, n, sv, "gap"))
                start_ms, last_ms, n, sv = ts_ms, ts_ms, 1, float(val)
            else:
                last_ms = max(last_ms, ts_ms)
                n += 1
                sv += float(val)
        state.update((start_ms, last_ms, n, sv))
        state.setTimeoutTimestamp(last_ms + GAP_S * 1000)

    if rows:
        out = pd.DataFrame(
            rows, columns=["user_id", "s_ms", "e_ms", "n_events",
                           "sum_value", "closed_by"])
        out["session_start"] = pd.to_datetime(out.pop("s_ms"), unit="ms")
        out["session_end"] = pd.to_datetime(out.pop("e_ms"), unit="ms")
        yield out[[f.name for f in SESSION_SCHEMA.fields]]


def sessionize_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """events: streaming DF with (event_id, ts, user_id, value, ...)."""
    ensure_py_files(events.sparkSession)
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            on_worker(_sessionize_group),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
