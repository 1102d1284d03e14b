"""Custom stateful streaming operator: per-key gap sessionization via
``applyInPandasWithState``.

This is the operator class Spark's built-ins genuinely can't express:
session windows whose lifecycle (open → extend → emit on gap timeout)
must live in keyed state across micro-batches. State is one small
record per active key — bounded by key cardinality and the timeout,
never by stream volume — and times out via the event-time watermark,
so at 100 TB of events per day the state store holds only the active
session frontier.

Batch twin ``sessionize_batch`` computes identical sessions with a
window-lag-cumsum composition (no Python, one shuffle) — used to
validate the streaming operator, and as the backfill path.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, Window
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

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("session_start", TimestampType(), False),
        StructField("session_end", TimestampType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("sum_value", DoubleType(), True),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType(), False),
        StructField("end_us", LongType(), False),
        StructField("n_events", IntegerType(), False),
        StructField("sum_value", DoubleType(), True),
    ]
)


def _fold(
    gap_us: int, key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-key state transition of :func:`sessionize_stream` (bound to
    its gap with ``functools.partial``): on a timeout, emit and drop the
    open session; otherwise fold the key's new events into it, emitting
    every session an in-batch gap closes, and re-arm the timeout at
    ``session_end + gap``."""
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    closed: list[tuple] = []
    if state.hasTimedOut:
        if state.exists:
            s_us, e_us, n, sv = state.get
            closed.append((user_id, s_us, e_us, n, sv))
            state.remove()
    else:
        rows = rows.sort_values("ts")
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()
        vals = rows["value"].tolist()
        if state.exists:
            s_us, e_us, n, sv = state.get
        else:
            s_us = e_us = None  # type: ignore[assignment]
            n, sv = 0, 0.0
        for t, v in zip(ts_us, vals):
            if s_us is None:
                s_us, e_us, n, sv = t, t, 1, float(v or 0.0)
            elif t - e_us <= gap_us:
                # in-watermark late arrival: an event from an
                # earlier micro-batch may precede the open
                # session's frontier — extend the interval, never
                # shrink it (a bare e_us = t would move the
                # session end, and its timeout, backwards)
                s_us, e_us = min(s_us, t), max(e_us, t)
                n, sv = n + 1, sv + float(v or 0.0)
            else:
                closed.append((user_id, s_us, e_us, n, sv))
                s_us, e_us, n, sv = t, t, 1, float(v or 0.0)
        if s_us is not None:
            state.update((int(s_us), int(e_us), int(n), float(sv)))
            state.setTimeoutTimestamp((e_us + gap_us) // 1000)
    if closed:
        out = pd.DataFrame(
            closed,
            columns=["user_id", "start_us", "end_us", "n_events", "sum_value"],
        )
        yield pd.DataFrame(
            {
                "user_id": out["user_id"].astype("int64"),
                "session_start": pd.to_datetime(out["start_us"], unit="us"),
                "session_end": pd.to_datetime(out["end_us"], unit="us"),
                "n_events": out["n_events"].astype("int32"),
                "sum_value": out["sum_value"].astype("float64"),
            }
        )


def sessionize_stream(
    events: DataFrame,
    *,
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap sessionization over (user_id, ts, value).

    Emits a row per *closed* session (closed when the event-time
    watermark passes the session end + gap). Input must be a streaming
    DataFrame with columns user_id/ts/value.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            partial(_fold, gap_seconds * 1_000_000),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def assign_session_ids(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Attach a per-user ``__session_id`` column (lag + cumulative
    counter, one shuffle on user_id) without aggregating — the reusable
    assignment stage shared by :func:`sessionize_batch` and any
    session-scoped analytics (e.g. conversion rates) that still need
    the raw events."""
    gap_us = gap_seconds * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts")
    return events.withColumn(
        "__new_session",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > gap_us
        ).cast("int"),
    ).withColumn(
        "__session_id",
        F.sum(F.coalesce(F.col("__new_session"), F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new_session")


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch twin: identical session assignment via lag + cumulative
    session counter (pure JVM, one shuffle on user_id)."""
    with_gap = assign_session_ids(events, gap_seconds)
    return (
        with_gap.groupBy("user_id", "__session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .drop("__session_id")
    )
