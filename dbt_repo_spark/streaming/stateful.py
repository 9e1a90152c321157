"""Custom stateful streaming operator: timer-closed sessions
(``sessionize``).

Spark's built-in ``session_window`` cannot emit a session exactly when it
closes, so this operator takes the sanctioned custom-stateful path
(``applyInPandasWithState``): state is a tiny fixed-width tuple per key,
batches arrive as Arrow frames, and the watermark bounds state the same
way it bounds the dedup in ingest.py.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _session_row(key: tuple[Any, ...], s: tuple) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "session_start": [pd.to_datetime(int(s[0]), unit="ms")],
            "session_end": [pd.to_datetime(int(s[1]), unit="ms")],
            "n_events": [int(s[2])],
            "total_value": [float(s[3])],
        }
    )


def _session_fold(
    cur: tuple | None, pdfs: Iterator[pd.DataFrame], gap_ms: int
) -> tuple[list[tuple], tuple | None]:
    """Fold a micro-batch's rows into (closed_sessions, open_session)."""
    pdf = pd.concat(list(pdfs))
    if pdf.empty:
        return [], cur
    pdf = pdf.sort_values("ts")
    closed: list[tuple] = []
    for t, v in zip(
        (pdf["ts"].astype("int64") // 1_000_000).tolist(),
        pdf["value"].astype("float64").tolist(),
    ):
        if cur is not None and t - cur[1] > gap_ms:
            closed.append(cur)
            cur = None
        if cur is None:
            cur = (t, t, 1, v)
        else:
            cur = (cur[0], max(cur[1], t), cur[2] + 1, cur[3] + v)
    return closed, cur


def sessionize(
    events: DataFrame, gap_minutes: int = 30, delay: str = "2 minutes"
) -> DataFrame:
    """Event-time sessionization with an inactivity TIMER
    (``applyInPandasWithState`` + ``EventTimeTimeout``).

    ``F.session_window`` covers gap-sessionization as a built-in
    aggregation; this operator exists for the semantics the built-in
    can't express: a session CLOSES and is emitted exactly when the
    watermark passes last_event + gap (the key's event-time timeout
    fires with an empty input group), so downstream consumers get one
    final row per session, and the state store holds ONE fixed-width
    open-session tuple per key — state is key-cardinality-bound, not
    event-volume-bound.

    Input stream columns: (user_id BIGINT, ts TIMESTAMP, value DOUBLE).
    Output: one row per CLOSED session (append mode).
    """
    gap_ms = gap_minutes * 60_000

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            yield _session_row(key, state.get)
            state.remove()
            return
        cur = state.get if state.exists else None
        closed, cur = _session_fold(cur, pdfs, gap_ms)
        for s in closed:
            yield _session_row(key, s)
        if cur is not None:
            state.update(cur)
            # fire when the watermark passes last + gap (timeout must be
            # strictly ahead of the current watermark)
            state.setTimeoutTimestamp(
                max(cur[1] + gap_ms, state.getCurrentWatermarkMs() + 1)
            )

    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

