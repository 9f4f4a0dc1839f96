"""Streaming windowed aggregation + custom stateful operators.

The reference has NO streaming engine — NATS fetch is bounded batch
(``/root/reference/adapters/nats.py:57-87``), no watermarks/windows/state
(SURVEY §2.8). These are supplied from Structured Streaming:

- ``windowed_turn_counts`` : event-time tumbling-window aggregates with a
  watermark — late events beyond the watermark are dropped, windows close
  and emit exactly once in append mode (the late/out-of-order data story for
  dashboard-style rollups; the MERGE path needs none of this because LWW by
  LSN is order-free).
- ``sessionize`` : event-time SESSION windows (inactivity gap) — one
  function for batch and watermarked streams; oracle-checked against the
  SQL gaps-and-islands formulation (contract query ``event_sessions``).
- ``conversation_state_tracker`` : ``applyInPandasWithState`` — arbitrary
  per-conversation running state (turn count, lsn high-water, last activity)
  maintained across micro-batches in the state store, with processing-time
  timeout for conversation expiry. The template for custom stateful
  operators the DataFrame API can't express.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_turn_counts(
    stream_df: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Per (event-time window, conv_id): change counts and lsn range.
    Append-mode-compatible: emits each window once, after the watermark
    passes its end."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("n_deletes"),
            F.min("lsn").alias("lsn_min"),
            F.max("lsn").alias("lsn_max"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id", "n_changes", "n_deletes", "lsn_min", "lsn_max",
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str | None = None,
    agg_value: str | None = None,
) -> DataFrame:
    """Event-time SESSION windows per key (``F.session_window``): events of
    the same key belong to one session while each is ≤ ``gap`` after the
    previous; a gap > ``gap`` starts a new session (Spark merges sessions
    whose [start, last+gap] ranges touch, so the boundary is INCLUSIVE —
    the oracle's island break is ``diff > gap``). Works identically on a
    batch DataFrame and on a stream (pass ``watermark`` — session windows
    need one to close in append mode, Spark merges partial sessions across
    micro-batches in the state store).

    Output per session: key cols, ``session_start`` (first event ts),
    ``n_events``, ``session_last`` (last event ts), plus
    ``session_value = round(sum(agg_value), 2)`` when given. Equivalent to
    the classic SQL gaps-and-islands (lag + cumulative break sum) — which
    is exactly the DuckDB oracle for the ``event_sessions`` contract
    query — but expressed as ONE shuffle-and-merge aggregate instead of
    two stacked window passes."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.max(ts_col).alias("session_last"),
    ]
    if agg_value:
        aggs.append(F.round(F.sum(agg_value), 2).alias("session_value"))
    return (
        src.groupBy(*key_cols, F.session_window(ts_col, gap).alias("sess"))
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("sess.start").alias("session_start"),
            "n_events",
            "session_last",
            *(["session_value"] if agg_value else []),
        )
    )


_TRACKER_STATE = T.StructType(
    [
        T.StructField("n_changes", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
        T.StructField("max_turn", T.IntegerType()),
    ]
)
_TRACKER_OUT = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_changes", T.LongType()),
        T.StructField("max_lsn", T.LongType()),
        T.StructField("max_turn", T.IntegerType()),
        T.StructField("expired", T.BooleanType()),
    ]
)


def _make_track(idle_timeout_ms: int):
    def _track(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (conv_id,) = key

        def row(n, mx, mt, expired):
            return pd.DataFrame(
                {"conv_id": [conv_id], "n_changes": [n], "max_lsn": [mx],
                 "max_turn": [mt], "expired": [expired]}
            )

        if state.hasTimedOut:
            # idle conversation: emit its final totals flagged expired, then
            # DROP the state — without this, state for dead conversations
            # grows unboundedly on a long-running stream
            n, max_lsn, max_turn = state.get if state.exists else (0, -1, -1)
            state.remove()
            yield row(n, max_lsn, max_turn, True)
            return
        n, max_lsn, max_turn = state.get if state.exists else (0, -1, -1)
        for pdf in pdfs:
            n += len(pdf)
            max_lsn = max(max_lsn, int(pdf["lsn"].max()))
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
        state.update((n, max_lsn, max_turn))
        state.setTimeoutDuration(idle_timeout_ms)
        yield row(n, max_lsn, max_turn, False)

    return _track


def conversation_state_tracker(
    stream_df: DataFrame, idle_timeout_ms: int = 600_000
) -> DataFrame:
    """Running per-conversation state across micro-batches (update mode).
    State lives in the streaming state store (checkpointed, resumable);
    each batch emits the updated totals for the conversations it touched.
    Conversations idle for ``idle_timeout_ms`` of processing time emit one
    final ``expired=true`` row and their state is removed (re-activity
    starts fresh) — the state store stays bounded by ACTIVE conversations."""
    return stream_df.groupBy("conv_id").applyInPandasWithState(
        _make_track(idle_timeout_ms),
        outputStructType=_TRACKER_OUT,
        stateStructType=_TRACKER_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
