"""Streaming analytics operators over event streams: watermarked windowed
aggregation and custom stateful sessionization (SURVEY.md §2.7 — absent
from the reference, mandated by the extension surface).

Both operators take a DataFrame that may be a stream (``readStream``) or a
static frame — the expressions are identical; only the sink differs. The
schemas target the fixture ``events`` table
(event_id, ts, user_id, event_type, value, props).

Scale design:
- Windowed aggregation: watermark bounds state (late rows beyond the
  watermark are dropped, state for closed windows is evicted); the
  aggregation itself is the standard partial+final hash agg keyed on
  (window, event_type) — one shuffle.
- Sessionization: ``applyInPandasWithState`` keeps ONE state row per
  user (last-seen timestamp + running aggregates), emits a session row
  when the gap timeout fires. State is partitioned by user_id, so it
  scales horizontally with the key space; the per-key state size is O(1).
  A batch (non-streaming) sessionization with identical semantics lives
  in plans/analytics.py (events_sessionize) — the window/lag composition
  — so results are cross-checkable.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_stats(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling (or sliding) windowed counts + value stats per event type,
    with a watermark for bounded state and deterministic late-data
    semantics."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    return (
        src.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup: emit the first arrival of
    each key, drop replays. ``dropDuplicatesWithinWatermark`` evicts key
    state older than the watermark, so state size tracks the watermark
    window, not the stream's lifetime (the difference between a feasible
    and an impossible 100 TB/day dedup; plain ``dropDuplicates(keys)``
    would keep every key forever). Re-delivery later than the watermark
    is the accepted trade-off, same as any at-least-once upstream."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user sessions via the BUILT-IN ``session_window`` — the
    declarative twin of ``sessionize_stateful``. Same gap semantics
    (events within ``gap`` merge into one session); window.end is
    last-event + gap per Spark's definition. Prefer this when the session
    payload is expressible as standard aggregates: state management,
    watermark eviction, and merge-on-late-data come from the engine
    instead of hand-written applyInPandasWithState code. The custom
    stateful operator remains for session logic aggregates can't express
    (e.g. per-session event sequences, ML featurization mid-stream)."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.max(ts_col).alias("last_event"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "last_event",
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "30 minutes",
    left_watermark: str = "1 hour",
    right_watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left row matches
    right rows with the same key whose timestamp falls in
    ``[left_ts - lookback, left_ts]`` (the streaming analog of the batch
    range join in operators/rangejoin.py).

    Scale/state reasoning — the part that matters at 100 TB/day: both
    sides buffer state; the time-bound condition plus BOTH watermarks let
    the engine evict right-side rows older than
    ``right_watermark + lookback`` and left rows older than
    ``left_watermark``, so state is bounded by arrival-rate × window, not
    stream lifetime. An unbounded (equi-only) stream-stream join would
    grow state forever — the interval condition is not an optimization
    hint, it is the feasibility condition."""
    lw = left.withWatermark(left_ts, left_watermark).alias("l")
    rw = right.withWatermark(right_ts, right_watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} <= l.{left_ts} "
        f"AND r.{right_ts} >= l.{left_ts} - interval {lookback}"
    )
    return lw.join(rw, cond, "inner")


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

SESSION_GAP_MS = 30 * 60 * 1000


def _session_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator. Emits a finished session when the
    inactivity gap exceeds SESSION_GAP_MS (event-time within the batch,
    processing-time timeout across batches)."""
    (user_id,) = key
    if state.hasTimedOut:
        start_ms, last_ms, n, sv = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start_ms, unit="ms")],
                "session_end": [pd.Timestamp(last_ms, unit="ms")],
                "n_events": [n],
                "sum_value": [sv],
            }
        )
        return

    ts_ms: list[int] = []
    vals: list[float] = []
    for pdf in pdfs:
        ts_ms.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
        vals.extend(pdf["value"].fillna(0.0).tolist())
    order = sorted(range(len(ts_ms)), key=lambda i: ts_ms[i])

    if state.exists:
        start_ms, last_ms, n, sv = state.get
    else:
        start_ms, last_ms, n, sv = ts_ms[order[0]], ts_ms[order[0]], 0, 0.0

    finished = []
    for i in order:
        t, v = ts_ms[i], vals[i]
        if t - last_ms > SESSION_GAP_MS:
            finished.append((start_ms, last_ms, n, sv))
            start_ms, n, sv = t, 0, 0.0
        last_ms = max(last_ms, t)
        n += 1
        sv += v

    state.update((start_ms, last_ms, n, sv))
    state.setTimeoutDuration(SESSION_GAP_MS)
    if finished:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(finished),
                "session_start": [pd.Timestamp(s, unit="ms") for s, _, _, _ in finished],
                "session_end": [pd.Timestamp(e, unit="ms") for _, e, _, _ in finished],
                "n_events": [n_ for _, _, n_, _ in finished],
                "sum_value": [v_ for _, _, _, v_ in finished],
            }
        )


def sessionize_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user 30-minute-gap sessions
    via ``applyInPandasWithState`` (Arrow-batched state machine — the
    canonical escape hatch when built-in windowed aggs can't express the
    semantics).

    Sessions depend on arrival order. Within a micro-batch a user's
    events are sorted by event time; across micro-batches they are not
    reordered. An event earlier than its user's open session joins that
    session and never starts a new one. So a file source that admits a
    later file first cuts fewer sessions. A file source admits files in
    millisecond-mtime order, and files with the same mtime in directory
    listing order.

    One-shot (availableNow) runs MUST go through
    ``streaming.run.run_available_now``: the processing-time timeout makes
    Spark schedule continuous no-data micro-batches, so a plain
    availableNow query never terminates (streaming/run.py docstring)."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
