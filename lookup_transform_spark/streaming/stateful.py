"""Custom stateful streaming operator (SURVEY.md §2.2 B63 extension):
per-key session tracking via ``applyInPandasWithState``.

This is the extension point for stateful logic that windowed aggregates
can't express — here, a running per-user session accumulator that emits
one summary row per CLOSED session (closed by gap timeout relative to
the stream's progress). State per key is O(1): the open session's
(start, last_ts, count, sum) only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, sum_value double"
)
STATE_SCHEMA = (
    "session_start_us long, last_ts_us long, n_events long, sum_value double"
)


def _track_sessions_factory(gap_us: int):
    def track(key, pdfs, state: GroupState):
        (user_id,) = key
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        rows = pd.concat(parts).sort_values(["ts_us", "event_id"])
        closed = []
        if state.exists:
            start, last, n, sv = state.get
        else:
            start = last = None
            n, sv = 0, 0.0
        for ts, val in zip(rows["ts_us"], rows["value"]):
            ts = int(ts)
            if start is None:
                start, last, n, sv = ts, ts, 1, float(val)
            elif ts < start - gap_us:
                # LATE beyond the open session's reach (rows are sorted
                # within a batch, so this is cross-batch disorder). The
                # session invariants (start <= last, gap decisions
                # monotone) must survive: absorbing it would regress
                # `last` and can emit an INVERTED session
                # (end < start) — drop it instead, the same contract as
                # Spark's own watermarked session_window.
                continue
            elif ts - last > gap_us:
                closed.append((start, last, n, sv))
                start, last, n, sv = ts, ts, 1, float(val)
            else:
                # in-gap: late rows may extend the session BACKWARD
                # (start shrinks) but never regress its end
                start = min(start, ts)
                last = max(last, ts)
                n, sv = n + 1, sv + float(val)
        state.update((start, last, n, sv))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                    "sum_value": [c[3] for c in closed],
                }
            )

    return track


def stream_lifetime_stats(stream_df: DataFrame) -> DataFrame:
    """Per-user running lifetime aggregates with O(1) state per key;
    each batch-with-data emits the key's updated totals.

    Input: streaming frame with (user_id, value). Output: one row per
    (key, batch-with-data): user_id, n_events, sum_value (decimal-6
    rounded for determinism). The running (n, sum) accumulator is a
    GroupState tuple under ``applyInPandasWithState``, which needs no
    ``google.protobuf`` runtime. Equality with a batch aggregate is
    pinned by ``tests/test_streaming.py``."""

    def update(key, pdfs, state: GroupState):
        n, sv = state.get if state.exists else (0, 0.0)
        seen = False
        for pdf in pdfs:
            if len(pdf):
                seen = True
                n += len(pdf)
                sv += float(pdf["value"].sum())
        if not seen:
            return
        state.update((n, sv))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(sv, 6)],
            }
        )

    return stream_df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, sv double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize_stateful(
    stream_df: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Input: streaming frame with (user_id, event_id, ts_us, value).
    Output: one row per closed session; each key's final (possibly
    still-open) session stays in state — on an unbounded stream it
    closes when a later event exceeds the gap. Custom state machine per
    key — the shape ``applyInPandasWithState`` exists for. (A
    processing-time timeout variant would flush trailing sessions, but
    it keeps availableNow drains alive waiting for wall-clock timeouts,
    so the bounded-execution path uses NoTimeout.)"""
    return (
        stream_df.groupBy("user_id")
        .applyInPandasWithState(
            _track_sessions_factory(gap_seconds * 1_000_000),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
