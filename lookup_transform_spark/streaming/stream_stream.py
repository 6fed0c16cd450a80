"""Stream-stream joins (SURVEY.md §2.2 streaming tier extension).

The flagship Structured Streaming capability the stream-static lookup
(B60) can't cover: BOTH sides are unbounded. Spark buffers each side in
state, bounded by (a) watermarks on both event-time columns and (b) an
event-time range condition in the join — without both, state grows
forever. This module encodes the canonical attribution pattern:
purchase events joined to the clicks that preceded them within a
bounded horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: how late either side's events may arrive before their state evicts
WATERMARK = "2 hours"


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
) -> DataFrame:
    """Inner-join two streams on ``key`` where
    ``left_ts - lookback <= right_ts <= left_ts``.

    Both watermarks plus the closed time-range predicate let Spark evict
    right-side state older than ``left_watermark - lookback`` — state
    stays O(events-per-horizon) per key on an unbounded stream.
    """
    lf = left.withWatermark(left_ts, WATERMARK)
    rt = right.withWatermark(right_ts, WATERMARK)
    cond = (
        (lf[key] == rt[key])
        & (rt[right_ts] >= lf[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (rt[right_ts] <= lf[left_ts])
    )
    return lf.join(rt, cond)
