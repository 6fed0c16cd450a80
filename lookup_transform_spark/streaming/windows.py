"""Streaming windows & stateful dedup (SURVEY.md §2.2 B61-B63).

Batch twins of these live in the registry with DuckDB oracles; these
are the genuine Structured Streaming plans (watermarks, stateful
aggregation) exercised end-to-end with availableNow triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# every stream runs over the events fixture's event time, with state
# bounded by one watermark horizon
TS = "ts"
WATERMARK = "1 hour"
TUMBLING_KEY = "event_type"
TUMBLING_WINDOW = "10 minutes"
SESSION_KEY = "user_id"
SESSION_GAP = "30 minutes"


def stream_tumbling_window(stream_df: DataFrame) -> DataFrame:
    """B61/B62: tumbling window counts with late-data watermark.
    Streaming state is bounded by the watermark horizon."""
    return (
        stream_df.withWatermark(TS, WATERMARK)
        .groupBy(F.window(TS, TUMBLING_WINDOW).alias("w"), TUMBLING_KEY)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            TUMBLING_KEY,
            "n_events",
        )
    )


def stream_session_window(stream_df: DataFrame) -> DataFrame:
    """B61: native session windows (gap-merged) on a stream."""
    return (
        stream_df.withWatermark(TS, WATERMARK)
        .groupBy(F.session_window(TS, SESSION_GAP).alias("w"), SESSION_KEY)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            SESSION_KEY,
            "n_events",
        )
    )


def stream_dedup_within_watermark(
    stream_df: DataFrame, keys: list[str]
) -> DataFrame:
    """B63: stateful streaming dedup; state expires with the watermark
    so it stays bounded on unbounded streams."""
    return stream_df.withWatermark(TS, WATERMARK).dropDuplicatesWithinWatermark(
        keys
    )
