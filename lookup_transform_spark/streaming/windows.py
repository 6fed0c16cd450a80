"""Streaming windows & stateful dedup (SURVEY.md §2.2 B61-B63).

Batch twins of these live in the registry with DuckDB oracles; these
are the genuine Structured Streaming plans (watermarks, stateful
aggregation) exercised end-to-end with availableNow triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_tumbling_window(
    stream_df: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """B61/B62: tumbling window counts with late-data watermark.
    Streaming state is bounded by the watermark horizon."""
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(F.window(ts, window).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            key,
            "n_events",
        )
    )


def stream_session_window(
    stream_df: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """B61: native session windows (gap-merged) on a stream."""
    return (
        stream_df.withWatermark(ts, watermark)
        .groupBy(F.session_window(ts, gap).alias("w"), key)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            key,
            "n_events",
        )
    )


def stream_dedup_within_watermark(
    stream_df: DataFrame,
    keys: list[str],
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """B63: stateful streaming dedup; state expires with the watermark
    so it stays bounded on unbounded streams."""
    return stream_df.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        keys
    )
