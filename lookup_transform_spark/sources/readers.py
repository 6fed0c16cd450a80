"""The events fixture's timestamp rule (SURVEY.md §2.2 B1/B2).

Scans themselves call ``spark.read`` directly; text formats always pass
an explicit schema, since inference is a full extra pass over the data
and inferred types drift between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events fixture's ``ts`` to a µs TIMESTAMP whatever
    precision/encoding the generated parquet uses — THE single home of
    this rule (registry._events and the streaming reader both call it;
    a drifted duplicate would silently diverge stream results from the
    batch twins the streaming tests compare against):

    - ns-precision parquet read with ``nanosAsLong`` → bigint; truncate
      to µs (the same truncation DuckDB's epoch_us() applies);
    - µs timestamp-without-timezone → TIMESTAMP_NTZ on read; cast to
      TIMESTAMP (session tz is pinned UTC → epoch-preserving)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
