"""Sources (SURVEY.md §2.2 B1/B2): parquet / CSV / JSON scans.

Schemas are always supplied explicitly for text formats — schema
inference is a full extra pass over the data, which is never acceptable
at scale, and inferred types drift between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def _pruned(df: DataFrame, columns: list[str] | None) -> DataFrame:
    """Early projection (None = all columns). An EMPTY list is refused:
    a dynamically-computed pruning list that came up empty would
    otherwise silently fall through the falsy check to a full-width
    scan — the exact opposite of what the caller asked for."""
    if columns is None:
        return df
    if not columns:
        raise ValueError(
            "columns=[] would project nothing; pass None for all columns"
        )
    return df.select(*columns)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """Parquet scan; select early so Catalyst prunes at the reader."""
    return _pruned(spark.read.parquet(path), columns)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", header)
        .options(**options)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str, **options
) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — self-describing columnar like parquet: predicate
    pushdown and column pruning both reach the reader."""
    return _pruned(spark.read.orc(path), columns)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Binary-asset ingest via Spark's built-in ``binaryFile`` source —
    the entry point for raw image/audio/video files sitting on object
    storage (SURVEY.md §2.2 B54 ingest leg).

    Yields (path, modificationTime, length, content) with ``content``
    as an opaque binary column; downstream decode/feature steps are the
    multimodal tier (operators/multimodal.py). Listing parallelizes in
    the driver's InMemoryFileIndex and each file becomes a scan split,
    so a million-asset bucket reads at full cluster width; pair with
    ``pathGlobFilter`` to prune non-asset junk at the listing, never
    post-scan.

    Caveat (pinned in tests/test_sources.py): Spark's file-source split
    planner drops ZERO-LENGTH files, so empty assets never reach the
    DataFrame — a pipeline that must account for every object should
    reconcile counts against a listing, not this scan."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
