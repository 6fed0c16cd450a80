"""Small-files compaction (SURVEY.md 100-TB notes: partition hygiene).

High-frequency ingestion leaves thousands of KB-sized files per
partition; scan cost becomes per-file overhead instead of bytes. The
compactor rewrites an unpartitioned dataset to a target file count.
The streaming ingest (``streaming/ingest.py``) runs it to fold
committed micro-batch directories into segments; the caller picks the
file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_parquet(
    spark: SparkSession,
    src: str | list[str],
    dst: str,
    target_files: int | None = None,
) -> DataFrame:
    """Read ``src`` (one path or a list — e.g. an ingest's committed
    per-batch directories), rewrite to ``dst`` with a bounded file
    count: ``coalesce`` (no shuffle) bounds total files at
    ``target_files``. Returns the compacted DataFrame (row-count
    verification).
    """
    srcs = [src] if isinstance(src, str) else list(src)
    df = spark.read.parquet(*srcs)
    out = df.coalesce(target_files) if target_files else df
    out.write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst)
