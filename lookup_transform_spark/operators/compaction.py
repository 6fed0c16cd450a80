"""Small-files compaction (SURVEY.md 100-TB notes: partition hygiene).

High-frequency ingestion leaves thousands of KB-sized files per
partition; scan cost becomes per-file overhead instead of bytes. The
compactor rewrites a dataset to a target file count, preserving
partition columns. The streaming ingest (``streaming/ingest.py``) runs
it to fold committed micro-batch directories into segments; the caller
picks the file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def compact_parquet(
    spark: SparkSession,
    src: str | list[str],
    dst: str,
    target_files: int | None = None,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Read ``src`` (one path or a list — e.g. an ingest's committed
    per-batch directories), rewrite to ``dst`` with a bounded file
    count.

    Unpartitioned: ``coalesce`` (no shuffle) bounds total files at
    ``target_files``. WITH ``partition_by``: coalesce would multiply
    instead of bound — each of the N coalesced tasks writes one file
    into EVERY partition directory it holds rows for (N × |values|
    files) — so the rewrite hash-repartitions on the partition columns:
    one shuffle, each value lands wholly in one task, ≈ one file per
    partition directory. Returns the compacted DataFrame (row-count
    verification).
    """
    srcs = [src] if isinstance(src, str) else list(src)
    df = spark.read.parquet(*srcs)
    if target_files and partition_by:
        out = df.repartition(target_files, *partition_by)
    elif target_files:
        out = df.coalesce(target_files)
    elif partition_by:
        # no explicit file count, but partitioned: keeping the source's
        # task layout would make EVERY input task write a file into
        # every partition directory it holds rows for (N × |values|
        # files — the multiplication this function exists to undo, r8
        # review); cluster by the partition columns so each value lands
        # wholly in one task ≈ one file per directory
        out = df.repartition(*partition_by)
    else:
        out = df
    w = out.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dst)
    return spark.read.parquet(dst)
