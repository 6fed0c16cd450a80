"""Streaming tier (SURVEY.md §2.2 B60): stream-static lookup.

The reference registers the Lookup plugin for streaming pipelines
(pom.xml:30) but implements batch only; this module supplies the
natural streaming reading — a Structured Streaming source enriched by
a static dimension through ``LookupSpec.apply`` itself: stream-static
joins are stateless, each micro-batch joins against the static
snapshot, and left-outer is supported for stream-on-the-left. The
static side is effectively broadcast per micro-batch, mirroring the
reference's broadcast flag (Lookup.java:208).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from lookup_transform_spark.session import (
    NANOS_AS_LONG,
    scoped_confs,
    set_confs,
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (ns parquet → µs ts,
    same normalization as registry._events). The file source requires a
    directory, so the single fixture file is staged via symlink."""
    import hashlib
    import os

    from lookup_transform_spark.sources.readers import normalize_events_ts

    set_confs(spark, NANOS_AS_LONG)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    target = os.path.abspath(f"{sf_dir}/events.parquet")
    # stage dir keyed by the FULL fixture path, not its basename — two
    # sf_dirs sharing a basename must not share a stage (the second
    # caller would silently stream the first one's data)
    stage = os.path.join(
        repo, ".scratch",
        "stream_events_" + hashlib.md5(target.encode()).hexdigest()[:12],
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    # lexists, not exists: exists() follows the link, so a DANGLING
    # symlink (fixture tree regenerated elsewhere, old path deleted)
    # reads as absent and the re-create raises FileExistsError forever —
    # wedging every streaming query until .scratch is hand-cleaned
    if os.path.lexists(link) and (
        not os.path.exists(link) or os.path.realpath(link) != target
    ):
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(target, link)

    stream = spark.readStream.schema(batch.schema).parquet(stage)
    return normalize_events_ts(stream)


def run_to_memory(
    df: DataFrame,
    name: str | None = None,
    output_mode: str = "append",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow trigger) into
    a memory sink; returns the result as a batch DataFrame. This is how
    the rows-only streaming queries execute under the driver harness.

    ``state_partitions`` bounds the state-store count for the run:
    stateful operators allocate one store per shuffle partition, and an
    oversized default (tuned for batch scans) turns micro-batch commits
    into pure store-bookkeeping overhead. The partition count of a
    stateful streaming query is FIXED at its first run by the
    checkpoint, so this is a per-query deployment decision, not a
    session conf — size it to expected state volume, not batch width.
    Pass ``None`` to inherit the session default. The override is
    scoped to the drain (see ``session.scoped_confs`` for what that
    means under concurrent use of one session).
    """
    spark = df.sparkSession
    table = name or f"mem_{uuid.uuid4().hex[:8]}"
    confs = (
        {} if state_partitions is None
        else {"spark.sql.shuffle.partitions": str(state_partitions)}
    )
    with scoped_confs(spark, confs):
        q = (
            df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table)
