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

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from lookup_transform_spark.scale_profile import fixture_bytes
from lookup_transform_spark.session import (
    NANOS_AS_LONG,
    scoped_confs,
    set_confs,
)

# events schema by (path, size, mtime), as dedup._ROW_GROUP_CACHE keys
# footer reads: inferring it is one Spark job per call, and a
# regenerated fixture gets a new key
_SCHEMA_CACHE: dict[tuple[str, int, int], StructType] = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (ns parquet → µs ts,
    same normalization as registry._events). The file source requires a
    directory, so a single fixture file is staged via symlink; a fixture
    directory is streamed as it is."""
    import hashlib

    from lookup_transform_spark.sources.readers import normalize_events_ts

    set_confs(spark, NANOS_AS_LONG)
    target = os.path.abspath(f"{sf_dir}/events.parquet")
    st = os.stat(target)
    key = (target, st.st_size, st.st_mtime_ns)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(target).schema
    if os.path.isdir(target):
        # a fixture directory (the derived scale fixtures) is streamed in
        # place: the source does not list through a linked directory, so
        # a staged link to it streams no rows
        return normalize_events_ts(
            spark.readStream.schema(schema).parquet(target)
        )

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
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

    stream = spark.readStream.schema(schema).parquet(stage)
    return normalize_events_ts(stream)


def _state_width(df: DataFrame) -> int | None:
    """``run_to_memory``'s shuffle width for ``df``, or None to keep
    the session's."""
    spark = df.sparkSession
    jspark = spark._jsparkSession
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    total = 0
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() != "StreamingRelation":
            return None
        path = leaf.dataSource().options().get("path")
        if path.isEmpty() or not os.path.isdir(path.get()):
            return None
        total += fixture_bytes(path.get())
    # FilePartition.maxSplitBytes, the source counted as one file
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    cores = (
        min_parts.get() if min_parts.isDefined()
        else jspark.leafNodeDefaultParallelism()
    )
    split = min(
        conf.filesMaxPartitionBytes(),
        max(open_cost, (total + open_cost) // cores),
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(1, min(-(-total // split), width))


def run_to_memory(
    df: DataFrame,
    name: str | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Execute a streaming plan to completion (availableNow trigger) into
    a memory sink; returns the result as a batch DataFrame. This is how
    the rows-only streaming queries execute under the driver harness.

    Stateful operators allocate one state store per shuffle partition,
    and each store is opened and committed on every trigger, so a width
    tuned for batch scans turns small micro-batch commits into store
    bookkeeping. The run's ``spark.sql.shuffle.partitions`` is therefore
    the split count Spark's file scan plans for the source,
    ``ceil(source_bytes / max_split)`` clamped to [1, the session's
    width], with ``FilePartition.maxSplitBytes``' rule ``max_split =
    min(maxPartitionBytes, max(openCostInBytes, (source_bytes +
    openCostInBytes) / leaf parallelism))``. The leaf parallelism is
    ``spark.sql.files.minPartitionNum`` if set, else the session's
    leaf-node default parallelism. ``source_bytes`` sums the files under
    the ``path`` of every file-source stream leaf
    (``scale_profile.fixture_bytes``, cached per path), counted as one
    file: exact for a staged fixture file, within a split or two of the
    scan for a fixture directory of many files. So a source below one
    open cost (4 MB by default) runs one store, and a large one about
    one per leaf core. A plan with any other leaf (a static side, a
    non-file source) or a path that is not a directory keeps the
    session's width.
    Deriving the count per run is safe because no checkpoint location is
    set: every run starts on a fresh temporary checkpoint, so no earlier
    run has fixed the state's partition count. The override is scoped to
    the drain (see ``session.scoped_confs`` for what that means under
    concurrent use of one session).
    """
    spark = df.sparkSession
    table = name or f"mem_{uuid.uuid4().hex[:8]}"
    width = _state_width(df)
    confs = {} if width is None else {"spark.sql.shuffle.partitions": str(width)}
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
