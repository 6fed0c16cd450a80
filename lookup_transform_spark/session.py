"""SparkSession factory tuned for the test/bench environment.

Local mode is a single JVM; ``SPARK_GRAFT_CPUS`` controls thread count
(default 32 to match the driver's box). On a real cluster the same
builder settings apply — AQE owns runtime re-planning (partition
coalescing, skew-join splitting, broadcast conversion), which is the
scale story for every operator here.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession


#: read ns-precision parquet timestamps (the events fixture) as longs;
#: Spark 4 refuses them otherwise. Preset by ``get_spark`` and
#: re-asserted by the events readers, which may be handed a session
#: this module did not build (the driver contract's plain session).
NANOS_AS_LONG = {"spark.sql.legacy.parquet.nanosAsLong": "true"}


def get_spark(
    app_name: str = "lookup_transform_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """The ONE session builder: every harness (tests, bench, probes)
    must measure under the same confs — UTC timezone, ANSI, AQE, arrow,
    and the measured 8g driver heap — or its numbers aren't comparable
    to the bench's (the r8 review caught a probe hand-building a
    session with a 48g heap this module documents as 2.4x slower, and
    without the UTC pin that keeps TIMESTAMP_NTZ comparisons
    host-independent). ``extra_confs`` layers probe-specific settings
    (e.g. event logging) ON TOP of the shared base instead of forking
    the builder."""
    # Python WORKERS resolve this package via PYTHONPATH/CWD, not the
    # driver's sys.path — a harness launched from any other directory
    # hit ModuleNotFoundError inside every pandas-UDF stage (r10: a
    # parity run from .scratch/ failed 7 queries this way). Export the
    # repo root before the JVM (and its worker daemons) start. APPEND,
    # not prepend, and only when a worker couldn't already import the
    # package from PYTHONPATH/CWD (ADVICE r10: an unconditional prepend
    # can shadow an installed copy — or an unrelated colliding top-level
    # module — in every worker/child process).
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    worker_importable = any(
        os.path.isdir(os.path.join(p, "lookup_transform_spark"))
        for p in pp.split(os.pathsep) + [os.getcwd()]
        if p
    )
    if not worker_importable and repo not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            (pp + os.pathsep if pp else "") + repo
        )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin ANSI mode explicitly: fixedpoint.py's fail-loud-on-overflow
        # contract for long accumulators must not depend on the Spark 4.x
        # default (Spark 3.x defaults ANSI off, which would silently wrap).
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode runs executor tasks INSIDE the driver JVM: this is
        # the heap all 32 task threads share, and 8g is the measured
        # sweet spot on this box, not an oversight. Measured on the
        # heavy tier at the 128x probe scale: 48g runs 2.4x slower
        # (past the ~32GB CompressedOops boundary), 24g hits G1
        # GCLocker retry aborts on humongous shuffle allocations that
        # 8g's smaller regions never trigger, 8g == 24g where neither
        # fails. Operators are sized so per-task state stays bounded
        # (tile/blocks scaling in the registry) rather than leaning on
        # heap. Override with SPARK_GRAFT_DRIVER_MEM; on a real cluster
        # this setting stays driver-only and executor memory is its own
        # knob.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(map=NANOS_AS_LONG)
        # PySpark 4 wraps EVERY DataFrame/Column API call to capture the
        # Python call site and push it to the JVM (PySparkCurrentOrigin)
        # for error enrichment — one extra py4j round-trip per call.
        # Plan BUILD is up to 50% of sub-second query walls
        # (FLOOR_PROFILE.json), and the capture is pure diagnostic
        # sugar; disabling it cut the measured build total of a 6-query
        # floor sample ~2.5x (1.9->0.8 s, interleaved A/B, r11). The
        # flag is read once per Python process and cached, so it must
        # be set at session-build time, not per query.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def set_confs(spark: SparkSession, confs: Mapping[str, str]) -> None:
    """Write ``confs`` into the session and leave them there. The ONE
    library function that calls ``spark.conf.set``: every query-time
    conf change (the scale regime, CBO, scoped streaming overrides)
    goes through here or through ``scoped_confs``."""
    for k, v in confs.items():
        spark.conf.set(k, v)


@contextmanager
def scoped_confs(
    spark: SparkSession, confs: Mapping[str, str]
) -> Iterator[None]:
    """Apply ``confs`` for the body only. Each key's prior value is
    restored on exit, even when the body raises; a key that was unset
    before is unset again (so it falls back to Spark's default, not to
    a value pinned at entry).

    CAVEAT: conf is per SESSION, not per thread. For the whole body, a
    query planned concurrently on another thread of the same session
    compiles under these confs, and two overlapping scopes on the same
    keys race the save/restore. A streaming drain plans micro-batches
    throughout ``start()``→``awaitTermination()``, so the scope is live
    for the whole drain. Single-threaded use (the harness shape) is
    safe; concurrent callers need a session per regime."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    set_confs(spark, confs)
    try:
        yield
    finally:
        set_confs(spark, {k: v for k, v in saved.items() if v is not None})
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read testdata parquet tables; returns a dict name → DataFrame.
    Defaults to the canonical fixture set (``parity.TABLES``) — one
    shared constant, so the Spark loader and the DuckDB view
    registration can't drift apart."""
    if not names:
        from lookup_transform_spark.parity import TABLES

        names = tuple(TABLES)
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
