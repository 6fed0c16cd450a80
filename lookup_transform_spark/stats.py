"""Table statistics + CBO enablement: the missing piece that lets
Spark's own cost-based optimizations engage on the fact-fact join tier.

Why this exists (the 100 TB story): Catalyst's join REORDERING and
runtime Bloom-filter INJECTION are both statistics-gated. Without
catalog stats a filtered scan keeps its unfiltered ``sizeInBytes``, so

- the CBO join reorderer never runs (``spark.sql.cbo.enabled`` is only
  consulted when every join input has row counts), leaving join order
  exactly as the query author wrote it — e.g. TPC-H Q5 joining
  customer x orders FIRST and filtering by region LAST; and
- ``InjectRuntimeFilter``'s creation-side size gate never opens, so a
  selective dimension filter is never pushed across a join as a Bloom
  filter on the fact side's scan (measured in PLANS.md: enabling the
  flag alone changes nothing).

On a production warehouse statistics are computed at ingest
(``ANALYZE TABLE ... COMPUTE STATISTICS``) and every later query
benefits; this module reproduces that shape for the parquet fixture
dirs: external catalog tables + NTZ-safe column stats, registered once
per (process, sf_dir) into a dedicated database, plus a conf helper to
switch the session's CBO/runtime-filter knobs on.

Spark 4.1 bug worked around here: ``FilterEstimation.evaluateBinary``
has no case for ``TimestampNTZType`` and throws ``scala.MatchError``
when estimating a filter over an NTZ column that HAS column stats
(hit via tpch_q8's o_orderdate predicate). Two layers of defense:

- the catalog tables are CREATED with NTZ inference off
  (``spark.sql.parquet.inferTimestampNTZ.enabled=false``), so µs
  timestamp-without-timezone parquet columns are declared
  ``TimestampType`` in the catalog — value-identical under the pinned
  UTC session timezone, but fully ANALYZE-able and fully supported by
  FilterEstimation. This is what lets a date-window predicate
  (``o_orderdate`` quarter filters across the TPC-H tier) reduce the
  estimated row count: measured in round 8, without it the quarter
  filter kept orders at its full 4.8M-row estimate and every
  fact-side join in the q3/q4/q5/q8/q10/q12 family planned as a
  both-sides-shuffled SortMergeJoin where a broadcast was free.
- any column that still reads NTZ is excluded from ANALYZE — stats on
  such a column wouldn't just be ignored, they'd make every later
  ``plan.stats()`` call THROW, silently downgrading all stats-gated
  routing via the callers' fallbacks.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from lookup_transform_spark.session import set_confs

# tables worth cataloguing: the relational tier the CBO acts on, plus
# documents/embeddings at TABLE level only (rowCount + sizeInBytes, no
# per-column histograms): their queries are single-table text/ANN
# scans where column stats change no plan, but the exact rowCount
# feeds work-sizing decisions (embedding_near_dup's tile count,
# semantic dedup's k) that otherwise pay a count() scan per
# invocation — the r8 review found that fast path permanently dead
# because these tables were never catalogued at all.
STATS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# column-level ANALYZE skipped for these (their payload columns are
# megabytes of text / vectors; scanning them for min/max/histograms
# buys nothing a single-table scan plan would use)
_TABLE_LEVEL_ONLY = ("documents", "embeddings")

# column types ANALYZE ... FOR COLUMNS supports AND FilterEstimation
# handles; TimestampNTZType is excluded (MatchError, see module doc)
_STATS_TYPES = (
    T.NumericType, T.StringType, T.DateType, T.TimestampType,
    T.BooleanType,
)

def _registry(spark: SparkSession) -> dict[str, str]:
    """Per-SESSION registry (sf_dir -> database name), stamped on the
    session object: the catalog the registry describes is session-
    scoped, so a process-global map would keep serving a database that
    died with a stopped session (TABLE_OR_VIEW_NOT_FOUND downstream);
    the attribute's lifetime matches the catalog's exactly. A fresh
    session re-ANALYZEs, so regenerated fixtures never serve stale
    stats either."""
    reg = getattr(spark, "_lt_stats_registered", None)
    if reg is None:
        reg = {}
        spark._lt_stats_registered = reg
    return reg


def _db_name(sf_dir: str) -> str:
    """Database name for a fixture dir: readable slug + an 8-hex path
    hash, so dirs differing only in non-alphanumeric characters (or
    relative-vs-absolute spellings) can never collide onto one
    database and silently repoint each other's tables."""
    import hashlib

    norm = os.path.abspath(sf_dir)
    slug = re.sub(r"[^a-z0-9]+", "_", norm.lower()).strip("_")[-48:]
    digest = hashlib.sha1(norm.encode()).hexdigest()[:8]
    return f"lt_stats_{slug}_{digest}".strip("_")


def register_stats_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = STATS_TABLES
) -> str:
    """Create external parquet tables for ``sf_dir`` in a dedicated
    database and compute table + column statistics (NTZ-safe). Returns
    the database name; idempotent per session. Cost: one column-pruned
    scan per table — the ingest-time cost a warehouse pays once, NOT
    part of any query's time."""
    sf_dir = os.path.abspath(sf_dir)
    reg = _registry(spark)
    if sf_dir in reg:
        return reg[sf_dir]
    db = _db_name(sf_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        # Declare µs timestamp-without-timezone columns as TimestampType
        # in the CATALOG schema (module doc: NTZ is estimation-dead AND
        # its stats crash FilterEstimation; under the pinned UTC session
        # tz the two types are value-identical — verified bit-exact on
        # the fixtures). The explicit column list is required: the
        # fixtures embed a Spark schema in the parquet footer, which
        # inference prefers over ``inferTimestampNTZ`` — a bare CREATE
        # would come back NTZ regardless of that conf. Plain parquet
        # reads (the correctness path) keep Spark's default inference.
        inferred = spark.read.parquet(path).schema
        ddl = ", ".join(
            f"`{f.name}` "
            + (
                "TIMESTAMP"
                if isinstance(f.dataType, T.TimestampNTZType)
                else f.dataType.simpleString()
            )
            for f in inferred.fields
        )
        spark.sql(
            f"CREATE TABLE {db}.{t} ({ddl}) USING parquet LOCATION '{path}'"
        )
        cols = [
            f.name for f in spark.table(f"{db}.{t}").schema.fields
            if isinstance(f.dataType, _STATS_TYPES)
            and not isinstance(f.dataType, T.TimestampNTZType)
        ] if t not in _TABLE_LEVEL_ONLY else []
        if cols:
            spark.sql(
                f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(cols)
            )
        else:
            spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS")
    reg[sf_dir] = db
    return db


def stats_db_for(spark: SparkSession, sf_dir: str) -> str | None:
    """Database holding stats-backed tables for sf_dir in THIS session,
    if registered."""
    return _registry(spark).get(os.path.abspath(sf_dir))


def unregister(spark: SparkSession, sf_dir: str) -> None:
    """Forget the registration for sf_dir (tests restoring a pristine
    planner regime; the catalog objects themselves are left in place)."""
    _registry(spark).pop(os.path.abspath(sf_dir), None)


def enable_cbo(
    spark: SparkSession,
    application_side_threshold: str | None = None,
    broadcast_threshold: str | None = "32MB",
) -> None:
    """Switch on the statistics-consuming optimizations.

    ``application_side_threshold`` scales the runtime-Bloom-filter
    injection gate to the data: Spark's default (10GB of scanned
    bytes on the application side) is right for a cluster reading
    terabytes and means "never" on a test fixture. The bench passes
    ~10MB so the same plans materialize at fixture scale; a real
    deployment leaves the default. Injection remains cost-gated by
    creation-side stats either way, and Bloom false positives only
    cost shuffle bytes — the closing join keeps results exact.

    ``broadcast_threshold`` raises ``autoBroadcastJoinThreshold`` from
    Spark's 10MB default: with accurate post-filter estimates (the NTZ
    fix above), the date-windowed fact-join family sits at 10-30MB
    estimated build size, and 10MB leaves it in both-sides-shuffled
    SortMergeJoin. The r8 A/B at the 32x probe (.scratch/ntz_ab.json,
    PLANS.md): 32MB turns the whole tail into broadcast joins — e.g.
    tpch_q10 1.47→0.64 s, tpch_q16 1.22→0.55 s, tpch_q21 5.3→1.8 s —
    and 64MB adds nothing further. A 32MB hashed relation is ~100MB of
    executor memory: routine for the 4GB+ executors this targets, and
    only reachable when statistics EXIST (no stats → Spark's default
    conservative path). Pass None to leave the session default."""
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    if broadcast_threshold is not None:
        confs["spark.sql.autoBroadcastJoinThreshold"] = broadcast_threshold
    if application_side_threshold is not None:
        confs[
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        ] = application_side_threshold
    set_confs(spark, confs)
