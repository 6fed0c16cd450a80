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

- the catalog tables are CREATED with an explicit column list that
  declares µs timestamp-without-timezone parquet columns as
  ``TimestampType`` (inference would not: the fixtures' footers embed
  a Spark schema, which wins over
  ``spark.sql.parquet.inferTimestampNTZ.enabled``) — value-identical
  under the pinned UTC session timezone, but fully ANALYZE-able and
  fully supported by FilterEstimation. This is what lets a date-window
  predicate (``o_orderdate`` quarter filters across the TPC-H tier)
  reduce the estimated row count: measured in round 8, without it the quarter
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
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from lookup_transform_spark.session import set_confs
from lookup_transform_spark.sqltext import ddl, quote_ident, sql_string

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

def _registry(spark: SparkSession) -> dict[str, dict[str, str]]:
    """Per-SESSION registry (sf_dir -> {table: qualified catalog name})
    of the tables actually registered, stamped on the session object:
    the catalog the registry describes is session-scoped, so a
    process-global map would keep serving a database that died with a
    stopped session (TABLE_OR_VIEW_NOT_FOUND downstream); the
    attribute's lifetime matches the catalog's exactly. A fresh
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
    part of any query's time. The tables are registered concurrently,
    at most ``defaultParallelism`` at a time: each ``ANALYZE`` is a
    small job that leaves most cores idle. The registered tables are
    recorded only once every table has succeeded; a failure
    re-raises. A table missing from ``sf_dir`` or left out of
    ``tables`` is not registered, and ``stats_table`` reports it so."""
    sf_dir = os.path.abspath(sf_dir)
    reg = _registry(spark)
    db = _db_name(sf_dir)
    if sf_dir in reg:
        return db
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {quote_ident(db)}")
    todo = [
        t for t in tables
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    ]
    if todo:
        workers = min(len(todo), spark.sparkContext.defaultParallelism)
        register = inheritable_thread_target(spark)(_register_table)
        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(lambda t: register(spark, sf_dir, db, t), todo))
    reg[sf_dir] = {t: _qualified(db, t) for t in todo}
    return db


def _qualified(db: str, t: str) -> str:
    return f"{quote_ident(db)}.{quote_ident(t)}"


def _register_table(spark: SparkSession, sf_dir: str, db: str, t: str) -> None:
    """(Re)create ``db.t`` over ``sf_dir/t.parquet`` and ANALYZE it."""
    path = os.path.join(sf_dir, f"{t}.parquet")
    name = _qualified(db, t)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
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
    cols_ddl = ", ".join(
        f"{quote_ident(f.name)} "
        + (
            "TIMESTAMP"
            if isinstance(f.dataType, T.TimestampNTZType)
            else ddl(f.dataType)
        )
        for f in inferred.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols_ddl}) USING parquet "
        f"LOCATION {sql_string(path)}"
    )
    cols = [
        quote_ident(f.name) for f in spark.table(name).schema.fields
        if isinstance(f.dataType, _STATS_TYPES)
        and not isinstance(f.dataType, T.TimestampNTZType)
    ] if t not in _TABLE_LEVEL_ONLY else []
    if cols:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
            + ", ".join(cols)
        )
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")


def stats_table(spark: SparkSession, sf_dir: str, table: str) -> str | None:
    """Qualified catalog name of ``table``'s stats-backed table for
    sf_dir in THIS session, or None when it was not registered."""
    return _registry(spark).get(os.path.abspath(sf_dir), {}).get(table)


def enable_cbo(
    spark: SparkSession,
    application_side_threshold: str | None = None,
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

    ``autoBroadcastJoinThreshold`` goes from Spark's 10MB default to
    32MB: with accurate post-filter estimates (the NTZ fix above), the
    date-windowed fact-join family sits at 10-30MB estimated build size, and 10MB leaves it in both-sides-shuffled
    SortMergeJoin. The r8 A/B at the 32x probe (.scratch/ntz_ab.json,
    PLANS.md): 32MB turns the whole tail into broadcast joins — e.g.
    tpch_q10 1.47→0.64 s, tpch_q16 1.22→0.55 s, tpch_q21 5.3→1.8 s —
    and 64MB adds nothing further. A 32MB hashed relation is ~100MB of
    executor memory: routine for the 4GB+ executors this targets, and
    only reachable when statistics EXIST (no stats → Spark's default
    conservative path)."""
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "32MB",
    }
    if application_side_threshold is not None:
        confs[
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        ] = application_side_threshold
    set_confs(spark, confs)
