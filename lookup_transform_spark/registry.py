"""Query registry: every SURVEY.md §2 operator as a (spark, sf_dir) ->
DataFrame callable plus, where SQL-expressible, a DuckDB oracle string.

Cross-engine determinism rules (so the driver's value-hash matches):
- double aggregates use fixed-point long accumulation (``_fsum`` /
  ``functions/fixedpoint.py``): the per-row double math is IEEE-identical
  in both engines, ``round(x * 10^dp)`` is the same deterministic value,
  and the int64 sum is exact (order-free). This replaced the r1-r4
  DECIMAL(38,6) formulation — same exactness, ~2.5× faster because the
  accumulator stays a codegen'd primitive instead of a BigDecimal.
- timestamps never appear raw in outputs: epoch seconds/micros (bigint)
  or DATE casts only. The events fixture is ns-precision parquet; Spark
  truncates to micros, so oracle comparisons use epoch_us/floor(epoch).
- every window/top-k has a total ordering (unique-key tiebreak).
- aggregate/computed columns are aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lookup_transform_spark.functions.fixedpoint import fp_sum
from lookup_transform_spark.scale_profile import apply_scale_profile
from lookup_transform_spark.session import NANOS_AS_LONG, set_confs

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _stale_guard(
    spark,
    path: str,
    fixture: str,
    success: str | None = None,
    tables: tuple[str, ...] = (),
) -> bool:
    """Shared staleness gate for at-rest materializations: when the
    source fixture is NEWER than the artifact's ``_SUCCESS`` (the
    regenerated-fixture round workflow), drop the catalog tables and
    remove the artifact directory. Returns True when the artifact needs
    (re)building. ONE implementation — the six hand-copied versions
    this replaces disagreed in small ways, and the one at-rest query
    that forgot the gate entirely (bucketed_join) silently answered
    from stale data after a fixture regeneration."""
    success = success or f"{path}/_SUCCESS"
    stale = os.path.exists(success) and os.path.exists(fixture) and (
        os.path.getmtime(fixture) > os.path.getmtime(success)
    )
    if stale:
        import shutil

        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(path, ignore_errors=True)
    return not os.path.exists(success)


def _vtag(sf: str) -> str:
    """Identifier-safe per-sf tag for session-global names (temp views,
    catalog tables) AND at-rest scratch paths. Keyed by basename PLUS a
    short hash of the absolute path (r8 review): two distinct sf_dirs
    with equal basenames (/fixtures/v1/sf0.01 vs /fixtures/v2/sf0.01),
    or basenames the sanitizer folds together ('sf0.01' vs 'sf0-01'),
    must never share a fingerprint index / bucketed table — the
    staleness gates compare mtimes against whichever fixture built the
    artifact and would silently serve the other's rows."""
    import hashlib

    norm = os.path.abspath(sf)
    slug = os.path.basename(norm).replace(".", "_").replace("-", "_")
    return f"{slug}_{hashlib.sha1(norm.encode()).hexdigest()[:6]}"


def scratch_path(prefix: str, sf: str) -> str:
    """At-rest artifact dir for (prefix, fixture dir) — the ONE place
    the keying convention lives, shared with bench.py's ingest resets."""
    return f"{SCRATCH}/{prefix}_{_vtag(sf)}"


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            # size-gated conf profile (scale_profile.py): sub-64MB
            # inputs run the measured small-input regime (AQE off,
            # 8 shuffle partitions), at-scale dirs keep AQE + the
            # CPU-matched shuffle width. Written on every call at the
            # registry boundary so EVERY harness (driver correctness,
            # bench, parity, probes) measures the same regime, whatever
            # the session's conf held before.
            apply_scale_profile(spark, sf_dir)
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        # return the UNWRAPPED fn: registry-internal composition (one
        # query building on another's helper) shouldn't re-run the
        # profile gate per layer
        return fn
    return deco


# (applicationId, stats-table-or-None, sf_dir, table) -> DataFrame.
# A DataFrame is an immutable logical plan; re-creating it per query
# re-reads the parquet footer for schema inference (~70 ms measured,
# FLOOR_PROFILE.json schema_read_sec) — pure plan-build waste that the
# bench pays on every one of ~160 queries × 5 repeats. Fixture dirs
# never mutate mid-process, and the app-id key drops entries with the
# session that owned them.
_TABLE_CACHE: dict[tuple[str, str | None, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table; when ``stats.register_stats_tables`` has
    catalogued this table of sf_dir (bench/scaling runs), serve the
    stats-backed catalog table instead so CBO join reordering and
    runtime Bloom filters can engage — same files, same rows, better
    plans. A table the registration left out reads its parquet file.
    The correctness path never registers stats, so oracle comparisons
    run on plain parquet reads."""
    from lookup_transform_spark import stats

    table = stats.stats_table(spark, sf_dir, name)
    key = (spark.sparkContext.applicationId, table, os.path.abspath(sf_dir), name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        if table is not None:
            df = spark.table(table)
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _TABLE_CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events fixture's ``ts`` to a µs TIMESTAMP whatever
    precision/encoding the generated parquet uses:

    - ns-precision parquet (Spark 4 refuses it by default) → read nanos
      as long, truncate to µs — the same truncation DuckDB's epoch_us()
      applies in the oracles;
    - µs timestamp without timezone → TIMESTAMP_NTZ on read; cast to
      TIMESTAMP (session tz is pinned UTC, so the cast is
      epoch-preserving and ``unix_micros`` applies)."""
    from lookup_transform_spark.sources.readers import normalize_events_ts

    set_confs(spark, NANOS_AS_LONG)
    return normalize_events_ts(_t(spark, sf_dir, "events"))


def _fsum(col, alias: str, dp: int = 2):
    """Deterministic double sum via fixed-point long accumulation —
    exact, order-independent, and fully codegen'd (2.5× faster than the
    decimal(38,6) formulation it replaced; see functions/fixedpoint.py
    for the overflow bounds and the beyond-2^63 ``fp_sum_stable``).
    ``dp`` = decimal places of the source (0 quantities, 2 money,
    4 price×discount products, 6 two-product terms)."""
    return fp_sum(col, dp).alias(alias)


# ---------------------------------------------------------------------------
# Tier modules (r11, VERDICT r10 #7): importing each one runs its @_q
# registrations into QUERIES/ORACLES above, in this order. The registry
# exposes only what it defines; import a tier's helper from its module.
# ---------------------------------------------------------------------------

def _load_tiers() -> None:
    import importlib

    from lookup_transform_spark.queries import TIER_MODULES

    for mod_name in TIER_MODULES:
        importlib.import_module(f"lookup_transform_spark.queries.{mod_name}")


_load_tiers()
