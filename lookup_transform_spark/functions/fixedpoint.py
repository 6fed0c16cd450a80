"""Fixed-point aggregation: exact, order-independent monetary sums that
stay inside whole-stage codegen.

Why not plain ``F.sum(double)``: IEEE double addition is not
associative, so a distributed sum's low bits depend on partitioning —
unacceptable for an engine whose results are hash-compared against a
single-node oracle, and a real reproducibility bug at 1000 executors.

Why not ``cast("decimal(38,6)")`` (the round-1..4 approach): Spark
backs precision>18 decimals with JVM ``BigDecimal`` objects, which
falls off the primitive codegen fast path — measured **2.5× slower**
than a long sum on a 19.2M-row TPC-H Q1 aggregate (1.58 s vs 0.64 s at
the 32× probe scale, SCALING32 protocol).

The fix: fixed-point accumulation. A value with ``dp`` decimal places
is scaled to an integer ``round(x * 10^dp)`` and summed as a LONG —
exact, order-independent, fully codegen'd, and bit-identical to the
decimal formulation (verified: max abs diff 0 over TPC-H Q1 at 32×).
Both engines (Spark and the DuckDB oracle) evaluate the *same* IEEE
ops — multiply, round-half-away-from-zero, int64 sum, double divide —
so cross-engine equality is structural, not coincidental.

Overflow story (the 100 TB question):
- the scaled per-group total must stay below 2^63 ≈ 9.2e18. With
  ``dp=2`` (money columns) that is ~9.2e16 currency units per group —
  unreachable even at 100 TB. With ``dp=6`` (derived unit-price
  products) headroom is ~2.4e8 rows/group at TPC-H magnitudes, which a
  100 TB global aggregate CAN exceed.
- the session pins ANSI mode, so a long-sum overflow **fails loudly**
  (ArithmeticException), never a silent wrap.
- ``fp_sum_stable`` below is the beyond-2^63 path: long partials per
  (group, input-partition) — bounded by rows-per-partition, ~4M at
  128 MB splits, giving ~1.5e17 max per partial, 60× under 2^63 —
  then a decimal(38) merge over the tiny partial table. The decimal
  cost lands on |groups|×|partitions| rows, not the fact table, so the
  BigDecimal toll is unmeasurable (+0.16 s on Q1 at 32×, and the
  shuffle it adds carries only the partial rows).

Choose ``fp_sum`` by default; switch a query to ``fp_sum_stable`` when
its per-group scaled total can cross 2^63 (global low-cardinality
aggregates over ≫1e8 rows at dp≥4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scaled_long(col: str | Column, dp: int = 2) -> Column:
    """``round(x * 10^dp)`` as LONG — the fixed-point representation.

    Exact when the source is fixed-point with ≤ ``dp`` decimals (TPC-H
    money columns are 2dp; quantity is integral → dp=0); for free-form
    doubles it *defines* the aggregate as dp-digit fixed-point — the
    same contract the previous ``cast(decimal(38,6))`` formulation had.
    The multiply+round is deterministic IEEE arithmetic, so DuckDB's
    ``ROUND(x * 10^dp)`` mirrors it bit-for-bit.

    A ``str`` ``col`` is spliced into the SQL as an expression, not
    looked up as a column name: backtick-quote a column whose name is
    not a plain identifier (``"`unit price`"``), doubling any backtick
    inside it. Pass ``F.col(name)`` to skip the quoting.

    Implementation (r11): Spark's ``round`` on DOUBLE allocates a
    ``BigDecimal`` per row even inside whole-stage codegen — measured
    as the dominant per-row cost of the whole fixed-point tier (five
    sums over sf0.1 lineitem: 0.78 s → 0.28 s after this change). The
    HALF_UP semantics are reproduced in pure float ops: the fractional
    part of a double (``v − floor(v)``, and ``ceil(v) − v`` below
    zero) is EXACTLY representable, so ``frac >= 0.5`` is the same
    exact comparison BigDecimal makes — bit-identical for every
    double, verified on exact halves, ±ulp-of-half neighbors, ±1e15,
    and the 2^52 boundary (tests/test_fixedpoint.py). ``floor``/
    ``ceil`` return LONG directly, keeping ANSI overflow behavior.
    """
    if isinstance(col, str):
        return F.expr(_scaled_sql(col, dp))
    c = col
    if dp:
        c = c * F.lit(float(10**dp))
    f = F.floor(c)
    cl = F.ceil(c)
    return F.when(
        c >= 0, f + (c - f.cast("double") >= 0.5).cast("long")
    ).otherwise(cl - (cl.cast("double") - c >= 0.5).cast("long"))


def _scaled_sql(expr_sql: str, dp: int) -> str:
    """The ``scaled_long`` expression as ONE SQL string. A str ``col``
    is a column name or any SQL scalar expression.

    Why strings (r11): building this tree Column-by-Column costs ~18
    py4j round-trips per call — with five moment sums per query that is
    ~0.1 s of pure socket latency in PLAN BUILD, the driver-side cost
    FLOOR_PROFILE.json measured at up to 50% of sub-second walls. One
    ``F.expr`` is one round-trip; Catalyst parses the identical tree
    (same FLOOR/CEIL/CASE ops, so values are bit-identical — the
    DuckDB oracle re-verifies every query built on this)."""
    x = f"({expr_sql})"
    if dp:
        x = f"({x} * {float(10 ** dp)!r}D)"
    return (
        f"CASE WHEN {x} >= 0 THEN FLOOR({x}) + "
        f"CAST(({x} - CAST(FLOOR({x}) AS DOUBLE)) >= 0.5 AS BIGINT) "
        f"ELSE CEIL({x}) - "
        f"CAST((CAST(CEIL({x}) AS DOUBLE) - {x}) >= 0.5 AS BIGINT) END"
    )


def fp_sum(col: str | Column, dp: int = 2) -> Column:
    """Exact order-independent sum as DOUBLE: long-sum of the scaled
    values, one final division. Whole-stage codegen end to end; under
    ANSI mode (session default) a >2^63 scaled total raises instead of
    wrapping — see ``fp_sum_stable`` for the beyond-2^63 formulation.

    Oracle mirror: ``SUM(CAST(ROUND(x * 10^dp) AS BIGINT)) / 10^dp.0``.

    A ``str`` ``col`` is spliced into the SQL as an expression, as in
    ``scaled_long``: backtick-quote a column name that is not a plain
    identifier.
    """
    if isinstance(col, str):
        # one py4j round-trip for the whole aggregate (see _scaled_sql)
        s = f"SUM({_scaled_sql(col, dp)})"
        if dp == 0:
            return F.expr(f"CAST({s} AS DOUBLE)")
        return F.expr(f"({s} / {float(10 ** dp)!r}D)")
    s = F.sum(scaled_long(col, dp))
    if dp == 0:
        return s.cast("double")
    return s / F.lit(float(10**dp))


def fp_sum_stable(
    df: DataFrame,
    group_cols: list[str],
    sums: dict[str, tuple[str | Column, int]],
    count_alias: str | None = None,
) -> DataFrame:
    """Two-stage fixed-point sum for aggregates whose scaled per-group
    total can exceed 2^63 (the 100 TB global-aggregate case).

    Stage 1 groups by ``(group_cols, spark_partition_id)`` and long-sums
    the scaled values — per-partial totals are bounded by rows-per-scan-
    partition (~4M at 128 MB splits), far under 2^63. Stage 2 merges the
    partials as ``decimal(38,0)`` — unbounded-exact, and cheap because it
    runs over |groups|×|partitions| rows, not the fact table. Output
    column types/values are identical to ``fp_sum`` (verified bit-exact
    on TPC-H Q1 at the 32× probe scale).

    Intended for LOW-cardinality groupings (global rollups): for
    high-cardinality keys the partial table approaches the input size
    and stage 2 would pay the BigDecimal toll on every row — but there
    per-group totals are small and plain ``fp_sum`` is already safe.

    ``sums`` maps output alias → (column/expr, dp). ``count_alias``
    optionally adds an exact COUNT(*) carried through the partials.
    """
    pid = F.spark_partition_id().alias("__fp_pid__")
    partials = [
        (
            F.expr(f"SUM({_scaled_sql(c, dp)})")
            if isinstance(c, str)
            else F.sum(scaled_long(c, dp))
        ).alias(f"__fp_{alias}__")
        for alias, (c, dp) in sums.items()
    ]
    if count_alias:
        partials.append(F.count(F.lit(1)).alias("__fp_n__"))
    stage1 = df.groupBy(*group_cols, pid).agg(*partials)

    # one-round-trip string form of the decimal merge (same CAST/divide
    # tree the Column form built; see _scaled_sql for the rationale)
    finals = [
        F.expr(
            f"CAST(SUM(CAST(__fp_{alias}__ AS DECIMAL(38,0)))"
            f" / CAST({10 ** dp} AS DECIMAL(38,6)) AS DOUBLE)"
            if dp
            else f"CAST(SUM(CAST(__fp_{alias}__ AS DECIMAL(38,0))) AS DOUBLE)"
        ).alias(alias)
        for alias, (c, dp) in sums.items()
    ]
    if count_alias:
        finals.append(F.sum("__fp_n__").alias(count_alias))
    return stage1.groupBy(*group_cols).agg(*finals)
