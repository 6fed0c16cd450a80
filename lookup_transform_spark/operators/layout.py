"""Data-layout operators: Z-order (Morton) clustering for scan locality.

At 100 TB the cheapest query is the one that never reads the file:
writers that cluster rows on a space-filling curve over the common
filter keys give every parquet file a tight min/max envelope on BOTH
keys, so row-group statistics prune multi-dimensional predicates —
the effect `ORDER BY a` gives for one column, extended to several.

This module computes the clustering key: a writer range-partitions
and sorts by it. Everything is JVM-side bit arithmetic (shift/and/or
on longs): the z-code is a deterministic pure function of the keys, so
it is also oracle-checkable in any SQL engine with bit operators.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: bits per key in the code; both builders loop over the same count, so
#: the Spark column and the SQL expression cannot disagree
BITS = 8


def zorder_code(bucket_a: Column, bucket_b: Column) -> Column:
    """Interleave the low ``BITS`` bits of two non-negative bucket
    columns into a Morton code: bit j of ``bucket_a`` lands at position
    2j+1, bit j of ``bucket_b`` at 2j. Buckets must already lie in
    [0, 2**BITS); derive them with pmod / fixed-range scaling so the
    code is reproducible across engines."""
    a = bucket_a.cast("long")
    b = bucket_b.cast("long")
    code = F.lit(0).cast("long")
    for j in range(BITS):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j)
        )
    return code


def zorder_code_sql(expr_a: str, expr_b: str) -> str:
    """The identical Morton interleave as ANSI-ish SQL (DuckDB bit
    operators), generated from the same loop so both engines compute
    the same code bit-for-bit."""
    terms = []
    for j in range(BITS):
        terms.append(f"((({expr_a} >> {j}) & 1) << {2 * j + 1})")
        terms.append(f"((({expr_b} >> {j}) & 1) << {2 * j})")
    return " | ".join(terms)


