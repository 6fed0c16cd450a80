"""Vector math over array<float|double> columns, JVM-side only.

Everything here is built from ``pyspark.sql.functions`` higher-order
functions (``zip_with``/``aggregate``/``transform``) so the hot path
stays inside whole-stage codegen — no Python UDFs. This is the basis of
the similarity-search tier (SURVEY.md §2.2 B52).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    """Σ a_i * b_i as double (left-fold, deterministic order)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (||a|| * ||b||). Null-safe via Spark's null
    propagation, AND zero-safe: under Spark 4's default ANSI mode a
    plain Divide raises DIVIDE_BY_ZERO the moment one all-zeros vector
    appears (empty/failed embedding rows are routine in a real corpus)
    — ``try_divide`` returns NULL for that undefined similarity
    instead of killing the job."""
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))
