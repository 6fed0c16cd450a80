"""Shared Spark-vs-DuckDB comparison logic for the correctness gate.

Mirrors the driver's protocol (see ``__spark_entry__.py`` contract):
row count, column-name set, and column-name-sorted / row-sorted value
equality. Used by both ``tests/test_oracle_parity.py`` (per-query
pytest at sf0.001) and ``scripts/parity_matrix.py`` (full-registry
artifact at the driver's sf0.01).
"""

from __future__ import annotations

import math
import os
from typing import Any

from lookup_transform_spark.sqltext import duck_string

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def register_views(con, sf_dir: str) -> None:
    """Create one DuckDB view per fixture table, like the driver does.

    A table is a single parquet file, or a directory of them (a
    Spark-written table), read as ``{t}.parquet/**/*.parquet``.
    """
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        src = (
            f"read_parquet({duck_string(path + '/**/*.parquet')})"
            if os.path.isdir(path)
            else duck_string(path)
        )
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {src}")


#: NaN sentinel: a dedicated marker object, NOT the string "NaN" — a
#: genuine varchar value 'NaN' in one engine must never compare equal
#: to a float NaN in the other (r8 review)
_NAN = ("__float_nan__",)


def normalize(rows: list[tuple], columns: list[str]) -> tuple[list, list]:
    """Sort columns by name, then rows; make values hashable/comparable."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v: Any) -> Any:
        if isinstance(v, float):
            if math.isnan(v):
                return _NAN
            return v
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        # struct columns: Spark collects Row, DuckDB returns dict —
        # normalize both to a name-sorted (key, value) tuple so nested
        # floats/bytes also pass through norm
        if hasattr(v, "asDict"):  # pyspark Row
            v = v.asDict()
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        return v

    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr), [columns[i] for i in order]


def compare(spark_df, duck_con, oracle_sql: str) -> dict:
    """Run one Spark DataFrame against its DuckDB oracle.

    Returns the driver-shaped record: rows_match / schema_match /
    hash_match (exact value equality here — strictly stronger than the
    driver's hash), spark_rows / oracle_rows, and err (first mismatch
    detail or None).
    """
    spark_rows = [tuple(r) for r in spark_df.collect()]
    spark_cols = spark_df.columns

    res = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    rec: dict = {
        "rows_match": len(spark_rows) == len(duck_rows),
        "schema_match": sorted(spark_cols) == sorted(duck_cols),
        "hash_match": None,
        "spark_rows": len(spark_rows),
        "oracle_rows": len(duck_rows),
        "err": None,
    }
    if not rec["schema_match"]:
        rec["hash_match"] = False
        rec["err"] = f"columns {sorted(spark_cols)} vs {sorted(duck_cols)}"
        return rec
    if not rec["rows_match"]:
        rec["hash_match"] = False
        rec["err"] = f"row count {len(spark_rows)} vs {len(duck_rows)}"
        return rec
    s_norm, cols = normalize(spark_rows, spark_cols)
    d_norm, _ = normalize(duck_rows, duck_cols)
    # MULTISET equality, not positional zip after a repr-sort (r8
    # review): values that compare equal but repr differently across
    # engines (Spark double 1.0 vs DuckDB BIGINT 1, Decimal('2') vs
    # 2.0, -0.0 vs 0.0) sort into different positions and a zip then
    # reports spurious mismatches for a correct query. Python
    # guarantees equal numerics hash equal, so Counter equality is
    # exactly value-multiset equality.
    from collections import Counter

    sc, dcount = Counter(s_norm), Counter(d_norm)
    rec["hash_match"] = sc == dcount
    if sc != dcount:
        only_s = list((sc - dcount).elements())
        only_d = list((dcount - sc).elements())
        rec["err"] = (
            f"{max(len(only_s), len(only_d))} row mismatches "
            f"(cols {cols}); spark-only sample: {only_s[:1]!r}, "
            f"oracle-only sample: {only_d[:1]!r}"
        )
    return rec
