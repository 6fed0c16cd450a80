"""Output checks: every query's result against its DuckDB oracle.

The benchmark's warm-up pass collects each query's result as Arrow
(``spark_output``) instead of writing it to the noop sink, and checks it
here:

- queries with an oracle: value-exact multiset equality. The oracle
  result is materialised once in DuckDB and diffed against the Arrow
  table with ``EXCEPT ALL`` in both directions, which stays cheap for
  the 10^5-row outputs of the lookup family. When DuckDB cannot diff
  the two (types it will not unify), the rows are compared in Python
  with ``parity.normalize``, as ``parity.compare`` does;
- queries without one: the repository's own quantitative bound
  (``parity_bounds.bound_check``), e.g. ANN recall against exact cosine
  top-k.
"""

from __future__ import annotations

from collections import Counter

import duckdb


def spark_output(df):
    """The query result as an Arrow table, columns sorted by name."""
    return df.select(*[f"`{c}`" for c in sorted(df.columns)]).toArrow()


def _python_diff(con, table, cols: list[str]) -> tuple[int, int]:
    from lookup_transform_spark.parity import normalize

    mine = normalize([tuple(r[c] for c in cols) for r in table.to_pylist()], cols)[0]
    res = con.execute("SELECT * FROM __oracle")
    names = [d[0] for d in res.description]
    theirs = normalize(res.fetchall(), names)[0]
    a, b = Counter(mine), Counter(theirs)
    return sum((a - b).values()), sum((b - a).values())


def diff_with_oracle(con, table, oracle_sql: str) -> tuple[bool, str | None]:
    """(passed, first difference) of an Arrow result vs the oracle."""
    cols = list(table.column_names)
    con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {oracle_sql}")
    oracle_cols = sorted(
        d[0] for d in con.execute("SELECT * FROM __oracle LIMIT 0").description)
    if cols != oracle_cols:
        return False, f"columns {cols} vs {oracle_cols}"
    sel = ", ".join(f'"{c}"' for c in cols)
    a = f"SELECT {sel} FROM __spark_out"
    b = f"SELECT {sel} FROM __oracle"
    con.register("__spark_out", table)
    try:
        only_spark = con.execute(
            f"SELECT COUNT(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        only_oracle = con.execute(
            f"SELECT COUNT(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    except duckdb.Error:
        only_spark, only_oracle = _python_diff(con, table, cols)
    finally:
        con.unregister("__spark_out")
    if only_spark or only_oracle:
        return False, (f"{only_spark} rows only in spark, "
                       f"{only_oracle} only in the oracle")
    return True, None
