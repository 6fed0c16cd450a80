"""Mirror of the driver's correctness gate: run every registry query on
Spark AND its DuckDB oracle over the same parquet, compare row count,
column names, and (column-name-sorted, row-sorted) values exactly.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from lookup_transform_spark import registry
from lookup_transform_spark.parity import normalize, register_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    register_views(con, SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.ORACLES))
def test_query_matches_oracle(spark, duck, name):
    sdf = registry.QUERIES[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = sdf.columns

    res = duck.execute(registry.ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_norm, cols = normalize(spark_rows, spark_cols)
    d_norm, _ = normalize(duck_rows, duck_cols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3 "
        f"(cols {cols}): {mismatches[:3]}"
    )


@pytest.mark.parametrize("name", sorted(set(registry.QUERIES) - set(registry.ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = registry.QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_register_views_quotes_paths_and_reads_table_dirs(tmp_path):
    """A fixture dir whose name carries a quote gets valid DuckDB view
    SQL, and a table stored as a directory of parquet files (the shape
    Spark writes) is read through its files."""
    import shutil

    from lookup_transform_spark.parity import TABLES

    sf_dir = tmp_path / "it's_sf"
    sf_dir.mkdir()
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        if t == "orders":
            (sf_dir / "orders.parquet").mkdir()
            shutil.copy(src, sf_dir / "orders.parquet" / "part-0.parquet")
        else:
            shutil.copy(src, sf_dir / f"{t}.parquet")
    con = duckdb.connect()
    register_views(con, str(sf_dir))
    for t in TABLES:
        want = con.execute(
            "SELECT count(*) FROM read_parquet(?)",
            [os.path.join(SF_DIR, f"{t}.parquet")],
        ).fetchone()
        assert con.execute(f"SELECT count(*) FROM {t}").fetchone() == want, t
    con.close()


@pytest.mark.parametrize("value", ["plain", "it's", "a\\b'c''"])
def test_duck_string_round_trips(value):
    """DuckDB reads back exactly the value: a backslash stays literal."""
    from lookup_transform_spark.sqltext import duck_string

    con = duckdb.connect()
    assert con.execute(f"SELECT {duck_string(value)}").fetchone()[0] == value
    con.close()
