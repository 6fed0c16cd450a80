"""Catalog statistics registration (``stats.register_stats_tables``):
every table's ANALYZE lands, and the SQL it issues survives paths and
column names that need quoting."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from lookup_transform_spark import stats
from lookup_transform_spark.sqltext import quote_ident

SF = "/root/testdata/sf0.01"


def _row_count(spark, table: str) -> int | None:
    """``rowCount`` of the catalog statistics, from DESC EXTENDED."""
    for row in spark.sql(f"DESC EXTENDED {table}").collect():
        if row["col_name"] == "Statistics":
            # e.g. "123 bytes, 25 rows"
            parts = row["data_type"].split(", ")
            return int(parts[1].split()[0]) if len(parts) > 1 else None
    return None


def _col_stats(spark, table: str, col: str) -> dict[str, str]:
    rows = spark.sql(f"DESC EXTENDED {table} {quote_ident(col)}").collect()
    return {r["info_name"]: r["info_value"] for r in rows}


def _analyzable(schema: T.StructType) -> list[str]:
    return [
        f.name for f in schema.fields
        if isinstance(f.dataType, stats._STATS_TYPES)
        and not isinstance(f.dataType, T.TimestampNTZType)
    ]


def test_concurrent_registration_analyzes_every_table(spark, forget_stats):
    """The tables are ANALYZEd concurrently: a race that dropped one
    table's statistics would leave its rowCount or a column's stats
    missing, and the CBO would silently plan that table blind."""
    before = forget_stats(SF)
    try:
        db = stats.register_stats_tables(spark, SF)
        for t in stats.STATS_TABLES:
            if t in stats._TABLE_LEVEL_ONLY:
                continue
            name = f"{db}.{t}"
            want = spark.read.parquet(f"{SF}/{t}.parquet").count()
            assert _row_count(spark, name) == want, t
            cols = _analyzable(spark.table(name).schema)
            assert cols, t
            for c in cols:
                assert _col_stats(spark, name, c)["num_nulls"] != "NULL", (t, c)
    finally:
        if before is None:
            forget_stats(SF)


def test_registration_quotes_location_path(spark, tmp_path, forget_stats):
    """A fixture dir carrying a quote must reach ``LOCATION`` as an
    escaped string literal."""
    sf_dir = str(tmp_path / "it's_sf")
    df = spark.read.parquet(f"{SF}/nation.parquet")
    df.write.parquet(os.path.join(sf_dir, "nation.parquet"))
    try:
        db = stats.register_stats_tables(spark, sf_dir, tables=("nation",))
        assert spark.table(f"{db}.nation").count() == df.count()
        assert _row_count(spark, f"{db}.nation") == df.count()
    finally:
        forget_stats(sf_dir)


def test_registration_quotes_column_names(spark, tmp_path, forget_stats):
    """A column named ``my col`` must be quoted in the CREATE TABLE
    column list and in ``ANALYZE ... FOR COLUMNS``."""
    sf_dir = str(tmp_path / "spaced_sf")
    df = spark.createDataFrame(
        [(1, 0.5), (2, None)], "k long, `my col` double"
    )
    df.write.parquet(os.path.join(sf_dir, "spaced.parquet"))
    try:
        db = stats.register_stats_tables(spark, sf_dir, tables=("spaced",))
        name = f"{db}.spaced"
        assert spark.table(name).columns == ["k", "my col"]
        assert _col_stats(spark, name, "my col")["num_nulls"] == "1"
    finally:
        forget_stats(sf_dir)


def test_unregistered_table_reads_parquet(spark, tmp_path, forget_stats):
    """A fixture dir registered with a subset of its tables serves the
    rest from their parquet files: ``lookup`` reads orders and customer
    beside the one registered table and returns the unregistered
    read's rows."""
    import shutil

    from lookup_transform_spark import registry

    sf_dir = str(tmp_path / "subset_sf")
    os.makedirs(sf_dir)
    for t in ("nation", "orders", "customer"):
        src = os.path.join(SF, f"{t}.parquet")
        shutil.copy(src, os.path.join(sf_dir, f"{t}.parquet"))

    def rows():
        return sorted(map(tuple, registry.QUERIES["lookup"](spark, sf_dir).collect()))

    want = rows()
    try:
        stats.register_stats_tables(spark, sf_dir, tables=("nation",))
        assert stats.stats_table(spark, sf_dir, "nation") is not None
        assert stats.stats_table(spark, sf_dir, "orders") is None
        assert rows() == want
    finally:
        forget_stats(sf_dir)
