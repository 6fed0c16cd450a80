"""Quoting for values spliced into Spark SQL and DuckDB SQL text.

``selectExpr`` and ``spark.sql`` parse whatever string they get, so a
column name, struct field name or path that carries a quote, a
backtick or a space must be rendered as SQL text first. Each rule has
one home here.
"""

from __future__ import annotations

from pyspark.sql import types as T


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier (a backtick inside it
    doubled)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal. Backslash is the
    escape character under Spark's default
    ``spark.sql.parser.escapedStringLiterals=false``, so backslashes and
    quotes are backslash-escaped."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def duck_string(value: str) -> str:
    """``value`` as a single-quoted DuckDB string literal. DuckDB has no
    backslash escapes, so only the quote is escaped, by doubling it;
    ``sql_string``'s escaping would corrupt a path for DuckDB."""
    return "'" + value.replace("'", "''") + "'"


def ddl(dt: T.DataType) -> str:
    """SQL type string for ``dt`` with every struct field name quoted by
    ``quote_ident``: ``simpleString`` splices names raw, so
    ``struct<my val:double>`` fails to parse."""
    if isinstance(dt, T.StructType):
        fields = ",".join(
            f"{quote_ident(f.name)}:{ddl(f.dataType)}" for f in dt.fields
        )
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{ddl(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{ddl(dt.keyType)},{ddl(dt.valueType)}>"
    return dt.simpleString()
