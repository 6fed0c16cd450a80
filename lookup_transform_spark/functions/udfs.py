"""UDF/UDAF/UDTF surface (SURVEY.md §2.2 B39) — the sanctioned Python
extension points, all Arrow-batched (never row-at-a-time Python in a
hot path), one per shape, each run by a registered query:

- scalar pandas UDF, vectorized per batch (``sigmoid``)
- grouped aggregate via mapInPandas over key-partitioned data (exact
  median — order-independent, so it stays oracle-checkable)
- table function via mapInPandas (``explode_tokens``)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


@pandas_udf(DoubleType())  # literal type: usable before a session exists
def sigmoid(v: pd.Series) -> pd.Series:
    """Scalar pandas UDF: 1/(1+e^-x), one numpy pass per Arrow batch.
    Per-row IEEE ops → bit-identical to the SQL formulation."""
    return 1.0 / (1.0 + np.exp(-v))


def grouped_median_vectorized(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Partition-vectorized grouped-median UDAF: the production shape
    for a custom Python aggregate Spark lacks.

    The naive per-group ``applyInPandas`` form costs one Python/pandas
    dispatch PER GROUP, which at high group cardinality dwarfs the
    actual math (~30× the built-in at 32× scale, SCALING32.json). This
    formulation repartitions on the group key —
    so every group lands wholly in one partition — then runs ONE
    C-level ``pandas.groupby().median()`` over each partition inside
    ``mapInPandas``. Per-group dispatch disappears; what remains is the
    Arrow transfer of the (group, value) rows, the irreducible toll of
    any Python-side aggregate. Measured 4.05 s → ~0.7 s at 32× on
    ``udaf_median`` (~6× the built-in ``F.median``, vs ~30×).

    Memory: one partition's rows are concatenated into a single pandas
    frame, so size shuffle partitions such that
    rows-per-key-partition × row-width fits the Python worker — the
    same contract applyInPandas imposes per group, here per partition,
    and the reason ``num_partitions`` is exposed. Median per group is
    unchanged by batching (whole partition concatenated first), so the
    result stays deterministic and oracle-checkable.

    Null contract: null group KEYS form their own group (``dropna=False``
    — pandas' default silently drops them, Spark's groupBy never does);
    null VALUES are ignored per the usual aggregate rule, and a group
    whose values are all null yields a null median (pandas surfaces it
    as NaN; both engines' hash-compare treats the fixture's non-null
    column identically).
    """
    df = (
        df.repartition(num_partitions, *group_cols)
        if num_partitions
        else df.repartition(*group_cols)
    )
    group_schema = ", ".join(
        f"{c} {t}" for c, t in df.select(*group_cols).dtypes
    )
    schema = f"{group_schema}, median_value double"

    def _agg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(
            parts, ignore_index=True
        )
        out = pdf.groupby(group_cols, as_index=False, sort=False, dropna=False)[
            value_col
        ].median()
        yield out.rename(columns={value_col: "median_value"})

    return df.select(*group_cols, value_col).mapInPandas(_agg, schema)


def explode_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """UDTF-shaped table function via mapInPandas: one output row per
    token. (The built-in equivalent is posexplode(split(...)) — this is
    the extension shape for tokenizers that aren't expressible as
    column functions, e.g. a real BPE: swap the ``str.split`` line for a
    vectorized/batched encoder call.)

    Fully vectorized per Arrow batch — pandas ``str`` ops + numpy
    repeat/arange; no per-row Python loop."""

    def _tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # drop NULL text BEFORE astype(str): astype turns None/NaN
            # into the literal strings "None"/"nan", which would emit a
            # bogus token row where posexplode(split(...)) emits none
            pdf = pdf[pdf[text_col].notna()]
            # split on a LITERAL single space, keeping empty elements —
            # byte-identical to the documented posexplode(split(text,
            # ' ')) twin and the DuckDB string_split oracle. Bare
            # .split() would collapse whitespace runs and drop
            # boundary empties, silently diverging on such text.
            toks = pdf[text_col].astype(str).str.lower().str.split(" ")
            counts = toks.str.len().fillna(0).astype(np.int64).to_numpy()
            ids = np.repeat(pdf[id_col].to_numpy(dtype=np.int64), counts)
            # per-doc position = global index minus the doc's start offset
            offsets = np.cumsum(counts) - counts
            pos = np.arange(counts.sum()) - np.repeat(offsets, counts)
            words = toks.explode().dropna().to_numpy()
            yield pd.DataFrame(
                {id_col: ids, "token": words, "pos": pos.astype(np.int32)}
            )

    return df.select(id_col, text_col).mapInPandas(
        _tok, f"{id_col} long, token string, pos int"
    )
