"""Custom Python DataSource (Spark 4 extension point): a deterministic
synthetic document-corpus generator.

Why it exists: load-testing a 100 TB pipeline should not require 100 TB
of staged input. A generator source produces arbitrarily large corpora
straight into the scan — partition-parallel (each InputPartition derives
its rows independently), zero I/O, and deterministic (rows are a pure
function of (seed, doc_id)), so runs are reproducible and results
comparable across engines/sessions.

This also demonstrates the modern way to add a *source* to Spark from
Python (``pyspark.sql.datasource.DataSource``), complementing the
built-in parquet/CSV/JSON/ORC readers of ``spark.read``.

Fast path: ``read()`` yields **pyarrow RecordBatches** (the DataSource
API's Arrow protocol) built from vectorized numpy hashing — one batch
per ~64k rows instead of one pickled tuple per row, ~10× less
serialization overhead. This file is the template users copy for custom
sources, so it deliberately models the batch shape, not the per-row
``yield`` a minimal example would use. The scalar specification of
the row function lives in test_sources.py, which pins the vectorized
path bit-identical to it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

# word/lang tables live in the dependency-free oracle module so the
# generator and its DuckDB transpilation can never drift apart
from lookup_transform_spark.sources.synthetic_oracle import LANGS, WORDS as _WORDS

SCHEMA = "doc_id long, lang string, source string, text string, n_chars int"

_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("text", pa.string()),
        ("n_chars", pa.int32()),
    ]
)

#: rows per emitted RecordBatch — bounds peak memory per task while
#: keeping Arrow transfer amortized
_BATCH_ROWS = 65_536


def _mix_vec(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — a deterministic, well-distributed hash —
    over a uint64 array (numpy uint64 arithmetic wraps mod 2^64, the
    scalar spec's masking)."""
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _make_batch(seed: int, doc_ids: np.ndarray) -> pa.RecordBatch:
    """The row function over a uint64 id array → one RecordBatch."""
    base = np.uint64((seed * 1_000_003) % (1 << 64))
    with np.errstate(over="ignore"):
        h = _mix_vec(base + doc_ids)
        langs = np.array(LANGS)[(h % np.uint64(len(LANGS))).astype(np.int64)]
        src_n = ((h >> np.uint64(8)) % np.uint64(20)).astype(np.int64)
        n_words = (np.uint64(5) + (h >> np.uint64(16)) % np.uint64(40)).astype(
            np.int64
        )
        # word index matrix: one mix per (doc, word-slot), masked to each
        # doc's length at join time
        max_w = int(n_words.max()) if n_words.size else 0
        idx = (
            _mix_vec(h[:, None] + np.arange(max_w, dtype=np.uint64)[None, :])
            % np.uint64(len(_WORDS))
        ).astype(np.int64)
    wmat = np.array(_WORDS, dtype=object)[idx]
    texts = [" ".join(row[:k]) for row, k in zip(wmat, n_words)]
    return pa.record_batch(
        [
            pa.array(doc_ids.astype(np.int64), pa.int64()),
            pa.array(langs, pa.string()),
            pa.array(np.char.add("src", src_n.astype(str)), pa.string()),
            pa.array(texts, pa.string()),
            pa.array([len(t) for t in texts], pa.int32()),
        ],
        schema=_ARROW_SCHEMA,
    )


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("n", N).option("parts", P)``
    — N documents across P independent partitions."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _SyntheticDocsReader(self.options)


class _SyntheticDocsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))
        self.seed = int(options.get("seed", 42))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        # round-robin id assignment: each partition generates its own
        # slice independently — no coordination, linear scale-out.
        # Emitted as Arrow RecordBatches (vectorized generation +
        # zero-copy transfer), chunked to bound task memory.
        ids = np.arange(partition.value, self.n, self.parts, dtype=np.uint64)
        for start in range(0, ids.size, _BATCH_ROWS):
            yield _make_batch(self.seed, ids[start : start + _BATCH_ROWS])


def register(spark) -> None:
    """Idempotent per-session registration (repeat registration is a
    py4j round-trip + a replace warning per call — needless when the
    same query runs in a bench loop).

    The seen-marker is an attribute stamped ON the session object, not
    an ``id()`` keyed set: a stopped session's memory address can be
    reused by a brand-new session, which would then silently skip
    registration and fail with DATA_SOURCE_NOT_FOUND; the attribute
    dies with the object, which is exactly the cache lifetime wanted."""
    if getattr(spark, "_synthdocs_registered", False):
        return
    spark.dataSource.register(SyntheticDocsDataSource)
    spark._synthdocs_registered = True
