"""Source robustness (B2): malformed-record handling modes, the
synthetic generator source against its scalar spec and binary-file
ingest."""

from __future__ import annotations

import pytest

from lookup_transform_spark.sources.synthetic_oracle import LANGS, WORDS


def _mix(x: int) -> int:
    """splitmix64 finalizer — a deterministic, well-distributed int hash."""
    x = (x + 0x9E3779B97F4A7C15) & (1 << 64) - 1
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & (1 << 64) - 1
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & (1 << 64) - 1
    return x ^ (x >> 31)


def make_doc(seed: int, doc_id: int) -> tuple[int, str, str, str, int]:
    """Scalar row function — the SPEC the synthdocs source's vectorized
    batch path and its DuckDB oracle must reproduce bit-for-bit."""
    h = _mix(seed * 1_000_003 + doc_id)
    lang = LANGS[h % len(LANGS)]
    source = f"src{(h >> 8) % 20}"
    n_words = 5 + (h >> 16) % 40
    words = [
        WORDS[_mix(h + i) % len(WORDS)] for i in range(n_words)
    ]
    text = " ".join(words)
    return doc_id, lang, source, text, len(text)


@pytest.fixture()
def bad_csv(tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text("id,name,score\n1,alice,3.5\n2,bob,notanumber\n3,carol,9.9\n")
    return str(p)


def _read_bad_csv(spark, path: str, mode: str):
    return (
        spark.read.schema("id int, name string, score double")
        .option("header", True)
        .option("mode", mode)
        .csv(path)
    )


def test_csv_permissive_nulls_bad_fields(spark, bad_csv):
    df = _read_bad_csv(spark, bad_csv, "PERMISSIVE")
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] == 3.5 and rows[3] == 9.9
    assert rows[2] is None  # malformed field → null, row survives


def test_csv_dropmalformed(spark, bad_csv):
    df = _read_bad_csv(spark, bad_csv, "DROPMALFORMED")
    assert sorted(r.id for r in df.collect()) == [1, 3]


def test_csv_failfast_raises(spark, bad_csv):
    df = _read_bad_csv(spark, bad_csv, "FAILFAST")
    with pytest.raises(Exception, match="(?i)malformed"):
        df.collect()


def test_json_corrupt_record_column(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1, "v": 2.0}\n{not json at all}\n{"id": 3, "v": 4.0}\n')
    df = (
        spark.read.schema("id int, v double, _corrupt_record string")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 3}
    assert len(bad) == 1 and "not json" in bad[0]._corrupt_record


def test_synthetic_datasource_deterministic_and_parallel(spark):
    from lookup_transform_spark.sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthdocs")
        .option("n", 500).option("parts", 4).option("seed", 7).load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = sorted(tuple(r) for r in df.collect())
    assert len(rows) == 500
    # rows are a pure function of (seed, doc_id): same on any re-read,
    # any partitioning, and in local python
    again = (
        spark.read.format("synthdocs")
        .option("n", 500).option("parts", 2).option("seed", 7).load()
    )
    assert rows == sorted(tuple(r) for r in again.collect())
    assert rows[0] == make_doc(7, 0)


def test_generator_oracle_sql_matches_scalar_spec():
    """The DuckDB transpilation of splitmix64 (HUGEINT split-multiply,
    UBIGINT xor) must reproduce the scalar ``make_doc`` aggregate
    bit-for-bit — this is what lets ``scan_generator_source`` carry a
    value-exact oracle for a zero-I/O source."""
    import duckdb

    from lookup_transform_spark.sources.synthetic_oracle import (
        _sql_mix,
        generator_oracle_sql,
    )

    # the mix primitive itself, over edge-case inputs
    vals = [0, 1, (1 << 64) - 1, 42 * 1_000_003 + 1999, 0x9E3779B97F4A7C15]

    got = duckdb.sql(
        f"SELECT v, {_sql_mix('v::HUGEINT')} AS m "
        "FROM (SELECT unnest($vals) AS v)",
        params={"vals": vals},
    ).fetchall()
    assert all(int(m) == _mix(int(v)) for v, m in got)

    # the full aggregate, at two (n, seed) points
    for n, seed in ((2000, 42), (137, 7)):
        agg = {}
        for did in range(n):
            _, lang, _, _, n_chars = make_doc(seed, did)
            c = agg.setdefault(lang, [0, 0])
            c[0] += 1
            c[1] += n_chars
        exp = sorted((l, v[0], v[1]) for l, v in agg.items())
        rows = duckdb.sql(
            f"SELECT * FROM ({generator_oracle_sql(n, seed)}) ORDER BY lang"
        ).fetchall()
        assert [tuple(r) for r in rows] == exp


def test_binary_files_roundtrip(spark, tmp_path):
    """write_binary_files → binaryFile scan: byte-exact payloads, one
    file per row, pathGlobFilter prunes non-matching junk."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.sources.writers import write_binary_files

    payloads = {7: b"\x00\x01binary\xff", 11: b"", 23: b"plain text"}
    nonempty = {k: v for k, v in payloads.items() if v}
    df = spark.createDataFrame(
        [(k, bytearray(v)) for k, v in payloads.items()],
        "doc_id long, payload binary",
    )
    out = str(tmp_path / "assets")
    write_binary_files(df, out)
    (tmp_path / "assets" / "junk.txt").write_text("not an asset")

    got = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.bin"
    ).load(out).select(
        F.regexp_extract("path", r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        "content",
        "length",
    )
    rows = {r.doc_id: r for r in got.collect()}
    # junk.txt and _SUCCESS are pruned by the glob; the ZERO-LENGTH
    # asset is silently dropped by Spark's split planner — pinned here
    # as the caveat scan_binary_files' export filter guards against.
    assert set(rows) == set(nonempty)
    for k, v in nonempty.items():
        assert bytes(rows[k].content) == v
        assert rows[k].length == len(v)


def test_gopher_quality_rule_attribution(spark):
    """Each Gopher rule trips on its own pathological document and the
    clean document keeps all rules green."""
    from lookup_transform_spark.operators.text import gopher_quality

    docs = spark.createDataFrame(
        [
            # clean: enough words, sane lengths, has stopwords, no digits
            (1, "the quick brown fox jumps over the lazy dog and then "
                "it runs away into the woods for a while today"),
            (2, "short text the end"),                      # r_word_count
            (3, " ".join(["supercalifragilisticexpialidocious"] * 12)),  # mean+max len
            (4, " ".join(["zz"] * 15)),                     # r_stopwords (no stopword)
            (5, "the " + " ".join(["123456"] * 14)),        # digit ratio + mean len ok
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in gopher_quality(docs).collect()}
    assert out[1].keep and all(
        getattr(out[1], c) for c in out[1].asDict() if c.startswith("r_")
    )
    assert not out[2].r_word_count and not out[2].keep
    assert not out[3].r_mean_word_len and not out[3].r_max_word_len
    assert not out[4].r_stopwords and not out[4].keep
    assert not out[5].r_digit_ratio and not out[5].keep
