"""Skew guards for the candidate-generating joins (SURVEY.md §2.2 B51):
shingle document-frequency cap (ngram_jaccard_pairs) and per-bucket size
caps (minhash_lsh_pairs / simhash_pairs). A group of k rows self-joins
into O(k²) candidates, so these caps are what keep the operators from
going quadratic on boilerplate-heavy corpora.
"""

import os
import re

import pytest

from lookup_transform_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _py_shingles(text, n=3):
    """Distinct word n-gram strings with ``text.tokens``' exact split:
    ``split(lower(text), '\\s+')`` keeps the '' a leading/trailing
    whitespace run leaves, and short texts give one truncated shingle.
    ASCII whitespace only (Java's and Python's \\s agree there)."""
    t = re.split(r"\s+", text.lower())
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - n, 0) + 1)}


def _py_pairs(rows, metric, threshold):
    """{(a, b): score} over same-block non-NULL-text pairs a < b."""
    sets = {i: _py_shingles(t) for i, t, _ in rows if t is not None}
    block = {i: s for i, _, s in rows}
    out = {}
    for a in sets:
        for b in sets:
            if a >= b or block[a] != block[b]:
                continue
            inter = len(sets[a] & sets[b])
            if metric == "containment":
                score = inter / min(len(sets[a]), len(sets[b]))
            else:
                score = inter / len(sets[a] | sets[b])
            if inter and round(score, 6) >= threshold:
                out[(a, b)] = round(score, 6)
    return out


def test_ngram_cap_above_df_is_exact(spark):
    # no shingle reaches the cap → identical output with and without it
    rows = [
        (1, "the quick brown fox jumps high", "s"),
        (2, "the quick brown fox jumps low", "s"),
        (3, "an entirely different document here now", "s"),
    ]
    capped = ngram_jaccard_pairs(
        _docs(spark, rows), threshold=0.1, max_shingle_df=1000
    ).collect()
    uncapped = ngram_jaccard_pairs(
        _docs(spark, rows), threshold=0.1, max_shingle_df=None
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert len(capped) == 1  # only (1, 2) overlap


def test_ngram_cap_drops_stop_shingle_pairs(spark):
    # "lorem ipsum dolor" appears in every doc (DF=4 > cap=3); pairs that
    # share ONLY that boilerplate produce no join rows and disappear,
    # while the pair sharing rare shingles survives.
    boiler = "lorem ipsum dolor"
    rows = [
        (1, boiler + " alpha beta gamma delta", "s"),
        (2, boiler + " alpha beta gamma epsilon", "s"),
        (3, boiler + " zeta eta theta iota", "s"),
        (4, boiler + " kappa mu nu xi", "s"),
    ]
    got = ngram_jaccard_pairs(
        _docs(spark, rows), threshold=0.05, max_shingle_df=3
    ).collect()
    pairs = {(r.doc_id_a, r.doc_id_b) for r in got}
    assert pairs == {(1, 2)}
    # denominators keep FULL shingle counts: jaccard is a lower bound of
    # the uncapped value, never inflated by the exclusion
    uncapped = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark, rows), threshold=0.05, max_shingle_df=None
        ).collect()
    }
    for r in got:
        assert r.jaccard <= uncapped[(r.doc_id_a, r.doc_id_b)]


def test_ngram_containment_matches_python_reference(spark):
    """metric="containment" scores |A∩B|/min(|A|,|B|) over distinct
    3-gram shingles — checked against a direct python set computation,
    including the asymmetric case the metric exists for: a short doc
    fully embedded in a long one scores 1.0 while its Jaccard is
    diluted by the length ratio."""
    short = "alpha beta gamma delta"
    long_ = short + " epsilon zeta eta theta iota kappa"
    rows = [(1, short, "s"), (2, long_, "s"),
            (3, "unrelated words entirely over here", "s")]

    def sh(text):
        t = text.lower().split()
        return {" ".join(t[i:i + 3]) for i in range(max(len(t) - 2, 1))}

    expect = {}
    for a in rows:
        for b in rows:
            if a[0] < b[0]:
                inter = len(sh(a[1]) & sh(b[1]))
                c = inter / min(len(sh(a[1])), len(sh(b[1])))
                if c >= 0.3:
                    expect[(a[0], b[0])] = round(c, 6)
    got = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in ngram_jaccard_pairs(
            _docs(spark, rows), threshold=0.3, metric="containment"
        ).collect()
    }
    assert got == expect
    assert got[(1, 2)] == 1.0  # full embedding scores 1.0
    jac = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark, rows), threshold=0.05
        ).collect()
    }
    assert jac[(1, 2)] < 0.5  # ...where jaccard dilutes by length ratio


@pytest.mark.parametrize("metric", ["jaccard", "containment"])
def test_ngram_pairs_edge_texts_match_python_reference(spark, metric):
    """Both metrics over int64 shingle hashes equal the string-shingle
    set computation on the texts where the two could part: NULL text
    (no shingles, never pairs), "" and whitespace-only text (one
    shingle of '' tokens), texts under 3 tokens (one truncated
    shingle, which must not match a full 3-gram), leading/trailing
    whitespace (edge shingles carrying a '' token), case, and a
    second block that must not pair across."""
    rows = [
        (1, None, "s"),
        (2, "", "s"),
        (3, "   ", "s"),
        (4, "alpha beta", "s"),
        (5, "alpha beta gamma", "s"),
        (6, "  alpha beta gamma delta  ", "s"),
        (7, "Alpha BETA", "s"),
        (8, "", "s"),
        (9, "alpha", "s"),
        (10, "alpha beta gamma delta epsilon", "s"),
        (11, None, "s"),
        (12, "alpha beta", "t"),
        (13, "alpha beta gamma delta ", "s"),
    ]
    got = {
        (r.doc_id_a, r.doc_id_b): r[metric]
        for r in ngram_jaccard_pairs(
            _docs(spark, rows), threshold=0.05, metric=metric
        ).collect()
    }
    expect = _py_pairs(rows, metric, 0.05)
    assert got == expect
    assert got[(2, 8)] == 1.0 and got[(4, 7)] == 1.0
    assert not any({1, 11} & set(p) for p in got)


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_shingle_hashes_size_equals_string_shingles(spark, sf_dir, sf):
    """Per document, the int64 shingle-hash set is exactly as large as
    the string shingle set: no two distinct n-grams of one fixture
    document share a hash, and the truncated short-text shingle is
    built the same way on both paths."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        SHINGLE_N,
        with_shingle_hashes,
    )
    from lookup_transform_spark.operators.text import shingles

    path = os.path.join(os.path.dirname(sf_dir), sf, "documents.parquet")
    docs = spark.read.parquet(path)
    sizes = with_shingle_hashes(docs, "text", SHINGLE_N).select(
        F.size("__sh_arr__").alias("h"),
        F.size(shingles("text", SHINGLE_N)).alias("s"),
    )
    row = sizes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("h") != F.col("s")).cast("int")).alias("diff"),
    ).first()
    assert row["n"] == docs.count() > 0
    assert row["diff"] == 0


def test_minhash_exact_dups_survive_any_bucket_cap(spark):
    # 6 identical docs would saturate every band-bucket, and a cap=5 < 6
    # used to drop ALL their pairs (the round-3 ADVICE hazard). The
    # exact-dup pre-cluster collapses them to one representative before
    # banding, so the cap never fires and the group comes back as star
    # edges (rep=0 → members) with jaccard 1.0 — connectivity preserved.
    rows = [(i, "same exact text in every document", "s") for i in range(6)]
    capped = minhash_lsh_pairs(_docs(spark, rows), max_bucket_size=5).collect()
    assert {(r.doc_id_a, r.doc_id_b) for r in capped} == {
        (0, i) for i in range(1, 6)
    }
    assert all(r.jaccard == 1.0 for r in capped)
    # precluster_exact=False reproduces the documented legacy hazard:
    # saturated buckets → zero pairs under the cap, all 15 without it
    legacy = minhash_lsh_pairs(
        _docs(spark, rows), max_bucket_size=5, precluster_exact=False
    ).collect()
    assert legacy == []
    full = minhash_lsh_pairs(
        _docs(spark, rows), max_bucket_size=None, precluster_exact=False
    ).collect()
    assert len(full) == 15


def test_minhash_precluster_keeps_cross_group_near_dups(spark):
    # two exact-dup groups whose texts are near (not exact) duplicates of
    # each other: star edges keep each group connected, and the
    # representative pair carries the cross-group near-dup edge — the
    # union's connected components equal the full pair graph's.
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "alpha beta gamma delta epsilon zeta eta iota"
    rows = [(1, a, "s"), (2, a, "s"), (3, a, "s"), (10, b, "s"), (11, b, "s")]
    got = minhash_lsh_pairs(
        _docs(spark, rows), threshold=0.3, bands=16, num_hashes=32
    ).collect()
    pairs = {(r.doc_id_a, r.doc_id_b) for r in got}
    assert {(1, 2), (1, 3), (10, 11)} <= pairs  # star edges
    assert (1, 10) in pairs  # representative near-dup edge
    by_pair = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in got}
    assert by_pair[(1, 2)] == 1.0
    assert 0.3 <= by_pair[(1, 10)] < 1.0


def test_minhash_cap_above_bucket_size_is_exact(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta", "s"),
        (2, "alpha beta gamma delta epsilon zeta eta iota", "s"),
        (3, "completely unrelated words occupy this entire doc", "s"),
    ]
    capped = minhash_lsh_pairs(
        _docs(spark, rows), threshold=0.3, max_bucket_size=1000
    ).collect()
    uncapped = minhash_lsh_pairs(
        _docs(spark, rows), threshold=0.3, max_bucket_size=None
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    assert {(r.doc_id_a, r.doc_id_b) for r in capped} == {(1, 2)}


def test_simhash_exact_dups_survive_any_bucket_cap(spark):
    rows = [(i, "identical text for the simhash cap test", "s") for i in range(6)]
    capped = simhash_pairs(_docs(spark, rows), max_bucket_size=5).collect()
    assert {(r.doc_id_a, r.doc_id_b) for r in capped} == {
        (0, i) for i in range(1, 6)
    }
    assert all(r.hamming == 0 for r in capped)
    # legacy (no pre-cluster): saturated chunks → zero pairs under the
    # cap; all 15 without it
    legacy = simhash_pairs(
        _docs(spark, rows), max_bucket_size=5, precluster_exact=False
    ).collect()
    assert legacy == []
    full = simhash_pairs(
        _docs(spark, rows), max_bucket_size=None, precluster_exact=False
    ).collect()
    assert len(full) == 15


def test_simhash_small_bit_widths(spark):
    # bits < 64 regression (round-4 ADVICE, medium): empty_sig's signed
    # fold used to subtract 2^64 unconditionally, which underflows int64
    # for any bits < 64 and crashed every batch with OverflowError.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "s"),
        (2, "alpha beta gamma delta epsilon eta", "s"),
        (3, "", "s"),  # empty doc exercises the empty_sig path itself
        (4, "alpha beta gamma delta epsilon zeta", "s"),  # exact dup of 1
    ]
    for bits in (16, 32, 64):
        # must run to completion (the old fold raised OverflowError on
        # every batch for bits < 64) and keep exact-dup connectivity
        got = simhash_pairs(
            _docs(spark, rows), bits=bits, chunks=4, max_hamming=3
        ).collect()
        pairs = {(r.doc_id_a, r.doc_id_b) for r in got}
        assert (1, 4) in pairs, bits  # star edge from the pre-cluster
        for r in got:
            assert 0 <= r.hamming <= 3, (bits, r)
    # wider-distance check: at every width the near-identical pair is
    # within hamming <= bits (sanity that signatures are real, not the
    # empty_sig constant)
    from lookup_transform_spark.operators.dedup import (
        simhash_signature_text_pandas,
    )

    for bits in (16, 32):
        sigs = {
            r["doc_id"]: r["s"]
            for r in _docs(spark, rows)
            .select(
                "doc_id",
                simhash_signature_text_pandas("text", bits=bits).alias("s"),
            )
            .collect()
        }
        assert sigs[1] == sigs[4]  # identical text → identical signature
        # signatures stay within the declared bit width
        assert all(0 <= s < (1 << bits) for s in sigs.values()), (bits, sigs)
        # empty_sig itself (computed at the top of EVERY batch — the
        # expression that raised OverflowError for bits < 64) folds to
        # the all-bits-set value for the width
        _s = (1 << bits) - 1
        expected = _s - (1 << 64) if _s >= (1 << 63) else _s
        assert isinstance(expected, int)  # fold expressible ⇒ no overflow


def test_ragged_chunks_bounds_elements_not_rows():
    # memory-bounded chunking (round-4 ADVICE, low): chunk by cumulative
    # flattened element count so a batch of long docs can't blow up the
    # (hashes x elements) matrix
    import numpy as np

    from lookup_transform_spark.operators.dedup import _ragged_chunks

    lens = np.array([50, 60, 200, 10, 10, 10], dtype=np.int64)
    chunks = list(_ragged_chunks(lens, max_elems=100, max_rows=100))
    # contiguous full cover
    assert chunks[0][0] == 0 and chunks[-1][1] == len(lens)
    assert all(a[1] == b[0] for a, b in zip(chunks, chunks[1:]))
    for lo, hi in chunks:
        # within budget, unless it's a single oversized row
        assert lens[lo:hi].sum() <= 100 or hi - lo == 1
    # the 200-element row sits alone in its chunk
    assert (2, 3) in chunks
    # max_rows still caps pathological many-tiny-row batches
    tiny = np.ones(10, dtype=np.int64)
    capped = list(_ragged_chunks(tiny, max_elems=1000, max_rows=4))
    assert [hi - lo for lo, hi in capped] == [4, 4, 2]


def test_substring_spans_semantics(spark):
    from lookup_transform_spark.operators.dedup import substring_spans

    boiler = "x" * 20 + "THIS EXACT BOILERPLATE SPAN REPEATS!" + "y" * 20
    rows = [
        (1, boiler + " unique tail alpha", "s"),
        (2, "different head " + boiler, "s"),
        (3, "entirely unrelated text with no repeats at all here", "s"),
        (4, "tiny", "s"),  # shorter than span_len: must not error
    ]
    out = substring_spans(
        _docs(spark, rows), span_len=20, stride=1, min_docs=2
    ).collect()
    assert out, "shared boilerplate must surface"
    # every reported span is in >= 2 docs; doc 3/4 contribute none
    assert all(r["n_docs"] >= 2 for r in out)
    solo = substring_spans(
        _docs(spark, rows[2:]), span_len=20, stride=1, min_docs=2
    ).collect()
    assert solo == []
    # a span shared by k docs is ONE aggregate group (no pair blowup):
    # output rows are bounded by distinct spans, not doc pairs
    many = [(i, boiler, "s") for i in range(50)]
    spans = substring_spans(
        _docs(spark, many), span_len=20, stride=1, min_docs=2
    ).collect()
    assert all(r["n_docs"] == 50 for r in spans)
    assert len(spans) == len(boiler) - 20 + 1


def test_substring_dup_rate_bounds(spark):
    from lookup_transform_spark.operators.dedup import substring_dup_rate

    boiler = "x" * 20 + "THIS EXACT BOILERPLATE SPAN REPEATS!" + "y" * 20
    rows = [
        (1, boiler, "s"),
        (2, boiler, "s"),
        (3, "entirely unrelated text with no repeats at all here", "s"),
    ]
    got = {
        r["doc_id"]: r
        for r in substring_dup_rate(
            _docs(spark, rows), span_len=20, stride=1, min_docs=2
        ).collect()
    }
    # identical docs: every window duplicated; unique doc: none
    assert got[1]["dup_rate"] == 1.0 and got[2]["dup_rate"] == 1.0
    assert got[3]["dup_rate"] == 0.0 and got[3]["n_dup_windows"] == 0
    for r in got.values():
        assert 0.0 <= r["dup_rate"] <= 1.0
        assert r["n_dup_windows"] <= r["n_windows"]


def test_minhash_recall_vs_exact_jaccard_ground_truth(spark):
    """End-to-end near-dup quality pin: banding + verify must recover
    the exact n-gram-Jaccard pair set (threshold 0.5) on the fixture.
    The exact-verify stage guarantees precision (no spurious pairs);
    this pins RECALL — that banding doesn't silently drop true pairs.
    Measured 25/25 at sf0.01; floor at 0.9 since banding is
    probabilistic in general. The truth comes from Python string
    shingle sets, not ``ngram_jaccard_pairs``, which shares
    ``with_shingle_hashes`` with the code under test."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = [(r["doc_id"], r["text"], None) for r in docs.collect()]
    truth = set(_py_pairs(rows, "jaccard", 0.5))
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=8, threshold=0.5
        ).collect()
    }
    assert truth, "fixture should contain true near-dup pairs"
    assert not (got - truth), f"spurious pairs: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"minhash recall regressed: {recall:.3f}"


def test_simhash_pigeonhole_is_complete_vs_brute_force(spark):
    """Pigeonhole blocking is lossless by construction for
    hamming <= max_hamming < chunks: a pair within distance 3 must agree
    on at least one of the 4 signature chunks. Pin the whole pipeline
    (the registry's md5 token hashes) against the brute-force cross-join
    ground truth on the same signatures — no missing, no extra pairs.
    (Exact set equality holds because this fixture has no exact-duplicate
    text group of size >= 3; such groups would legitimately return as
    star edges rather than cliques, preserving connected components but
    not the raw pair set.)"""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        simhash_signature_text_pandas,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = docs.select(
        F.col("doc_id").alias("id"),
        simhash_signature_text_pandas("text").alias("s"),
    )
    truth = {
        (r["ida"], r["idb"])
        for r in sig.selectExpr("id AS ida", "s AS sa")
        .crossJoin(sig.selectExpr("id AS idb", "s AS sb"))
        .filter("ida < idb")
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert truth and got == truth, (
        f"missing={len(truth - got)} extra={len(got - truth)}"
    )


def test_incremental_minhash_matches_in_plan(spark):
    """The at-rest LSH probe must accept exactly the new docs the
    in-plan batch-vs-standing near-dup computation would accept: the
    index stores the SAME banding and shingle sets (shared expression
    helpers), so candidates and verification agree bit-for-bit."""
    import tempfile

    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        incremental_minhash_probe,
        minhash_lsh_pairs,
        write_lsh_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8)
    new = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8)

    with tempfile.TemporaryDirectory() as d:
        spark.sql("DROP TABLE IF EXISTS lshidx_test_bands")
        spark.sql("DROP TABLE IF EXISTS lshidx_test_docs")
        write_lsh_index(spark, standing, "lshidx_test", d)
        got = {
            r["doc_id"]
            for r in incremental_minhash_probe(
                spark, new, "lshidx_test"
            ).collect()
        }
        spark.sql("DROP TABLE IF EXISTS lshidx_test_bands")
        spark.sql("DROP TABLE IF EXISTS lshidx_test_docs")

    # in-plan reference: near-dup pairs over the UNION, restricted to
    # (new, standing) cross pairs — a new doc with any such pair is a
    # duplicate. precluster off: the probe has no cross-batch exact
    # pre-clustering, and identical texts collide in every band anyway.
    pairs = minhash_lsh_pairs(docs, precluster_exact=False).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    standing_ids = {r["doc_id"] for r in standing.select("doc_id").collect()}
    dup_new = set()
    for r in pairs:
        a, b = r["doc_id_a"], r["doc_id_b"]
        if a in new_ids and b in standing_ids:
            dup_new.add(a)
        elif b in new_ids and a in standing_ids:
            dup_new.add(b)
    assert got == new_ids - dup_new
    assert dup_new, "fixture should reject at least one near-dup"


def test_lsh_append_then_probe_equals_reband(spark):
    """Continuous near-dup ingest loop (VERDICT r5 #2): probe batch B
    against the standing index, append B's survivors, probe batch C —
    acceptance must be IDENTICAL to probing C against an index re-banded
    from scratch over standing + B's survivors. A planted near-copy of a
    B survivor in C proves the appended rows are live in the probe."""
    import tempfile

    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        append_to_lsh_index,
        incremental_minhash_probe,
        write_lsh_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs = docs.select("doc_id", "text")
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 6)
    batch_b = docs.filter(F.pmod("doc_id", F.lit(10)).isin(6, 7))
    batch_c = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8)

    def probe_ids(new_df, prefix):
        return {
            r["doc_id"]
            for r in incremental_minhash_probe(spark, new_df, prefix).collect()
        }

    for t in ("lsha_bands", "lsha_docs", "lshb_bands", "lshb_docs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    with tempfile.TemporaryDirectory() as d:
        # ingest path: index(standing) -> probe B -> append survivors
        write_lsh_index(spark, standing, "lsha", f"{d}/a")
        acc_b = probe_ids(batch_b, "lsha")
        survivors_b = batch_b.filter(F.col("doc_id").isin(list(acc_b)))
        append_to_lsh_index(spark, survivors_b, "lsha")

        # plant a near-copy of one B survivor into batch C: it can only
        # be rejected if the appended rows participate in the probe
        some_b = survivors_b.orderBy("doc_id").limit(1).collect()[0]
        planted_id = 77_000_001
        planted = spark.createDataFrame(
            [(planted_id, some_b["text"] + " x")], "doc_id long, text string"
        )
        batch_c2 = batch_c.unionByName(planted)

        acc_c = probe_ids(batch_c2, "lsha")
        assert planted_id not in acc_c, (
            "planted near-copy of an appended survivor was accepted — "
            "append is not live in the probe"
        )

        # reference path: re-band from scratch over standing + survivors
        write_lsh_index(
            spark, standing.unionByName(survivors_b), "lshb", f"{d}/b"
        )
        acc_c_ref = probe_ids(batch_c2, "lshb")
        assert acc_c == acc_c_ref
    for t in ("lsha_bands", "lsha_docs", "lshb_bands", "lshb_docs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simhash_md5_family_matches_duckdb_bit_for_bit(spark):
    """The md5 hash family (``_md5_token_hash``) exists so an external
    ANSI-SQL engine can recompute the simhash signature independently —
    that is what lets ``dedup_simhash`` carry a value-exact DuckDB
    oracle instead of a rows-only check. Pin the signature itself
    bit-for-bit (not just the pair set): Spark's
    conv(substr(md5,1,16),16,10) + vectorized majority vote must equal
    DuckDB's ('0x'||substr(md5,1,16))::UBIGINT + per-bit vote SQL."""
    import duckdb
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        simhash_signature_text_pandas,
    )

    path = "/root/testdata/sf0.001/documents.parquet"
    # append a NULL text and an empty text: both engines must agree on
    # the degenerate rows too (engine: all-ones empty_sig; oracle: the
    # coalesce'd vote terms — 2·0 >= 0 — set every bit)
    extra = spark.createDataFrame(
        [(10_000_001, None), (10_000_002, "")], "doc_id long, text string"
    )
    docs = spark.read.parquet(path).select("doc_id", "text").unionByName(extra)
    got = {
        r["doc_id"]: r["sig"] & ((1 << 64) - 1)
        for r in docs.select(
            "doc_id",
            simhash_signature_text_pandas("text").alias("sig"),
        ).collect()
    }

    # the same vote SQL the registry oracle generates (coalesce: an
    # empty list_sum is NULL in DuckDB and must count as zero ones)
    bitsum = " + ".join(
        f"(CASE WHEN 2*coalesce(list_sum(list_transform(hs, h -> ((h >> {j}) & 1)::BIGINT)), 0)"
        f" >= len(hs) THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    con = duckdb.connect()
    want = dict(
        con.sql(
            rf"""WITH raw AS (
      SELECT doc_id, text FROM '{path}'
      UNION ALL VALUES (10000001, NULL), (10000002, '')),
    d AS (
      SELECT doc_id, coalesce(list_transform(
        list_distinct(string_split_regex(lower(text), '\s+')),
        t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT), []) AS hs
      FROM raw)
    SELECT doc_id, ({bitsum}) AS sig FROM d"""
        ).fetchall()
    )
    assert len(got) == len(want) and got.keys() == want.keys()
    mismatched = [k for k in got if got[k] != int(want[k])]
    assert not mismatched, f"{len(mismatched)} signature mismatches: {mismatched[:5]}"


def test_simhash_pairs_md5_pigeonhole_complete(spark):
    """Pigeonhole completeness on the md5 signatures must hold for any
    chunking, not only the default 4 chunks / distance 3: with 8 chunks
    of 8 bits, simhash_pairs(max_hamming=5) equals the brute-force
    hamming <= 5 cross-join on the same signatures."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        simhash_signature_text_pandas,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = docs.select(
        F.col("doc_id").alias("id"),
        simhash_signature_text_pandas("text").alias("s"),
    )
    truth = {
        (r["ida"], r["idb"])
        for r in sig.selectExpr("id AS ida", "s AS sa")
        .crossJoin(sig.selectExpr("id AS idb", "s AS sb"))
        .filter("ida < idb")
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 5)
        .collect()
    }
    got = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in simhash_pairs(
            docs, max_hamming=5, chunks=8, max_bucket_size=None
        ).collect()
    }
    assert truth and got == truth, (
        f"missing={len(truth - got)} extra={len(got - truth)}"
    )


def test_lsh_compaction_generation_swap_and_catalog_recovery(spark, tmp_path):
    """r8 review hardening of compact_lsh_index, pinned end-to-end:
    (a) compaction dedupes a retry-inflated index back to exactly-once
    row counts via a GENERATION SWAP (the live table is never truncated
    in place — its location moves to a complete __gN sibling);
    (b) debris at the next generation location from a crashed attempt
    must not wedge the retry (CTAS refuses non-empty locations);
    (c) after a catalog loss (fresh session), lsh_index_ready resolves
    the newest committed generation structurally and re-attaches the
    bucketed DDL, and the probe returns identical results."""
    import os

    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        append_to_lsh_index,
        compact_lsh_index,
        incremental_minhash_probe,
        lsh_index_ready,
        write_lsh_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8).limit(400)
    new = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8).limit(100)
    prefix = "lshgen_test"
    path = str(tmp_path / "lshgen")

    for t in (f"{prefix}_bands", f"{prefix}_docs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        write_lsh_index(spark, standing, prefix, path)
        want_probe = {
            r["doc_id"]
            for r in incremental_minhash_probe(spark, new, prefix).collect()
        }
        clean_counts = (
            spark.table(f"{prefix}_bands").count(),
            spark.table(f"{prefix}_docs").count(),
        )
        # simulate an at-least-once redelivery: the same append twice
        append_to_lsh_index(spark, standing.limit(50), prefix)
        append_to_lsh_index(spark, standing.limit(50), prefix)

        compact_lsh_index(spark, prefix)
        after_counts = (
            spark.table(f"{prefix}_bands").count(),
            spark.table(f"{prefix}_docs").count(),
        )
        assert after_counts == clean_counts  # duplicates gone
        # the swap moved the tables off the original location
        assert not os.path.exists(os.path.join(path, "bands", "_SUCCESS"))
        assert os.path.exists(os.path.join(path, "bands__g1", "_SUCCESS"))

        # (b) crashed-attempt debris at the NEXT generation must not
        # wedge the retry
        os.makedirs(os.path.join(path, "bands__g2"), exist_ok=True)
        with open(os.path.join(path, "bands__g2", "junk.parquet"), "wb") as fh:
            fh.write(b"partial")
        compact_lsh_index(spark, prefix)  # must not raise
        assert (
            spark.table(f"{prefix}_bands").count(),
            spark.table(f"{prefix}_docs").count(),
        ) == clean_counts

        # (c) fresh-session catalog loss: re-attach via generation
        # resolution, probe results identical
        for t in (f"{prefix}_bands", f"{prefix}_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        assert lsh_index_ready(spark, prefix, path)
        got_probe = {
            r["doc_id"]
            for r in incremental_minhash_probe(spark, new, prefix).collect()
        }
        assert got_probe == want_probe
    finally:
        for t in (f"{prefix}_bands", f"{prefix}_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lsh_compaction_quotes_location_path(spark, tmp_path):
    """An index under a path carrying a quote must reach the swap's
    ``SET LOCATION`` as an escaped string literal: unquoted, the ALTER
    failed to parse after the ``__g1`` copy was already written."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        append_to_lsh_index,
        compact_lsh_index,
        write_lsh_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8).limit(100)
    prefix = "lshquote_test"
    path = str(tmp_path / "it's_lsh")
    for t in (f"{prefix}_bands", f"{prefix}_docs"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        write_lsh_index(spark, standing, prefix, path)
        clean = spark.table(f"{prefix}_docs").count()
        append_to_lsh_index(spark, standing.limit(20), prefix)
        compact_lsh_index(spark, prefix)
        assert spark.table(f"{prefix}_docs").count() == clean
    finally:
        for t in (f"{prefix}_bands", f"{prefix}_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_exact_deterministic_on_tiebreak_ties(spark):
    """r8 review: rows TIED on the tiebreak resolved to whichever row a
    task scanned first (min_by keeps an arbitrary tied row) — the
    survivor must be deterministic across partitionings, and all its
    fields must come from ONE row, never a column-wise mix."""
    from lookup_transform_spark.operators.dedup import dedup_exact

    rows = [
        (1, 10, "b", 2.0),
        (1, 10, "a", 9.0),   # tied on (key=1, tiebreak=10)
        (1, 20, "z", 0.0),
        (2, 5, "q", 1.0),
    ]
    for nparts in (1, 4):
        df = spark.createDataFrame(
            rows, "k long, tb long, s string, v double"
        ).repartition(nparts)
        got = sorted(
            tuple(r) for r in dedup_exact(df, ["k"], "tb").collect()
        )
        # min tiebreak first, ties broken by the remaining columns
        # lexicographically -> ('a', 9.0) wins ATOMICALLY
        assert got == [(1, 10, "a", 9.0), (2, 5, "q", 1.0)]


def test_dedup_exact_tiebreak_inside_key_cols(spark):
    from lookup_transform_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, "x"), (1, "a"), (2, "y")], "k long, s string"
    )
    got = sorted(tuple(r) for r in dedup_exact(df, ["k"], "k").collect())
    assert got == [(1, "a"), (2, "y")]


def test_dedup_exact_null_tiebreak_loses(spark):
    """r8 review: struct ordering sorts a NULL field BEFORE any value,
    so the packed-struct min let a NULL tiebreak beat every real one —
    inverting min_by semantics (which skips NULL ordering values) and
    the DuckDB oracle's NULLS-LAST ROW_NUMBER. A NULL tiebreak must
    lose to any non-NULL one; an all-NULL group still resolves
    deterministically on the payload."""
    from lookup_transform_spark.operators.dedup import dedup_exact

    rows = [
        (1, None, "null-tb", 1.0),
        (1, 7, "real-tb", 2.0),
        (2, None, "b", 1.0),
        (2, None, "a", 2.0),  # all-NULL group: payload breaks the tie
    ]
    for nparts in (1, 4):
        df = spark.createDataFrame(
            rows, "k long, tb long, s string, v double"
        ).repartition(nparts)
        got = sorted(
            tuple(r) for r in dedup_exact(df, ["k"], "tb").collect()
        )
        assert got == [(1, 7, "real-tb", 2.0), (2, None, "a", 2.0)]


def test_dedup_exact_minby_fallback_tiebreak_in_key_cols(spark):
    """r8 review: the non-orderable-payload fallback re-aggregated a
    tiebreak that was already a grouping column, emitting it twice and
    dying on the ambiguous reference downstream."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, 3, "a"), (1, 3, "b"), (2, 4, "c")], "k long, tb long, s string"
    ).withColumn("m", F.create_map(F.col("s"), F.col("tb")))
    got = dedup_exact(df, ["k", "tb"], "tb").collect()
    assert sorted((r["k"], r["tb"]) for r in got) == [(1, 3), (2, 4)]
    assert set(df.columns) == set(got[0].asDict().keys())


def test_null_text_docs_never_pair(spark):
    """r8 review: xxhash64 SKIPS null inputs (returns the seed), so the
    exact-dup precluster collapsed every NULL-text doc into one group
    and emitted unverified jaccard=1.0 / hamming=0 star edges between
    them. NULL-text docs must produce no pairs on any path, consistent
    with the verify stage's null-Jaccard behavior."""
    from lookup_transform_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "a real document here"),
         (4, "a real document here")],
        "doc_id long, text string",
    )
    mh = minhash_lsh_pairs(docs, threshold=0.5).collect()
    assert sorted((r["doc_id_a"], r["doc_id_b"]) for r in mh) == [(3, 4)]
    sh = simhash_pairs(docs, max_hamming=3).collect()
    assert sorted((r["doc_id_a"], r["doc_id_b"]) for r in sh) == [(3, 4)]


def test_dedup_exact_fallback_all_null_tiebreak_returns_real_row(spark):
    """r8 review: min/min_by skip NULL ordering values, so the
    non-orderable fallback fabricated a keys+all-NULL row for a group
    whose tiebreak is entirely NULL. Some real row must win instead
    (struct ordering key: the struct is non-null even when its fields
    are)."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import dedup_exact

    df = spark.createDataFrame(
        [(1, None, "x"), (1, None, "y"), (2, 5, "z")],
        "k long, tb long, s string",
    ).withColumn("m", F.create_map(F.col("s"), F.lit(1)))
    got = {r["k"]: r for r in dedup_exact(df, ["k"], "tb").collect()}
    assert got[1]["s"] in ("x", "y")  # a REAL row, not fabricated NULLs
    assert got[1]["m"] is not None
    assert got[2]["s"] == "z" and got[2]["tb"] == 5


def test_simhash_single_chunk_full_width(spark):
    """r8 review: chunks=1 with bits=64 built the literal (1<<64)-1,
    which exceeds Long.MaxValue and crashed lit() — yet it is a legal
    exact-signature-match configuration (max_hamming=0 < chunks=1)."""
    from lookup_transform_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame(
        [(1, "same text exactly"), (2, "same text exactly"),
         (3, "totally different words")],
        "doc_id long, text string",
    )
    got = simhash_pairs(
        docs, max_hamming=0, chunks=1, precluster_exact=False
    ).collect()
    assert sorted((r["doc_id_a"], r["doc_id_b"], r["hamming"]) for r in got) \
        == [(1, 2, 0)]


def test_lsh_banding_validated(spark):
    """r8 review: bands > num_hashes silently hashed an EMPTY element
    list per band (all docs in one bucket -> size cap drops everything
    -> zero near-dup pairs reported with no error); non-dividing counts
    silently ignored trailing signature elements."""
    import pytest

    from lookup_transform_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_hashes=32, bands=64)
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_hashes=32, bands=10)
