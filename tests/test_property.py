"""Property-based tests (hypothesis): LookupSpec.apply must agree with a
pure-Python nested-loop reference join on arbitrary small datasets —
including null keys, duplicate keys, and empty sides. This covers the
semantic fine print (SURVEY §2.1) over the whole input space instead of
hand-picked fixtures.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from lookup_transform_spark import LookupSpec

KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
VALS = st.text(alphabet="abc", max_size=2)

INPUT_ROWS = st.lists(st.tuples(KEYS, VALS), max_size=8)
LOOKUP_ROWS = st.lists(st.tuples(KEYS, VALS), max_size=8)

INPUT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType(), True),
        T.StructField("payload", T.StringType(), False),
    ]
)
LOOKUP_SCHEMA = T.StructType(
    [
        T.StructField("lk", T.IntegerType(), True),
        T.StructField("v", T.StringType(), False),
    ]
)

SPEC = LookupSpec("lkp", "k", "lk", "v", "out")


def reference_join(input_rows, lookup_rows, null_safe=False, how="left"):
    """The reference semantics in 20 lines of Python: left-outer,
    null-unsafe equality, duplicate keys multiply."""
    out = []
    for k, payload in input_rows:
        matches = [
            v
            for lk, v in lookup_rows
            if (k is not None and lk == k)
            or (null_safe and k is None and lk is None)
        ]
        if matches:
            out.extend((k, payload, m) for m in matches)
        elif how == "left":
            out.append((k, payload, None))
    return sorted(out, key=repr)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(input_rows=INPUT_ROWS, lookup_rows=LOOKUP_ROWS)
def test_lookup_matches_reference(spark, input_rows, lookup_rows):
    inp = spark.createDataFrame(input_rows, INPUT_SCHEMA)
    lkp = spark.createDataFrame(lookup_rows, LOOKUP_SCHEMA)
    got = sorted((tuple(r) for r in SPEC.apply(inp, lkp).collect()), key=repr)
    assert got == reference_join(input_rows, lookup_rows)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(input_rows=INPUT_ROWS, lookup_rows=LOOKUP_ROWS)
def test_lookup_null_safe_matches_reference(spark, input_rows, lookup_rows):
    import dataclasses

    spec = dataclasses.replace(SPEC, null_safe=True)
    inp = spark.createDataFrame(input_rows, INPUT_SCHEMA)
    lkp = spark.createDataFrame(lookup_rows, LOOKUP_SCHEMA)
    got = sorted((tuple(r) for r in spec.apply(inp, lkp).collect()), key=repr)
    assert got == reference_join(input_rows, lookup_rows, null_safe=True)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(input_rows=INPUT_ROWS, lookup_rows=LOOKUP_ROWS)
def test_lookup_inner_matches_reference(spark, input_rows, lookup_rows):
    import dataclasses

    spec = dataclasses.replace(SPEC, how="inner")
    inp = spark.createDataFrame(input_rows, INPUT_SCHEMA)
    lkp = spark.createDataFrame(lookup_rows, LOOKUP_SCHEMA)
    got = sorted((tuple(r) for r in spec.apply(inp, lkp).collect()), key=repr)
    assert got == reference_join(input_rows, lookup_rows, how="inner")


# ---- as-of join vs pure-Python reference -----------------------------------

ASOF_LEFT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)), min_size=0, max_size=10
)
ASOF_RIGHT = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 9)),
    min_size=0,
    max_size=10,
)


def reference_asof(left_rows, right_rows):
    """For each left (key, ts): value of the right row with the greatest
    right_ts <= ts in the same key group; ties on right_ts broken toward
    the later-sorted (value) for determinism parity with the union-sort
    (last-within-frame) formulation."""
    out = []
    for i, (k, ts) in enumerate(left_rows):
        cands = [(rts, v) for rk, rts, v in right_rows if rk == k and rts <= ts]
        if cands:
            best = max(cands, key=lambda c: (c[0], c[1]))
            out.append((i, k, ts, best[1]))
        else:
            out.append((i, k, ts, None))
    return sorted(out, key=repr)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left_rows=ASOF_LEFT, right_rows=ASOF_RIGHT)
def test_asof_matches_reference(spark, left_rows, right_rows):
    from lookup_transform_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(i, k, ts) for i, (k, ts) in enumerate(left_rows)],
        "row_id long, k long, ts long",
    )
    right = spark.createDataFrame(
        [(k, ts, v) for k, ts, v in right_rows], "k long, ts long, v long"
    )
    # duplicate (k, ts) right rows left in place: the struct-ordering
    # tiebreak must pick the max value, matching the reference's tie rule
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts", value_fields=["v"]
    )
    got = sorted(
        ((r.row_id, r.k, r.ts, r.v) for r in out.collect()), key=repr
    )
    assert got == reference_asof(left_rows, right_rows)


def test_grouped_median_vectorized_equals_builtin(spark):
    """The partition-vectorized formulation (repartition-on-key +
    per-partition pandas groupby — the registered `udaf_median` path)
    must agree with F.median on every group, including groups that span
    multiple Arrow batches within a partition (the concat step), and
    must be invariant to the partition count."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.functions.udfs import grouped_median_vectorized

    rows = [
        (g, float((v * 17) % 23))
        for g in range(7)
        for v in range((g * 13) % 9 + 1)
    ]
    df = spark.createDataFrame(rows, "g long, value double")
    builtin = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(F.median("value").alias("m")).collect()
    }
    for nparts in (None, 1, 5):
        got = {
            r["g"]: r["median_value"]
            for r in grouped_median_vectorized(
                df, ["g"], "value", num_partitions=nparts
            ).collect()
        }
        assert got == builtin, f"num_partitions={nparts}"


def test_grouped_median_vectorized_null_group_key(spark):
    """A null group KEY must form its own group (Spark groupBy
    semantics) — pandas' groupby default silently drops it, which the
    operator must override (dropna=False)."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.functions.udfs import grouped_median_vectorized

    df = spark.createDataFrame(
        [(None, 1.0), (None, 3.0), (1, 10.0), (1, 20.0)],
        "g int, value double",
    )
    builtin = {
        r["g"]: r["m"]
        for r in df.groupBy("g").agg(F.median("value").alias("m")).collect()
    }
    got = {
        r["g"]: r["median_value"]
        for r in grouped_median_vectorized(df, ["g"], "value").collect()
    }
    assert got == builtin == {None: 2.0, 1: 15.0}


def test_text_metric_bounds_on_adversarial_strings(spark):
    """Quality/punct metrics stay in [0,1] and lang_id stays in its
    domain for adversarial inputs: empty, whitespace-only, punctuation
    storms, unicode, single chars, very long tokens."""
    import random

    from pyspark.sql import functions as F

    from lookup_transform_spark.operators import text as TX

    rng = random.Random(7)
    alphabet = "ab .,!?'\"()-\t\nñ中é0"
    rows = [("",), (" ",), ("\t\n ",), ("...!!!???",), ("a" * 500,)]
    rows += [
        ("".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 60))),)
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        TX.quality_score("text").alias("q"),
        F.round(TX.punct_ratio("text"), 6).alias("p"),
        TX.lang_id("text").alias("lang"),
        TX.token_count("text").alias("n"),
    ).collect()
    for r in out:
        assert 0.0 <= r["q"] <= 1.0
        assert 0.0 <= r["p"] <= 1.0
        assert r["lang"] in {"en", "es", "de", "fr", "und"}
        assert r["n"] >= 0
    # NULL text: ratio is NULL like the other stats (r8 review — the
    # old otherwise(0.0) caught the NULL condition and reported a
    # definite-zero ratio for missing input); empty text stays 0.0
    nulls = spark.createDataFrame([(None,), ("",)], "text string").select(
        F.round(TX.punct_ratio("text"), 6).alias("p")
    ).collect()
    assert {r["p"] for r in nulls} == {None, 0.0}


def test_hll_sketch_rollup_tolerance(spark):
    """Merged-sketch estimates must stay within HLL's published error
    envelope of the exact distinct count (5% is ~3 sigma at the default
    lgConfigK=12), and the mergeable rollup must count every leaf row."""
    from pyspark.sql import functions as F

    from lookup_transform_spark import registry

    sf = "/root/testdata/sf0.01"
    got = {
        r.source: r
        for r in registry.QUERIES["sketch_hll_rollup"](spark, sf).collect()
    }
    exact = {
        r.source: (r.nd, r.n)
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for s, (nd, n) in exact.items():
        assert got[s].n_rows == n
        assert abs(got[s].approx_docs - nd) <= max(1, 0.05 * nd), (
            s,
            got[s].approx_docs,
            nd,
        )


def test_weighted_topk_sample_contracts(spark):
    """r9 A-ES sampler: exact size, weight bias, partitioning
    invariance, and the NULL/non-positive-weight exclusion rule."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sampling import (
        weighted_topk_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 900, 1.0).otherwise(100.0).alias("w"),
    )
    got = weighted_topk_sample(df, "k", "w", k=50)
    rows = got.collect()
    assert len(rows) == 50  # exact size
    # the 100 heavy rows (10% of ids, ~92% of mass) dominate the sample
    heavy = sum(1 for r in rows if r["k"] >= 900)
    assert heavy > 25
    # deterministic under repartitioning (scores are pure row functions,
    # TakeOrdered is order-stable with the key tiebreak)
    again = weighted_topk_sample(df.repartition(13), "k", "w", k=50)
    assert sorted(r["k"] for r in rows) == sorted(
        r["k"] for r in again.collect()
    )
    # NULL / zero / negative weights are excluded, never sampled
    dirty = spark.createDataFrame(
        [(1, None), (2, 0.0), (3, -5.0), (4, 2.0), (5, 1.0)],
        "k long, w double",
    )
    kept = sorted(
        r["k"] for r in weighted_topk_sample(dirty, "k", "w", k=10).collect()
    )
    assert kept == [4, 5]
