"""Bloom-prefiltered semi join guarantees (operators/bloomjoin.py):

1. Exactness: bloom_semi_join == plain left_semi join, bit-identical
   (false positives removed by the closing exact join; false negatives
   impossible).
2. The prefilter actually filters: survivors ≈ true matches, with a
   false-positive rate far under the sizing bound.
3. The tree merge produces the same filter as a single-partition build.
4. The registered query matches its oracle shape end-to-end (covered by
   the parity matrix; here just run it).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lookup_transform_spark.operators.bloomjoin import (
    bloom_might_contain,
    bloom_semi_join,
    build_bloom,
)


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 150000.0
    ).select("o_orderkey")
    return li, o


def test_bloom_semi_join_exact(tables):
    li, o = tables
    got = bloom_semi_join(li, o, "l_orderkey", "o_orderkey")
    want = li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_semi")
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) > 0


def test_prefilter_rate(tables, spark):
    li, o = tables
    bloom = build_bloom(o, "o_orderkey")
    survivors = li.filter(
        bloom_might_contain(li, "l_orderkey", bloom)
    ).count()
    true_matches = li.join(
        o, li["l_orderkey"] == o["o_orderkey"], "left_semi"
    ).count()
    total = li.count()
    assert survivors >= true_matches  # no false negatives
    non_matches = total - true_matches
    fp = survivors - true_matches
    # m=2^23, k=5, n≈a few hundred keys → fp rate ≪ 1e-3
    assert fp <= max(5, 0.001 * non_matches)


def test_tree_merge_equals_flat_build(tables):
    _, o = tables
    wide = build_bloom(o.repartition(13), "o_orderkey")
    flat = build_bloom(o.coalesce(1), "o_orderkey")
    assert wide == flat


def test_registered_query_runs(spark, sf_dir):
    from lookup_transform_spark import registry

    rows = registry.QUERIES["join_bloom_semi"](spark, sf_dir).collect()
    assert {r["l_returnflag"] for r in rows} <= {"A", "N", "R"}
    assert all(r["n_lines"] > 0 for r in rows)


def test_semi_join_auto_routes_by_key_side_estimate(spark):
    """r7 (VERDICT r6 #7): small key side -> plain broadcast semi join
    (no bloom probe in the plan); forced bloom -> the codegen bitmap
    probe is present (and NO Python stage — the whole bloom path is
    JVM-side); both paths return identical rows."""
    import io
    from contextlib import redirect_stdout

    from lookup_transform_spark.operators.bloomjoin import semi_join_auto

    fact = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_returnflag"
    )
    keys = (
        spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .filter("o_totalprice > 400000.0")
        .select("o_orderkey")
    )

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    def is_bloom_plan(p):
        # the codegen probe shows as xxhash64 + element_at in the
        # fact-side Filter; the plain path has neither
        return "xxhash64" in p and "element_at" in p

    auto = semi_join_auto(fact, keys, "l_orderkey", "o_orderkey")
    p_auto = plan_of(auto)
    assert "BroadcastHashJoin" in p_auto and "LeftSemi" in p_auto
    assert not is_bloom_plan(p_auto)

    forced = semi_join_auto(
        fact, keys, "l_orderkey", "o_orderkey", force="bloom"
    )
    p_bloom = plan_of(forced)
    assert is_bloom_plan(p_bloom)
    # the whole bloom path is JVM-side: no Python stage anywhere
    assert "ArrowEvalPython" not in p_bloom and "BatchEvalPython" not in p_bloom

    a = sorted(r["l_orderkey"] for r in auto.collect())
    b = sorted(r["l_orderkey"] for r in forced.collect())
    assert a == b and a

    # tiny broadcast budget forces the bloom route without `force`
    routed = semi_join_auto(
        fact, keys, "l_orderkey", "o_orderkey", broadcast_rows=1
    )
    assert is_bloom_plan(plan_of(routed))


def test_mismatched_integral_key_widths_never_false_negative(spark):
    """xxhash64 is type-sensitive (int32 and int64 of equal value hash
    differently), so the build/probe normalize integrals to long — a
    fact keyed int joined to bigint keys must return exactly the plain
    join's rows, never silently fewer (review r7 finding)."""
    fact = spark.createDataFrame(
        [(i,) for i in range(1, 200)], "k int"
    )
    keys = spark.createDataFrame(
        [(i,) for i in range(1, 200, 3)], "k2 long"
    )
    got = sorted(
        r["k"] for r in bloom_semi_join(fact, keys, "k", "k2").collect()
    )
    want = sorted(
        r["k"]
        for r in fact.join(keys, fact["k"] == keys["k2"], "left_semi").collect()
    )
    assert got == want and got

    # cross-FAMILY key pairs are refused loudly instead of returning
    # silently-wrong results
    skeys = spark.createDataFrame([("1",), ("2",)], "ks string")
    with pytest.raises(ValueError, match="hash-compatible"):
        bloom_semi_join(fact, skeys, "k", "ks")


def test_mismatched_decimal_scales_never_false_negative(spark):
    """xxhash64 of a decimal hashes the UNSCALED value, so decimal(10,2)
    1.50 and decimal(10,3) 1.500 — equal under equi-join coercion —
    would hash apart and silently drop true matches. Build/probe
    normalize decimals through double (r8, ADVICE): the bloom join must
    return exactly the plain join's rows."""
    fact = spark.createDataFrame(
        [(i,) for i in range(1, 200)], "k int"
    ).select((F.col("k") / 2).cast("decimal(10,2)").alias("k"))
    keys = spark.createDataFrame(
        [(i,) for i in range(1, 200, 3)], "k2 int"
    ).select((F.col("k2") / 2).cast("decimal(10,3)").alias("k2"))
    got = sorted(
        float(r["k"]) for r in bloom_semi_join(fact, keys, "k", "k2").collect()
    )
    want = sorted(
        float(r["k"])
        for r in fact.join(keys, fact["k"] == keys["k2"], "left_semi").collect()
    )
    assert got == want and got


def test_semi_join_auto_byte_gate_and_key_projection(spark):
    """The plain route must (a) trip to bloom when the projected key
    column exceeds the byte budget even if the row budget passes, and
    (b) broadcast ONLY the key column — a wide build relation must not
    appear in the exchange (r8, ADVICE)."""
    import io
    from contextlib import redirect_stdout

    from lookup_transform_spark.operators.bloomjoin import semi_join_auto

    fact = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_returnflag"
    )
    keys = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").filter(
        "o_totalprice > 400000.0"
    )  # deliberately wide: every orders column

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    auto = semi_join_auto(fact, keys, "l_orderkey", "o_orderkey")
    p = plan_of(auto)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # only the key column reaches the broadcast exchange: its child is a
    # single-column Project (the filter column stays below, in the scan)
    after = p.split("BroadcastExchange", 1)[-1]
    assert "Project [o_orderkey" in after
    assert "o_custkey" not in after  # payload columns pruned entirely

    # byte budget of ~1 row forces bloom even though rows pass
    routed = semi_join_auto(
        fact, keys, "l_orderkey", "o_orderkey", broadcast_bytes=32
    )
    pb = plan_of(routed)
    assert "xxhash64" in pb and "element_at" in pb


def test_semi_join_auto_unknown_string_width_refuses_broadcast(spark):
    """r8 review: a variable-width key with no column statistics has NO
    trustworthy byte estimate — a fixed per-key guess admits multi-GB
    wide-string relations into the broadcast route (the exact OOM the
    byte gate exists to prevent). With avgLen unavailable the router
    must take the bloom path regardless of row count."""
    from lookup_transform_spark.operators.bloomjoin import (
        _key_width,
        semi_join_auto,
    )

    fact = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "source")
    keys = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("source").distinct()
    # plain parquet reads carry no ANALYZE column stats → width unknown
    assert _key_width(keys, "source") is None
    routed = semi_join_auto(fact, keys, "source", "source")
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        routed.explain("simple")
    p = buf.getvalue()
    assert "xxhash64" in p and "element_at" in p  # bloom prefilter
    # results are exact either way: every fact row has a key-side match
    assert routed.count() == fact.count()
