"""Mergeable quantile sketch guarantees (operators/sketches.py):

1. Lossless merge: sketch(A ∪ B) == merge(sketch(A), sketch(B)) —
   exact map equality, the property GK/KLL-style rank sketches lack.
2. Quantile accuracy: every read quantile within the sqrt(BASE)
   relative bound of Spark's exact F.percentile (plus the `LO`
   absolute floor).
3. Bucket order == value order (negatives mirrored), so cumulative
   reads are correct across sign changes.
4. The registered rollup runs and emits one row per event_type.

The layered portable-HLL builders below (leaf sketch, per-bucket MAX
merge, estimate) are test references: the library's fused leaf build,
leaf estimate and single-query distinct count are pinned against them.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lookup_transform_spark.operators.sketches import (
    _hll_bucket_rank,
    bucket_value,
    log_bucket,
    qsketch,
    qsketch_merge,
    qsketch_quantiles,
)
from lookup_transform_spark.operators.sketches_oracle import (
    BASE,
    HLL_ALPHA,
    HLL_M,
    LO,
)


@pytest.fixture(scope="module")
def ev(spark, sf_dir):
    from lookup_transform_spark import registry

    return registry._events(spark, sf_dir).select(
        "event_type", (F.col("user_id") % 4).alias("shard"), "value"
    )


def hll_portable_sketch(
    df: DataFrame, group_cols: list[str], key_col: str
) -> DataFrame:
    """One sketch row per group: ``sketch map<int,int>`` (bucket → max
    rank over the group's keys) + ``n_rows``. NULL keys reach no
    register and don't count, but the group survives (the family's
    shared null contract)."""
    bucket, rank = _hll_bucket_rank(F.col(key_col))
    per_bucket = (
        df.select(
            *group_cols,
            F.when(F.col(key_col).isNotNull(), bucket).alias("__b__"),
            F.when(F.col(key_col).isNotNull(), rank).alias("__r__"),
            F.col(key_col).isNotNull().alias("__k__"),
        )
        .groupBy(*group_cols, "__b__")
        .agg(
            F.max("__r__").alias("__r__"),
            F.sum(F.col("__k__").cast("long")).alias("__n__"),
        )
    )
    return per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__b__").isNotNull(),
                        F.struct("__b__", "__r__"),
                    )
                )
            )
        ).alias("sketch"),
        F.sum("__n__").alias("n_rows"),
    )


def hll_portable_merge(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Roll leaf sketches up by per-bucket MAX — sketch rows only, and
    exactly what ``hll_portable_sketch`` would emit on the raw union
    (max is associative; pinned in tests).

    Leaves are ``localCheckpoint``-ed first — the same two-consumer
    shape as ``topk_merge`` (register rollup + n_rows totals), which
    would otherwise re-evaluate the whole leaf lineage twice; summary
    rows are O(groups·m) bounded at any input scale."""
    df = df.localCheckpoint()
    exploded = df.select(
        *group_cols, "n_rows",
        F.explode_outer("sketch").alias("__b__", "__r__"),
    )
    # n_rows repeats once per exploded entry of its leaf row — divide
    # back out by each leaf's entry count? No: aggregate n_rows from
    # the LEAF rows (one per leaf) separately to stay exact.
    totals = df.groupBy(*group_cols).agg(F.sum("n_rows").alias("n_rows"))
    per_bucket = (
        exploded.filter(F.col("__b__").isNotNull())
        .groupBy(*group_cols, "__b__")
        .agg(F.max("__r__").alias("__r__"))
    )
    rebuilt = per_bucket.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__b__", "__r__")))
        ).alias("sketch")
    )
    # left join FROM totals (which holds every group) keeps
    # all-empty-sketch groups alive with an empty map
    return totals.join(rebuilt, group_cols, "left").select(
        *group_cols,
        F.coalesce(
            "sketch", F.map_from_entries(F.array().cast("array<struct<__b__:int,__r__:int>>"))
        ).alias("sketch"),
        "n_rows",
    )


def hll_portable_estimate(
    df: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Distinct-count estimate per sketch row: classic HLL harmonic
    mean with the linear-counting small-range correction, 3-dp rounded
    (the cross-engine comparability trick — see module section
    comment). An EMPTY sketch estimates 0.0 via linear counting
    (V0 = m → m·ln(1) = 0)."""
    m = float(HLL_M)
    s_present = F.aggregate(
        F.map_values("sketch"),
        F.lit(0.0),
        lambda acc, r: acc + F.pow(F.lit(0.5), r.cast("double")),
    )
    present = F.size("sketch")
    s = s_present + (F.lit(m) - present.cast("double"))
    e_raw = F.lit(HLL_ALPHA * m * m) / s
    v0 = (F.lit(HLL_M) - present).cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v0 > 0),
        F.lit(m) * F.log(F.lit(m) / v0),
    ).otherwise(e_raw)
    return df.select(
        *group_cols,
        F.round(est, 3).alias("approx_distinct"),
        "n_rows",
    )


def _sketch_maps(df, keys):
    return {
        tuple(r[k] for k in keys): (dict(r["sketch"]), r["n_rows"])
        for r in df.collect()
    }


def test_merge_is_lossless(ev):
    direct = _sketch_maps(
        qsketch(ev, ["event_type"], "value"), ["event_type"]
    )
    merged = _sketch_maps(
        qsketch_merge(
            qsketch(ev, ["event_type", "shard"], "value"), ["event_type"]
        ),
        ["event_type"],
    )
    assert direct == merged  # exact: maps AND counts


def test_quantiles_within_relative_bound(ev, spark):
    got = {
        r["event_type"]: r
        for r in qsketch_quantiles(
            qsketch(ev, ["event_type"], "value"),
            ["event_type"],
            [0.5, 0.95],
        ).collect()
    }
    # the sketch reads the DISCRETE lower quantile (the ceil(p·n)-th
    # smallest element) — compare against that element, not the
    # interpolated percentile, since the sqrt(base) bound is a bound on
    # the selected VALUE
    by_type: dict[str, list[float]] = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    tol = math.sqrt(BASE)
    for k, vals in by_type.items():
        vals.sort()
        for p, col in ((0.5, "p50"), (0.95, "p95")):
            true = vals[math.ceil(p * len(vals)) - 1]
            est = got[k][col]
            if abs(true) <= LO:
                assert abs(est) <= LO * tol
            else:
                assert true / tol - LO <= est <= true * tol + LO, (
                    k, col, true, est,
                )


def test_bucket_order_matches_value_order(spark):
    vals = [-120.0, -0.5, -0.005, 0.0, 0.004, 0.3, 7.7, 560.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = (
        df.select(
            "v",
            log_bucket("v").alias("b"),
        )
        .orderBy("v")
        .collect()
    )
    buckets = [r["b"] for r in rows]
    assert buckets == sorted(buckets)
    # |v| <= lo collapses to bucket 0
    assert [r["b"] for r in rows if abs(r["v"]) <= LO] == [0, 0, 0]
    # representative value round-trips within the relative bound
    rep = df.select(
        "v", bucket_value(log_bucket("v")).alias("r")
    ).collect()
    for r in rep:
        if abs(r["v"]) > LO:
            assert (r["r"] < 0) == (r["v"] < 0)
            assert (
                abs(r["v"]) / math.sqrt(BASE)
                <= abs(r["r"])
                <= abs(r["v"]) * math.sqrt(BASE)
            )


def test_registered_rollup_runs(spark, sf_dir):
    from lookup_transform_spark import registry

    out = registry.QUERIES["sketch_quantile_rollup"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) >= 1
    assert {"event_type", "n_rows", "p50", "p95", "p99"} <= set(out.columns)
    for r in rows:
        assert r["p50"] <= r["p95"] <= r["p99"]


def test_null_values_dropped_groups_survive(spark):
    """Null VALUES must be dropped (the SQL-aggregate contract: nulls
    reach no bucket, don't count in n_rows, and never become a null map
    key that fails map_from_entries) — but the GROUP must survive, the
    way `SELECT g, percentile(v) ... GROUP BY g` emits (g, NULL) rather
    than deleting g. The empty sketch must also survive a rollup."""
    from lookup_transform_spark.operators.sketches import qsketch_merge

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 2.0), ("b", None)],
        "g string, v double",
    )
    leaf = qsketch(df, ["g"], "v")
    got = _sketch_maps(leaf, ["g"])
    assert got[("a",)][1] == 2  # n_rows counts only non-null values
    assert None not in got[("a",)][0]
    assert got[("b",)] == ({}, 0)  # all-null group: empty sketch, kept
    merged = _sketch_maps(qsketch_merge(leaf, ["g"]), ["g"])
    assert merged[("b",)] == ({}, 0)  # survives the rollup too
    assert merged[("a",)] == got[("a",)]
    qrows = {
        r["g"]: r for r in qsketch_quantiles(leaf, ["g"], [0.5]).collect()
    }
    assert set(qrows) == {"a", "b"}  # quantile read keeps the group...
    assert qrows["b"]["p50"] is None  # ...with NULL quantiles, like SQL
    assert qrows["a"]["p50"] is not None


def test_nonfinite_values_excluded_like_null(spark):
    """r8 review: ±Inf saturated floor(log(∞)) to Long.MaxValue and the
    +1 ARITHMETIC_OVERFLOWed the job under ANSI mode; NaN fell through
    every comparison into bucket 1, silently biasing quantiles low.
    Non-finite values must follow the documented null contract: no
    bucket, no n_rows count, group survives."""
    inf = float("inf")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", inf), ("a", -inf), ("a", float("nan")),
         ("a", 2.0), ("b", inf)],
        "g string, v double",
    )
    got = _sketch_maps(qsketch(df, ["g"], "v"), ["g"])
    assert got[("a",)][1] == 2  # only the two finite values counted
    assert got[("b",)] == ({}, 0)  # all-non-finite group kept, empty
    clean = _sketch_maps(
        qsketch(df.filter("v = v AND abs(v) != cast('inf' as double)"),
                ["g"], "v"),
        ["g"],
    )
    assert got[("a",)] == clean[("a",)]  # dirty rows changed nothing


def test_at_rest_rollup_equals_direct(spark, ev, tmp_path):
    """The at-rest path — leaf sketches written once, percentiles read
    from the leaf table — must equal the in-plan sketch on the raw
    data, and its plan must scan ONLY the sketch table."""
    import io
    from contextlib import redirect_stdout

    path = str(tmp_path / "qsketch_leaves")
    qsketch(ev, ["event_type", "shard"], "value").write.parquet(path)
    at_rest = qsketch_quantiles(
        qsketch_merge(spark.read.parquet(path), ["event_type"]),
        ["event_type"],
        [0.5, 0.95],
    )
    direct = qsketch_quantiles(
        qsketch(ev, ["event_type"], "value"), ["event_type"], [0.5, 0.95]
    )
    a = {r["event_type"]: (r["n_rows"], r["p50"], r["p95"])
         for r in at_rest.collect()}
    b = {r["event_type"]: (r["n_rows"], r["p50"], r["p95"])
         for r in direct.collect()}
    assert a == b

    buf = io.StringIO()
    with redirect_stdout(buf):
        at_rest.explain("formatted")
    plan = buf.getvalue()
    scans = [ln for ln in plan.splitlines() if "InMemoryFileIndex" in ln]
    assert len(scans) == 1 and "qsketch_leaves" in scans[0]


def test_qsketch_quantile_names_are_identifier_safe(spark):
    """r8 review: p=1.0 used to emit a column literally named 'p1.0'
    (an unquoted dot parses as struct-field access downstream);
    fractional percentiles hit the same. Names must be identifier-safe
    while the established p50/p95/p99 stay byte-identical."""
    from lookup_transform_spark.operators.sketches import (
        qsketch,
        qsketch_merge,
        qsketch_quantiles,
    )

    ev = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "event_type string, value double"
    )
    leaf = qsketch(ev, ["event_type"], "value")
    out = qsketch_quantiles(
        qsketch_merge(leaf, ["event_type"]), ["event_type"],
        probs=[0.5, 0.95, 0.999, 1.0],
    )
    assert out.columns[-4:] == ["p50", "p95", "p99_9", "p100"]
    # and the names are actually selectable (the old 'p1.0' was not)
    assert out.select("p100").count() == 1


def test_topk_sketch_bounds_contain_exact_counts(spark, sf_dir):
    """r9 heavy-hitter sketch: every emitted key's EXACT corpus count
    must lie inside the summary-derived [cnt_lo, cnt_hi] interval —
    the guarantee that makes a truncated shard summary trustworthy."""
    from pyspark.sql import functions as F

    from lookup_transform_spark import registry

    out = registry.QUERIES["sketch_topk_rollup"](spark, sf_dir).collect()
    assert len(out) > 0
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["lang"], r["tok"]): r["c"]
        for r in d.select(
            "lang",
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
            ).alias("tok"),
        )
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for r in out:
        c = exact[(r["lang"], r["key"])]
        assert r["cnt_lo"] <= c <= r["cnt_hi"], (r, c)
        assert 1 <= r["rank"] <= 10


def test_topk_sketch_exact_when_m_covers_vocabulary(spark):
    """With m >= any shard's vocabulary nothing is dropped: drop_max=0,
    cnt_lo == cnt_hi == the exact count, and the rollup IS the exact
    top-k. NULL keys contribute nothing but the group survives."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sketches import (
        topk_merge,
        topk_sketch,
    )

    rows = [("g", i % 4, f"k{i % 7}") for i in range(100)]
    rows += [("g", 0, None), ("empty", 1, None)]
    df = spark.createDataFrame(rows, "g string, shard int, key string")
    leaves = topk_sketch(df, ["g"], "key", "shard", m=50)
    got = topk_merge(leaves, ["g"], k=3).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r)
    # exact: keys k0..k6 appear ~100/7 times; top-3 deterministic
    exact = {}
    for _, _, k in rows:
        if k is not None:
            exact[k] = exact.get(k, 0) + 1
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["key"], r["cnt_lo"]) for r in sorted(by_g["g"], key=lambda r: r["rank"])] == want
    assert all(r["cnt_lo"] == r["cnt_hi"] for r in by_g["g"])  # no drops
    # the all-NULL group survives with an empty summary and no output keys
    leaf_empty = leaves.filter(F.col("g") == "empty").collect()
    assert len(leaf_empty) == 1 and leaf_empty[0]["n_rows"] == 0
    assert "empty" not in by_g


def test_topk_at_rest_equals_direct(spark, sf_dir, tmp_path):
    """The at-rest summary table answers the same top-k as the direct
    pipeline — the corpus is not rescanned (one tiny parquet read)."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sketches import (
        topk_merge,
        topk_sketch,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = d.select(
        "lang", "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    path = str(tmp_path / "topk_leaves")
    topk_sketch(toks, ["lang"], "tok", F.col("doc_id") % 16, m=200).write.parquet(
        path
    )
    direct = topk_merge(
        topk_sketch(toks, ["lang"], "tok", F.col("doc_id") % 16, m=200),
        ["lang"], k=10,
    )
    at_rest = topk_merge(spark.read.parquet(path), ["lang"], k=10)
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, at_rest.collect())
    )


def test_topk_sketch_null_keys_never_displace_real_keys(spark):
    """r9 self-review: a heavy NULL key used to occupy a top-m rank
    slot (Spark's asc default is nulls-FIRST), displacing a real key
    from the summary — and at rank m+1 it poisoned drop_max with the
    NULL count. NULLs now rank last and drop_max ignores them."""
    from lookup_transform_spark.operators.sketches import (
        topk_merge,
        topk_sketch,
    )

    rows = (
        [("h", 0, "a")] * 5 + [("h", 0, "b")] * 3 + [("h", 0, None)] * 50
    )
    df = spark.createDataFrame(rows, "g string, shard int, key string")
    leaf = topk_sketch(df, ["g"], "key", "shard", m=2).collect()[0]
    assert dict(leaf["entries"]) == {"a": 5, "b": 3}  # both real keys kept
    assert leaf["drop_max"] == 0  # the NULL group is not "dropped mass"
    assert leaf["n_rows"] == 8
    got = topk_merge(
        topk_sketch(df, ["g"], "key", "shard", m=2), ["g"], k=2
    ).collect()
    assert [(r["key"], r["cnt_lo"], r["cnt_hi"]) for r in
            sorted(got, key=lambda r: r["rank"])] == [
        ("a", 5, 5), ("b", 3, 3)
    ]


def test_topk_merge_keeps_null_group(spark):
    """A NULL group key is a group of its own, as in SQL GROUP BY: the
    rollup returns its top-k next to the named groups'."""
    from lookup_transform_spark.operators.sketches import (
        topk_merge,
        topk_sketch,
    )

    rows = (
        [("en", 0, "a")] * 2 + [(None, 0, "x")] * 3
        + [(None, 1, "y")] * 2 + [(None, 1, "x")]
    )
    df = spark.createDataFrame(rows, "lang string, shard int, key string")
    got = topk_merge(
        topk_sketch(df, ["lang"], "key", "shard", m=5), ["lang"], k=2
    ).collect()
    assert sorted(
        (r["lang"] or "", r["rank"], r["key"], r["cnt_lo"], r["cnt_hi"])
        for r in got
    ) == [("", 1, "x", 4, 4), ("", 2, "y", 2, 2), ("en", 1, "a", 2, 2)]


def test_hll_portable_merge_equals_rebuild(spark, sf_dir):
    """r9 portable HLL: merging per-(source, lang) leaves by per-bucket
    MAX must equal sketching the raw union directly — the mergeability
    contract that makes the at-rest leaf table usable."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    leaves = hll_portable_sketch(d, ["source", "lang"], "doc_id")
    merged = hll_portable_merge(leaves, ["source"])
    direct = hll_portable_sketch(d, ["source"], "doc_id")
    a = {r["source"]: (dict(r["sketch"]), r["n_rows"]) for r in merged.collect()}
    b = {r["source"]: (dict(r["sketch"]), r["n_rows"]) for r in direct.collect()}
    assert a == b


def test_hll_portable_accuracy_and_nulls(spark, sf_dir):
    """Estimates within 5% of exact distinct on the fixture (m=4096,
    linear-counting regime), and the family's null contract: NULL keys
    reach no register / don't count, but the group survives."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    est = {
        r["source"]: r["approx_distinct"]
        for r in hll_portable_estimate(
            hll_portable_sketch(d, ["source"], "doc_id"), ["source"]
        ).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in d.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for s, e in est.items():
        assert abs(e - exact[s]) / exact[s] < 0.05, (s, e, exact[s])
    # null keys: no registers, n_rows 0, group alive, estimate 0.0
    nd = spark.createDataFrame(
        [("g", None), ("g", None)], "grp string, k string"
    )
    row = hll_portable_estimate(
        hll_portable_sketch(nd, ["grp"], "k"), ["grp"]
    ).collect()
    assert len(row) == 1
    assert row[0]["n_rows"] == 0 and row[0]["approx_distinct"] == 0.0


def test_hll_portable_layered_equals_direct(spark, sf_dir):
    """The layered at-rest path (sketch leaves → fused estimate) and
    the single-query direct path must produce identical estimates —
    per-bucket MAX collapses across grains."""
    from lookup_transform_spark.operators.sketches import (
        hll_portable_distinct,
        hll_portable_estimate_from_leaves,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    direct = sorted(
        map(tuple, hll_portable_distinct(d, ["source"], "doc_id").collect())
    )
    leaves = hll_portable_sketch(d, ["source", "lang"], "doc_id")
    fused = sorted(
        map(
            tuple,
            hll_portable_estimate_from_leaves(leaves, ["source"]).collect(),
        )
    )
    layered = sorted(
        map(
            tuple,
            hll_portable_estimate(
                hll_portable_merge(leaves, ["source"]), ["source"]
            ).collect(),
        )
    )
    assert direct == fused == layered


def test_fused_hll_qsketch_leaves_equal_separate_builders(spark):
    """r11 fusion pin: the single-pass family-tagged leaf build must be
    value-identical to running hll_portable_sketch and qsketch
    separately — including the null contracts (null key reaches no
    register, null/NaN/Inf value reaches no bucket, all-null groups
    keep their row with an empty sketch and n_rows=0)."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sketches import (
        fused_hll_qsketch_leaves,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 5.0),
            ("a", 2, None),
            ("a", None, 0.003),
            ("b", 3, float("nan")),
            ("b", 4, -17.5),
            ("c", None, None),  # all-null group: survives both families
            ("d", 7, float("inf")),
        ],
        "grp string, k long, v double",
    )
    fused = fused_hll_qsketch_leaves(df, ["grp"], "k", F.col("v"))

    def rows(d):
        return sorted(
            (r["grp"], sorted((r["sketch"] or {}).items()), r["n_rows"])
            for r in d.collect()
        )

    got_h = rows(
        fused.filter(F.col("family") == "hll").select(
            "grp", F.col("sketch").cast("map<int,int>").alias("sketch"),
            "n_rows",
        )
    )
    got_q = rows(fused.filter(F.col("family") == "q").select(
        "grp", "sketch", "n_rows"
    ))
    want_h = rows(hll_portable_sketch(df, ["grp"], "k"))
    want_q = rows(qsketch(df, ["grp"], "v"))
    assert got_h == want_h
    assert got_q == want_q
