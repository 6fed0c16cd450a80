"""B30/B35/B38 breadth; skew & bucketing joins; window funcs, unpivot, dedup clustering

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from lookup_transform_spark.functions.fixedpoint import fp_sum, scaled_long
from lookup_transform_spark.operators import dedup as DD
from lookup_transform_spark.registry import (
    SCRATCH,
    _events,
    _fsum,
    _q,
    _stale_guard,
    _t,
    _vtag,
)

# ---------------------------------------------------------------------------
# B30/B35/B38 breadth: sort/limit, regexp, case, having, subquery, arrays
# ---------------------------------------------------------------------------

@_q(
    "sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def q_sort_limit(spark, sf):
    """B35: global top-N (TakeOrderedAndProject — no full sort)."""
    return (
        _t(spark, sf, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@_q(
    "string_regexp",
    """SELECT p_partkey,
       regexp_extract(p_type, '^\\w+') AS type_head,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
       regexp_matches(p_type, 'ED$') AS type_ends_ed
FROM part""",
)
def q_string_regexp(spark, sf):
    """B38: regexp extract/replace/match."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^\w+", 0).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("name_devoweled"),
        F.col("p_type").rlike("ED$").alias("type_ends_ed"),
    )


@_q(
    "case_when",
    """SELECT o_orderkey,
       CASE WHEN o_totalprice < 50000 THEN 'S'
            WHEN o_totalprice < 200000 THEN 'M'
            ELSE 'L' END AS size_class
FROM orders""",
)
def q_case_when(spark, sf):
    """B38: conditional bucketing."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, "S")
        .when(F.col("o_totalprice") < 200000, "M")
        .otherwise("L")
        .alias("size_class"),
    )


@_q(
    "agg_having",
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
GROUP BY o_custkey HAVING COUNT(*) >= 3""",
)
def q_agg_having(spark, sf):
    """B32: post-aggregation predicate (HAVING)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@_q(
    "subquery_scalar",
    """SELECT o_orderkey FROM orders
WHERE o_totalprice > (
  SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 / COUNT(*)
  FROM orders)""",
)
def q_subquery_scalar(spark, sf):
    """B37: scalar subquery through the SQL surface."""
    v = "orders_sq_" + _vtag(sf)  # sf-scoped: see grouping_sets
    _t(spark, sf, "orders").createOrReplaceTempView(v)
    return spark.sql(
        f"""SELECT o_orderkey FROM {v}
           WHERE o_totalprice > (
             SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0
                    / COUNT(*)
             FROM {v})"""
    )


@_q(
    "array_funcs",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
SELECT doc_id,
       toks[1] AS first_tok,
       CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_toks,
       list_contains(toks, 'the') AS has_the
FROM t""",
)
def q_array_funcs(spark, sf):
    """B38: array functions (element_at / distinct / contains)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower(F.col("text")), " ")
    return d.select(
        "doc_id",
        F.element_at(toks, 1).alias("first_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct_toks"),
        F.array_contains(toks, "the").alias("has_the"),
    )


@_q(
    "null_funcs",
    """SELECT o_orderkey,
       NULLIF(o_custkey % 5, 0) AS k5,
       COALESCE(NULLIF(o_custkey % 5, 0), -1) AS k5_filled
FROM orders""",
)
def q_null_funcs(spark, sf):
    """B38: null plumbing (nullif / coalesce)."""
    o = _t(spark, sf, "orders")
    k5 = F.expr("nullif(o_custkey % 5, 0)")
    return o.select(
        "o_orderkey",
        k5.alias("k5"),
        F.coalesce(k5, F.lit(-1)).alias("k5_filled"),
    )


# ---------------------------------------------------------------------------
# Skew & bucketing join strategies (result-invariant; oracle = plain join)
# ---------------------------------------------------------------------------

@_q(
    "lookup_skew_salted",
    """SELECT o.o_orderkey, (o.o_custkey % 3) AS hot_key, c.n_in_bucket
FROM orders o LEFT JOIN (
  SELECT (c_custkey % 3) AS k, COUNT(*) AS n_in_bucket
  FROM customer GROUP BY (c_custkey % 3)) c
ON (o.o_custkey % 3) = c.k""",
)
def q_lookup_skew_salted(spark, sf):
    """Skew mitigation: a 3-value hot key would hash every row into 3
    tasks; salting spreads each hot key across 16. Salting is
    result-invariant — the oracle is the plain join."""
    from lookup_transform_spark.operators.skew import salted_join

    o = _t(spark, sf, "orders").select(
        "o_orderkey", (F.col("o_custkey") % 3).alias("hot_key")
    )
    c = (
        _t(spark, sf, "customer")
        .groupBy((F.col("c_custkey") % 3).alias("k"))
        .agg(F.count(F.lit(1)).alias("n_in_bucket"))
    )
    return salted_join(
        o, c, "hot_key", "k", salt=16, how="left", salt_source="o_orderkey"
    )


@_q(
    "bucketed_join",
    """SELECT o.o_orderkey, o.o_totalprice,
       SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0 AS lineitem_total
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_totalprice""",
)
def q_bucketed_join(spark, sf):
    """Bucketed co-located fact-fact join: both sides pre-bucketed by the
    join key -> no Exchange in the join (the 100 TB shuffle killer)."""
    from lookup_transform_spark.operators.bucketing import ensure_bucketed

    tag = _vtag(sf)
    ot, lt = f"orders_b_{tag}", f"lineitem_b_{tag}"
    # staleness gate (r8 review: this was the ONE at-rest query without
    # it — a regenerated fixture was silently answered from the stale
    # bucketed tables while the oracle read the fresh parquet)
    _stale_guard(
        spark, f"{SCRATCH}/{ot}", os.path.join(sf, "orders.parquet"),
        tables=(ot,),
    )
    _stale_guard(
        spark, f"{SCRATCH}/{lt}", os.path.join(sf, "lineitem.parquet"),
        tables=(lt,),
    )
    ensure_bucketed(
        spark, _t(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
        ot, "o_orderkey", 8, path=f"{SCRATCH}/{ot}",
    )
    ensure_bucketed(
        spark,
        _t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice"),
        lt, "l_orderkey", 8, path=f"{SCRATCH}/{lt}",
    )
    # same bucket count on the join keys: no Exchange on either side
    o, li = spark.table(ot), spark.table(lt)
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"])
    return j.groupBy("o_orderkey", "o_totalprice").agg(
        fp_sum("l_extendedprice", 2).alias("lineitem_total")
    )


@_q(
    "percentiles",
    """SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90
FROM events GROUP BY event_type""",
)
def q_percentiles(spark, sf):
    """B32: exact interpolated percentiles (selection-based ->
    order-independent and oracle-checkable).

    r7 shape: two-phase — a map-side-combined (type, value) frequency
    aggregate first, then ``percentile(value, p, freq)`` over the
    distinct values. The exact-percentile buffer each group's reducer
    holds shrinks from |rows per group| to |distinct values per group|
    (36x on this fixture; 1.20 -> 0.86 s at 32x), and the frequency
    weighting makes the interpolation bit-identical to the raw form.
    Reduces only when values repeat — for truly continuous data the
    pre-agg is a wash (one extra map-side shuffle) and the mergeable
    ``sketch_quantile_rollup`` is the at-scale answer."""
    ev = _events(spark, sf)
    freq = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).alias("freq")
    )
    return freq.groupBy("event_type").agg(
        F.percentile("value", 0.25, F.col("freq")).alias("p25"),
        F.percentile("value", 0.5, F.col("freq")).alias("p50"),
        F.percentile("value", 0.9, F.col("freq")).alias("p90"),
    )


# ---------------------------------------------------------------------------
# More window funcs, unpivot, analytic multi-joins, dedup clustering
# ---------------------------------------------------------------------------

@_q(
    "window_rank",
    """SELECT o_orderpriority, o_orderkey,
       CAST(RANK() OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
       LEAD(o_orderkey) OVER w AS next_okey,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey)""",
)
def q_window_rank(spark, sf):
    """B34: rank / dense_rank / lead / ntile over a total order."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return _t(spark, sf, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lead("o_orderkey").over(w).alias("next_okey"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_q(
    "window_range_frame",
    """SELECT o_orderkey, o_custkey,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey
         ORDER BY CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) / 100.0 AS trailing_30d
FROM orders""",
)
def q_window_range_frame(spark, sf):
    """B34: RANGE frame — trailing-30-day spend per customer."""
    o = _t(spark, sf, "orders").withColumn(
        "__day__",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1990-01-01").cast("date")).cast("long"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("__day__").asc())
        .rangeBetween(-30, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        (F.sum(scaled_long("o_totalprice", 2)).over(w) / F.lit(100.0)).alias("trailing_30d"),
    )


@_q(
    "unpivot_part",
    """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part""",
)
def q_unpivot_part(spark, sf):
    """B31: unpivot/melt wide metrics to long form."""
    p = _t(spark, sf, "part").select(
        "p_partkey", F.col("p_size").cast("double").alias("p_size"), "p_retailprice"
    )
    return p.unpivot(
        "p_partkey", ["p_size", "p_retailprice"], "metric", "value"
    )


@_q(
    "tpch_q3_shipping",
    """SELECT l.l_orderkey,
       SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue,
       CAST(o.o_orderdate AS DATE) AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)""",
)
def q_tpch_q3_shipping(spark, sf):
    """B37: selective multi-join + aggregate (TPC-H Q3 shape) — Catalyst
    pushes every filter to its scan and broadcasts the filtered dim."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            li["l_orderkey"],
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .agg(_fsum(revenue, "revenue", dp=4))
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@_q(
    "tpch_q5_local_supplier",
    """SELECT n.n_name,
       SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name""",
)
def q_tpch_q5_local_supplier(spark, sf):
    """B37: six-table star join (TPC-H Q5 shape) with a cross-dimension
    equality (customer nation = supplier nation)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    revenue = "l_extendedprice * (1 - l_discount)"
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_fsum(revenue, "revenue", dp=4))
    )


@_q(
    "dedup_clusters",
    """WITH RECURSIVE d AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2]))) AS sh
  FROM documents),
p AS MATERIALIZED (
  SELECT a.doc_id AS da, b.doc_id AS db
  FROM d a JOIN d b ON a.doc_id < b.doc_id
  WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
              / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5),
e AS MATERIALIZED (
  SELECT da AS a, db AS b FROM p UNION SELECT db AS a, da AS b FROM p),
reach AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
comp AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
  FROM reach GROUP BY a)
SELECT doc_id, cluster_id, (doc_id = cluster_id) AS is_canonical FROM comp""",
)
def q_dedup_clusters(spark, sf):
    """B51 final step: near-dup pairs -> connected components -> one
    canonical doc per cluster.

    The ENGINE side is iterative min-label propagation (graph.py) —
    the form that scales; the fixture-scale oracle (r8 promotion from
    rows-only) recomputes the exact-Jaccard pair set (the same SQL
    shape dedup_minhash's oracle proves equal to the engine's
    LSH+verify output) and closes it with a recursive transitive
    closure, so component labels are cross-checked end-to-end. Robust
    to the star-edge representation the engine emits on corpora with
    exact duplicates: star edges span the same components as the full
    pair set, and connected components are representation-invariant."""
    from lookup_transform_spark.operators.graph import dedup_clusters

    pairs = DD.minhash_lsh_pairs(
        _t(spark, sf, "documents"), num_hashes=32, bands=8, threshold=0.5
    )
    return dedup_clusters(pairs)


@_q(
    "json_struct",
    """SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
       (CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL) AS has_k
FROM events""",
)
def q_json_struct(spark, sf):
    """B55/B38: schema-enforced JSON parse (from_json -> struct), vs the
    path-extraction twin json_extract."""
    ev = _events(spark, sf)
    parsed = F.from_json("props", "k int")
    return ev.select(
        "event_id",
        parsed["k"].alias("k"),
        parsed["k"].isNotNull().alias("has_k"),
    )


@_q(
    "json_variant",
    """SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50""",
)
def q_json_variant(spark, sf):
    """B55 modern path: parse once into a VARIANT column (Spark 4 binary
    semi-structured encoding), then typed `variant_get` extraction —
    the shredded-at-parse alternative to repeated string path scans
    (json_extract twin). try_parse_json: malformed rows become null,
    never a task failure."""
    ev = _events(spark, sf)
    v = F.try_parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return ev.select("event_id", k.alias("k")).filter(k > 50)


@_q(
    "map_funcs",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_via_map
FROM events""",
)
def q_map_funcs(spark, sf):
    """B38: MapType plumbing — JSON -> map<string,int> -> element_at."""
    ev = _events(spark, sf)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id", F.element_at(m, "k").alias("k_via_map")
    )


# ---------------------------------------------------------------------------
# Subquery-heavy analytic shapes (Catalyst decorrelation surface)
# ---------------------------------------------------------------------------

@_q(
    "correlated_subquery",
    """SELECT l.l_orderkey, l.l_partkey, l.l_quantity
FROM lineitem l
WHERE l.l_quantity < (
  SELECT 0.2 * (CAST(SUM(CAST(ROUND(l2.l_quantity) AS BIGINT)) AS DOUBLE)
                / COUNT(*))
  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)""",
)
def q_correlated_subquery(spark, sf):
    """B37: correlated scalar subquery (TPC-H Q17 shape) — Catalyst
    decorrelates it into an aggregate + join."""
    v = "lineitem_cs_" + _vtag(sf)  # sf-scoped: see grouping_sets
    _t(spark, sf, "lineitem").createOrReplaceTempView(v)
    return spark.sql(
        f"""SELECT l.l_orderkey, l.l_partkey, l.l_quantity
           FROM {v} l
           WHERE l.l_quantity < (
             SELECT 0.2 * (CAST(SUM(CAST(ROUND(l2.l_quantity) AS BIGINT)) AS DOUBLE)
                           / COUNT(*))
             FROM {v} l2 WHERE l2.l_partkey = l.l_partkey)"""
    )


@_q(
    "q13_custdist",
    """SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey)
GROUP BY c_count""",
)
def q_q13_custdist(spark, sf):
    """B32/B37: two-level aggregation over an outer join (TPC-H Q13).

    VARIANT of ``tpch_q13_custdist`` (pre-dates the full TPC-H tier):
    same Q13 skeleton without the comment-pattern predicate - kept as
    a plain outer-join-aggregate shape; not counted as new coverage."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "not_in_subquery",
    """SELECT s_suppkey FROM supplier
WHERE s_suppkey NOT IN (
  SELECT l_suppkey FROM lineitem WHERE l_quantity > 49 AND l_orderkey % 20 = 0)""",
)
def q_not_in_subquery(spark, sf):
    """B37: NOT IN (null-aware anti-join) through the SQL surface."""
    sv = "supplier_ni_" + _vtag(sf)  # sf-scoped: see grouping_sets
    lv = "lineitem_ni_" + _vtag(sf)
    _t(spark, sf, "supplier").createOrReplaceTempView(sv)
    _t(spark, sf, "lineitem").createOrReplaceTempView(lv)
    return spark.sql(
        f"""SELECT s_suppkey FROM {sv}
           WHERE s_suppkey NOT IN (
             SELECT l_suppkey FROM {lv} WHERE l_quantity > 49 AND l_orderkey % 20 = 0)"""
    )


@_q(
    "q18_volume",
    """SELECT o.o_orderkey, o.o_custkey,
       CAST(SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) AS DOUBLE) AS total_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_custkey
HAVING SUM(CAST(ROUND(l.l_quantity) AS BIGINT)) > 150""",
)
def q_q18_volume(spark, sf):
    """B32: join + aggregate + HAVING on the aggregate (TPC-H Q18).

    VARIANT of ``tpch_q18_large_volume`` (pre-dates the full TPC-H
    tier): same Q18 skeleton without the customer join/top-N - kept as
    a plain HAVING shape; not counted as new coverage."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum(scaled_long("l_quantity", 0)).alias("__q__"))
        .filter(F.col("__q__") > 150)
        .select(
            "o_orderkey", "o_custkey",
            F.col("__q__").cast("double").alias("total_qty"),
        )
    )


@_q("stream_sessionize_stateful")
def q_stream_sessionize_stateful(spark, sf):
    """B63 extension: custom stateful operator (applyInPandasWithState)
    — per-user session state machine emitting closed sessions.
    Rows-only BY SEMANTICS: which sessions CLOSE (vs remain open in
    state at stream end) depends on the trigger decomposition and
    timeout processing, so no single SQL statement models the output;
    stream ≡ batch-sessionize equality on closed sessions is pinned in
    tests/test_streaming.py instead (the r9 streaming promotions took
    only decomposition-independent queries)."""
    from lookup_transform_spark.streaming import read_events_stream
    from lookup_transform_spark.streaming.lookup_stream import run_to_memory
    from lookup_transform_spark.streaming.stateful import (
        stream_sessionize_stateful,
    )

    ev = read_events_stream(spark, sf).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return run_to_memory(
        stream_sessionize_stateful(ev, gap_seconds=1800), f"mem_state_sess_{_vtag(sf)}"
    )


@_q("stream_lifetime_stats")
def q_stream_lifetime_stats(spark, sf):
    """B63: per-key running lifetime aggregates, O(1) state per key,
    on applyInPandasWithState. Rows-only BY SEMANTICS: the
    operator emits one row per (key, batch-with-data) — the output
    cardinality is a function of the trigger decomposition (the r9
    streaming promotions took only decomposition-INDEPENDENT queries),
    and stream ≡ batch equality is pinned instead."""
    from lookup_transform_spark.streaming import read_events_stream
    from lookup_transform_spark.streaming.lookup_stream import run_to_memory
    from lookup_transform_spark.streaming.stateful import stream_lifetime_stats

    ev = read_events_stream(spark, sf).select("user_id", "value")
    return run_to_memory(stream_lifetime_stats(ev), f"mem_lifetime_{_vtag(sf)}")


@_q(
    "text_redact",
    """SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b', '<PHONE>', 'g') AS redacted
FROM documents""",
)
def q_text_redact(spark, sf):
    """B53: PII-style regex redaction (emails, phone patterns) — the
    cheap scrubbing pass of a training-data pipeline. Spread to compute
    width first (gated, r12: single-row-group fixture = one scan task;
    0.23 → 0.12 s measured, no-op at scale)."""
    d = DD._ensure_parallel(_t(spark, sf, "documents"), "doc_id")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
    )


@_q(
    "repetition_filter",
    """WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents)
SELECT doc_id,
       ROUND(1.0 - len(list_distinct(toks))::DOUBLE / len(toks), 6) AS rep_ratio,
       (1.0 - len(list_distinct(toks))::DOUBLE / len(toks)) < 0.7 AS keep
FROM t""",
)
def q_repetition_filter(spark, sf):
    """B53: token-repetition quality filter (1 - distinct/total) — the
    standard boilerplate/spam pre-filter. Spread to compute width first
    (gated, r12; same single-row-group argument as text_stats)."""
    d = DD._ensure_parallel(_t(spark, sf, "documents"), "doc_id")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    rep = 1.0 - F.size(F.array_distinct(toks)) / F.size(toks)
    return d.select(
        "doc_id",
        F.round(rep, 6).alias("rep_ratio"),
        (rep < 0.7).alias("keep"),
    )


@_q(
    "setops_except_all",
    """SELECT l_orderkey AS okey FROM lineitem WHERE l_quantity > 10
EXCEPT ALL SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 10""",
)
def q_setops_except_all(spark, sf):
    """B36: EXCEPT ALL (multiplicity-preserving difference)."""
    li = _t(spark, sf, "lineitem")
    a = li.filter(F.col("l_quantity") > 10).select(F.col("l_orderkey").alias("okey"))
    b = li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 10)).select(
        F.col("l_orderkey").alias("okey")
    )
    return a.exceptAll(b)


@_q(
    "intersect_all",
    """SELECT o_custkey AS ckey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL SELECT o_custkey FROM orders WHERE o_totalprice > 100000""",
)
def q_intersect_all(spark, sf):
    """B36: INTERSECT ALL (multiplicity-preserving)."""
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("ckey"))
    b = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("ckey"))
    return a.intersectAll(b)


