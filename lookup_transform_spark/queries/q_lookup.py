"""B10-B20: the lookup family (reference-faithful variants first)

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lookup_transform_spark.operators.asof import asof_join, range_join
from lookup_transform_spark.plans.lookup import LookupSpec
from lookup_transform_spark.registry import _events, _q, _t

# ---------------------------------------------------------------------------
# B10-B20: the lookup family (reference-faithful variants first)
# ---------------------------------------------------------------------------

_ORDERS_COLS = """o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_orderpriority"""


@_q(
    "lookup",
    f"""SELECT {_ORDERS_COLS}, c.c_mktsegment AS segment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def q_lookup(spark, sf):
    """B10/A1 flagship: reference shape — fact + broadcast dim, left-outer,
    one value column, alias (Lookup.java:186-257)."""
    spec = LookupSpec("customer", "o_custkey", "c_custkey", "c_mktsegment", "segment")
    out = spec.apply(_t(spark, sf, "orders"), _t(spark, sf, "customer"))
    return out.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority", "segment",
    )


@_q(
    "lookup_default_alias",
    """SELECT o.o_orderkey, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def q_lookup_default_alias(spark, sf):
    """B11/A3: outputField omitted → defaults to the value-field name
    (Lookup.java:389-391)."""
    spec = LookupSpec("customer", "o_custkey", "c_custkey", "c_mktsegment")
    out = spec.apply(_t(spark, sf, "orders"), _t(spark, sf, "customer"))
    return out.select("o_orderkey", "c_mktsegment")


@_q(
    "lookup_default_on_miss",
    """SELECT o.o_orderkey,
       CASE WHEN c.c_custkey IS NULL THEN 'UNKNOWN'
            ELSE c.c_mktsegment END AS segment
FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
ON o.o_custkey = c.c_custkey""",
)
def q_lookup_default_on_miss(spark, sf):
    """B12: the widget's declared-but-unshipped defaultValue
    (widgets/Lookup-batchjoiner.json:44-51) — applied on MISS only: a
    matched row whose value field is NULL keeps that NULL (the oracle
    mirrors with a miss-marker CASE, not COALESCE, which would rewrite
    matched NULLs too — r8 review)."""
    lkp = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 0)
    spec = LookupSpec(
        "customer", "o_custkey", "c_custkey", "c_mktsegment", "segment",
        default_value="UNKNOWN",
    )
    return spec.apply(_t(spark, sf, "orders"), lkp).select("o_orderkey", "segment")


@_q(
    "lookup_multi_key",
    """SELECT a.l_orderkey, a.l_linenumber, a.l_quantity,
       b.l_extendedprice AS matched_price
FROM lineitem a LEFT JOIN lineitem b
ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber""",
)
def q_lookup_multi_key(spark, sf):
    """B13: composite join key (fact-fact, so ``broadcast=False`` — the
    B18 policy in the same plan: a sort-merge join even where Spark's
    own size rule would broadcast the side)."""
    li = _t(spark, sf, "lineitem")
    spec = LookupSpec(
        "lineitem_lkp",
        ["l_orderkey", "l_linenumber"],
        ["l_orderkey", "l_linenumber"],
        "l_extendedprice",
        "matched_price",
        broadcast=False,
    )
    inp = li.select("l_orderkey", "l_linenumber", "l_quantity")
    return spec.apply(inp, li)


@_q(
    "lookup_multi_value",
    """SELECT o.o_orderkey, c.c_mktsegment AS segment, c.c_acctbal AS acctbal
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",
)
def q_lookup_multi_value(spark, sf):
    """B14: N value columns in one pass."""
    spec = LookupSpec(
        "customer", "o_custkey", "c_custkey",
        ["c_mktsegment", "c_acctbal"], ["segment", "acctbal"],
    )
    out = spec.apply(_t(spark, sf, "orders"), _t(spark, sf, "customer"))
    return out.select("o_orderkey", "segment", "acctbal")


@_q(
    "lookup_first_match",
    """SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
       f.o_orderkey, f.o_totalprice
FROM customer c LEFT JOIN (
  SELECT o_custkey, o_orderkey, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
    FROM orders) WHERE rn = 1) f
ON c.c_custkey = f.o_custkey""",
)
def q_lookup_first_match(spark, sf):
    """B15: map semantics — deterministic first match (min o_orderkey)
    instead of the reference's row-multiplying join (SURVEY §7 decision)."""
    spec = LookupSpec(
        "orders", "c_custkey", "o_custkey",
        ["o_orderkey", "o_totalprice"],
        first_match=True, first_match_order=["o_orderkey"],
    )
    return spec.apply(_t(spark, sf, "customer"), _t(spark, sf, "orders"))


@_q(
    "lookup_inner",
    """SELECT o.o_orderkey, c.c_mktsegment AS segment
FROM orders o JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
ON o.o_custkey = c.c_custkey""",
)
def q_lookup_inner(spark, sf):
    """B16: required-lookup variant — drop misses (how='inner')."""
    lkp = _t(spark, sf, "customer").filter(F.col("c_acctbal") > 0)
    spec = LookupSpec(
        "customer", "o_custkey", "c_custkey", "c_mktsegment", "segment",
        how="inner",
    )
    return spec.apply(_t(spark, sf, "orders"), lkp).select("o_orderkey", "segment")


@_q(
    "lookup_null_safe",
    """SELECT o.o_orderkey, NULLIF(o.o_custkey % 7, 0) AS k, n.n_name
FROM orders o LEFT JOIN nation n
ON NULLIF(o.o_custkey % 7, 0) IS NOT DISTINCT FROM NULLIF(n.n_nationkey % 7, 0)""",
)
def q_lookup_null_safe(spark, sf):
    """B17: <=> key equality — null keys DO match (vs. the reference's
    null-unsafe default, Lookup.java:224)."""
    inp = _t(spark, sf, "orders").select(
        "o_orderkey", F.expr("nullif(o_custkey % 7, 0)").alias("k")
    )
    lkp = _t(spark, sf, "nation").select(
        F.expr("nullif(cast(n_nationkey as bigint) % 7, 0)").alias("k2"), "n_name"
    )
    spec = LookupSpec("nation", "k", "k2", "n_name", null_safe=True)
    return spec.apply(inp, lkp)


@_q(
    "lookup_big",
    """SELECT o.o_orderkey, o.o_totalprice, l.l_extendedprice AS price,
       l.l_discount AS discount
FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey""",
)
def q_lookup_big(spark, sf):
    """B18: lookup side too big to broadcast → ``broadcast=False``, a
    sort-merge join whatever the session's broadcast threshold (the
    100 TB correction of the reference's unconditional broadcast,
    Lookup.java:208)."""
    spec = LookupSpec(
        "lineitem", "o_orderkey", "l_orderkey",
        ["l_extendedprice", "l_discount"], ["price", "discount"],
        broadcast=False,
    )
    out = spec.apply(_t(spark, sf, "orders"), _t(spark, sf, "lineitem"))
    return out.select("o_orderkey", "o_totalprice", "price", "discount")


@_q(
    "lookup_asof",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.value AS last_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT * FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY value DESC NULLS LAST) = 1) c
ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def q_lookup_asof(spark, sf):
    """B19 as-of: latest click at-or-before each purchase, per user.
    Union-sort formulation — no range-join explosion (operators/asof.py)."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("last_click_value")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_fields=["last_click_value"],
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "last_click_value",
    )


@_q(
    "lookup_asof_forward",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.value AS next_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT * FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY value DESC NULLS LAST) = 1) c
ON p.user_id = c.user_id AND p.ts <= c.ts""",
)
def q_lookup_asof_forward(spark, sf):
    """B19 as-of, FORWARD direction: earliest click at-or-after each
    purchase, per user (pandas merge_asof direction="forward"; DuckDB
    ``ON l.ts <= r.ts``). Same single-shuffle union-sort plan as the
    backward default — the per-key pass just sorts descending."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("next_click_value")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_fields=["next_click_value"], direction="forward",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "next_click_value",
    )


@_q(
    "lookup_asof_nearest",
    """WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY value DESC NULLS LAST) = 1)
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       (SELECT min_by(c.value,
                      2 * abs(epoch_us(p.ts) - epoch_us(c.ts))
                      + CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END)
        FROM c WHERE c.user_id = p.user_id) AS nearest_click_value
FROM p""",
)
def q_lookup_asof_nearest(spark, sf):
    """B19 as-of, NEAREST direction (merge_asof direction="nearest"):
    the click minimizing |Δt| from each purchase, ties toward the
    at-or-before row. Composed from the backward and forward union-sort
    passes plus a per-row pick; the oracle mirrors the exact tie rule
    as a scalar ``min_by`` key (2·|Δt| + direction flag)."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("nearest_click_value")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_fields=["nearest_click_value"], direction="nearest",
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "nearest_click_value",
    )


@_q(
    "lookup_asof_tolerance",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
            THEN c.value END AS recent_click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT * FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY value DESC NULLS LAST) = 1) c
ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def q_lookup_asof_tolerance(spark, sf):
    """B19 as-of with a tolerance bound (merge_asof ``tolerance``): the
    latest click at-or-before each purchase counts only within 30
    minutes — stale context is null, not silently ancient. A post-mask
    on the carried match ts, so the plan is the same single-shuffle
    union-sort pass; the oracle mirrors it as a CASE over the ASOF
    match."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("recent_click_value")
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_fields=["recent_click_value"],
        tolerance_us=30 * 60 * 1_000_000,
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "recent_click_value",
    )


@_q(
    "lookup_asof_multi",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       c.click_value, c.click_props
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT user_id, ts, value AS click_value,
         CASE WHEN value >= 50 THEN props END AS click_props
  FROM events WHERE event_type = 'click'
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY click_value DESC NULLS LAST,
                                      click_props DESC NULLS LAST) = 1) c
ON p.user_id = c.user_id AND p.ts >= c.ts""",
)
def q_lookup_asof_multi(spark, sf):
    """B19 as-of, multi-value: two value fields carried atomically as one
    struct (operators/asof.py). click_props is NULL-bearing by
    construction — a per-field carry would back-fill it from an older
    click and diverge from DuckDB ASOF JOIN; this pins the struct-packed
    semantics."""
    ev = _events(spark, sf)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("value").alias("click_value"),
        F.when(F.col("value") >= 50, F.col("props")).alias("click_props"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_fields=["click_value", "click_props"],
    )
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"), "click_value", "click_props",
    )


@_q(
    "lookup_range",
    """SELECT e.event_id, e.value, b.band
FROM events e LEFT JOIN (
  VALUES (0.0, 50.0, 'low'), (50.0, 200.0, 'mid'), (200.0, 1000.0, 'high')
) b(lo, hi, band) ON e.value >= b.lo AND e.value < b.hi""",
)
def q_lookup_range(spark, sf):
    """B19 range: value ∈ [lo, hi) banding compiled to a chained CASE
    projection (disjoint bands) — pure codegen, no join, and the fact
    side is never shuffled for a banding."""
    bands = [
        {"lo": 0.0, "hi": 50.0, "band": "low"},
        {"lo": 50.0, "hi": 200.0, "band": "mid"},
        {"lo": 200.0, "hi": 1000.0, "band": "high"},
    ]
    ev = _events(spark, sf).select("event_id", "value")
    return range_join(ev, bands, "value", "lo", "hi", ["band"])


@_q(
    "lookup_chain",
    """SELECT o.o_orderkey, c.c_nationkey AS cust_nationkey,
       n.n_name AS nation_name, r.r_name AS region_name
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey""",
)
def q_lookup_chain(spark, sf):
    """B20: multi-stage star-schema denormalization — chained B10s
    (the data-mart use case of docs/Lookup-batchjoiner.md:9-13)."""
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    s1 = LookupSpec("customer", "o_custkey", "c_custkey", "c_nationkey",
                    "cust_nationkey")
    s2 = LookupSpec("nation", "cust_nationkey", "n_nationkey",
                    ["n_name", "n_regionkey"], ["nation_name", "rkey"])
    s3 = LookupSpec("region", "rkey", "r_regionkey", "r_name", "region_name")
    out = s1.apply(orders, _t(spark, sf, "customer"))
    out = s2.apply(out, _t(spark, sf, "nation"))
    out = s3.apply(out, _t(spark, sf, "region"))
    return out.select("o_orderkey", "cust_nationkey", "nation_name", "region_name")


