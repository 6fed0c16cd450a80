"""B30-B39 relational scaffolding + B56/B60-63 batch twins (sessionization, time windows)

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from lookup_transform_spark.functions.fixedpoint import fp_sum, scaled_long
from lookup_transform_spark.operators.sessionize import sessionize
from lookup_transform_spark.registry import _events, _fsum, _q, _t

# ---------------------------------------------------------------------------
# B30-B39: relational scaffolding
# ---------------------------------------------------------------------------

@_q(
    "tpch_q1",
    """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0 AS sum_charge,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
       SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",
)
def q_tpch_q1(spark, sf):
    """B32 hash aggregate: TPC-H Q1-shaped pricing summary. Sums are
    fixed-point long accumulation (exact + codegen; the 6dp sum_charge
    keeps ~2.4e8 rows/group of headroom — beyond that, ANSI mode fails
    loudly and ``fp_sum_stable`` is the documented formulation)."""
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc_price}) * (1 + l_tax)"
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _fsum("l_quantity", "sum_qty", dp=0),
        _fsum("l_extendedprice", "sum_base_price", dp=2),
        _fsum(disc_price, "sum_disc_price", dp=4),
        _fsum(charge, "sum_charge", dp=6),
        (fp_sum("l_quantity", 0) / F.count(F.lit(1))).alias("avg_qty"),
        (fp_sum("l_discount", 2) / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_q(
    "agg_rollup",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def q_agg_rollup(spark, sf):
    """B33 rollup (grouping sets)."""
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _fsum("l_quantity", "sum_qty", dp=0))
    )


@_q(
    "agg_cube",
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
)
def q_agg_cube(spark, sf):
    """B33 cube."""
    return (
        _t(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _fsum("o_totalprice", "sum_price", dp=2))
    )


@_q(
    "agg_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag""",
)
def q_agg_distinct(spark, sf):
    """B32 count-distinct (exact)."""
    return _t(spark, sf, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "window_topk",
    """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3""",
)
def q_window_topk(spark, sf):
    """B34/B35: top-k per group via window row_number."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        _t(spark, sf, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


@_q(
    "window_running",
    """SELECT event_id, user_id,
       SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER (
         PARTITION BY user_id
         ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
         ROWS UNBOUNDED PRECEDING) / 1000000.0 AS running_value,
       LAG(event_id) OVER (
         PARTITION BY user_id
         ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_event_id
FROM events""",
)
def q_window_running(spark, sf):
    """B34: running aggregate + lag with a deterministic total order."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("long").asc(), F.col("event_id").asc()
    )
    return _events(spark, sf).select(
        "event_id",
        "user_id",
        (
            F.sum(scaled_long("value", 6))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            / F.lit(1e6)
        ).alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
    )


@_q(
    "setops_except",
    """SELECT c_custkey AS custkey FROM customer
EXCEPT SELECT o_custkey FROM orders""",
)
def q_setops_except(spark, sf):
    """B36: EXCEPT DISTINCT — customers with no orders."""
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


@_q(
    "setops_intersect",
    """SELECT c_custkey AS custkey FROM customer
INTERSECT SELECT o_custkey FROM orders""",
)
def q_setops_intersect(spark, sf):
    """B36: INTERSECT DISTINCT."""
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
    o = _t(spark, sf, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.intersect(o)


@_q(
    "setops_union",
    """SELECT s_nationkey AS nationkey FROM supplier
UNION SELECT c_nationkey FROM customer""",
)
def q_setops_union(spark, sf):
    """B36: UNION DISTINCT."""
    s = _t(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    c = _t(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    return s.union(c).distinct()


@_q(
    "join_semi",
    """SELECT o_orderkey FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)""",
)
def q_join_semi(spark, sf):
    """B37: left-semi (EXISTS)."""
    o = _t(spark, sf, "orders")
    big = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45)
    return o.join(
        big, o["o_orderkey"] == big["l_orderkey"], "left_semi"
    ).select("o_orderkey")


@_q(
    "join_anti",
    """SELECT o_orderkey FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""",
)
def q_join_anti(spark, sf):
    """B37: left-anti (NOT EXISTS)."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return o.join(
        li, o["o_orderkey"] == li["l_orderkey"], "left_anti"
    ).select("o_orderkey")


@_q(
    "join_fuzzy_name",
    """WITH s AS (
  SELECT s_suppkey, s_name, s_nationkey FROM supplier)
SELECT a.s_suppkey AS suppkey_a, b.s_suppkey AS suppkey_b,
       levenshtein(a.s_name, b.s_name) AS dist
FROM s a JOIN s b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
 AND abs(len(a.s_name) - len(b.s_name)) <= 1
 AND levenshtein(a.s_name, b.s_name) <= 1""",
)
def q_join_fuzzy_name(spark, sf):
    """B37 extension: fuzzy (edit-distance) join — approximate key
    matching for entity resolution, the lookup family's answer to
    misspelled/near-miss keys.

    Scale shape: blocked, banded, then verified — the equi-join on the
    blocking key (nation) bounds the candidate space to O(block²), the
    length band |len(a)-len(b)| ≤ k prunes candidates with a codegen'd
    integer predicate BEFORE the O(mn) levenshtein runs (edit distance
    is ≥ the length difference, so the band is lossless), and the
    expensive comparison is last in the conjunction. At corpus scale
    the blocking key is the lever (e.g. phonetic bucket, n-gram
    prefix); the verify stage's cost is candidates, never all-pairs."""
    s = _t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    a = s.select(
        F.col("s_suppkey").alias("suppkey_a"),
        F.col("s_name").alias("__name_a__"),
        F.col("s_nationkey").alias("__nk_a__"),
    )
    b = s.select(
        F.col("s_suppkey").alias("suppkey_b"),
        F.col("s_name").alias("__name_b__"),
        F.col("s_nationkey").alias("__nk_b__"),
    )
    dist = F.levenshtein("__name_a__", "__name_b__")
    return (
        a.join(
            b,
            (F.col("__nk_a__") == F.col("__nk_b__"))
            & (F.col("suppkey_a") < F.col("suppkey_b"))
            & (
                F.abs(
                    F.length("__name_a__") - F.length("__name_b__")
                ) <= 1
            )
            & (dist <= 1),
        )
        .select("suppkey_a", "suppkey_b", dist.alias("dist"))
    )


@_q(
    "filter_predicates",
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus IN ('O', 'F') AND o_totalprice BETWEEN 1000 AND 5000
  AND o_orderpriority LIKE '3%' AND o_custkey IS NOT NULL""",
)
def q_filter_predicates(spark, sf):
    """B30: predicate surface (in/between/like/null-check) — all pushed
    to the parquet scan."""
    o = _t(spark, sf, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 5000)
        & F.col("o_orderpriority").like("3%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


@_q(
    "scalar_funcs",
    """SELECT p_partkey,
       upper(p_name) AS name_upper,
       substring(p_type, 1, 5) AS type5,
       round(p_retailprice * 1.1, 2) AS adj_price,
       abs(p_size - 25) AS size_dev,
       concat_ws('#', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS INTEGER) AS name_len
FROM part""",
)
def q_scalar_funcs(spark, sf):
    """B38: string/math scalar functions."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type5"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("adj_price"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
    )


@_q(
    "date_funcs",
    """SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(month(o_orderdate) AS INTEGER) AS o_month,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER)
         AS days_to_y2k
FROM orders""",
)
def q_date_funcs(spark, sf):
    """B38: date/time scalar functions."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.lit("2000-01-01").cast("date"),
                   F.col("o_orderdate").cast("date")).alias("days_to_y2k"),
    )


@_q(
    "json_extract",
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
FROM events""",
)
def q_json_extract(spark, sf):
    """B55: typed extraction from JSON strings."""
    return _events(spark, sf).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


# ---------------------------------------------------------------------------
# B56 + B60-63 batch twins: sessionization & time windows
# ---------------------------------------------------------------------------

_SESSION_CTE = """WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
), l AS (
  SELECT event_id, user_id, ts_us,
         CASE WHEN LAG(ts_us) OVER w IS NULL
                   OR ts_us - LAG(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS flag
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), s AS (
  SELECT event_id, user_id, ts_us,
         CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM l
)"""


@_q(
    "sessionize",
    _SESSION_CTE + "\nSELECT event_id, user_id, session_id FROM s",
)
def q_sessionize(spark, sf):
    """B56: gap-based sessionization (30-min gap), µs precision."""
    ev = _events(spark, sf).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    out = sessionize(ev, key="user_id", ts="ts_us",
                     gap_seconds=1800 * 1_000_000, order_tiebreak="event_id")
    return out.select("event_id", "user_id", "session_id")


@_q(
    "session_window_agg",
    _SESSION_CTE
    + """
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
FROM s GROUP BY user_id, session_id""",
)
def q_session_window_agg(spark, sf):
    """B61 session-window batch twin: per-session aggregates."""
    ev = _events(spark, sf).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    s = sessionize(ev, key="user_id", ts="ts_us",
                   gap_seconds=1800 * 1_000_000, order_tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@_q(
    "window_tumbling",
    """SELECT CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts))) AS BIGINT)
         AS w_start,
       event_type, COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS sum_value
FROM events GROUP BY 1, 2""",
)
def q_window_tumbling(spark, sf):
    """B61 tumbling-window batch twin (streaming twin in streaming/)."""
    ev = _events(spark, sf)
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), _fsum("value", "sum_value", dp=6))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            "event_type", "n_events", "sum_value",
        )
    )


@_q(
    "window_sliding",
    """WITH x AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type FROM events
), w AS (
  SELECT b AS ws, event_type FROM x
  UNION ALL
  SELECT b - INTERVAL '5 minutes' AS ws, event_type FROM x
)
SELECT CAST(floor(epoch(ws)) AS BIGINT) AS w_start, event_type,
       COUNT(*) AS n_events
FROM w GROUP BY 1, 2""",
)
def q_window_sliding(spark, sf):
    """B61 sliding-window batch twin: 10-min window, 5-min slide."""
    ev = _events(spark, sf)
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("w_start"),
            "event_type", "n_events",
        )
    )


