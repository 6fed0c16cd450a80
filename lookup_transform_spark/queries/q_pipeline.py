"""End-to-end curation pipeline; deterministic sampling / splits; type-widening lookup

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lookup_transform_spark.functions.fixedpoint import fp_sum, scaled_long
from lookup_transform_spark.plans.lookup import LookupSpec
from lookup_transform_spark.registry import _events, _fsum, _q, _t

# ---------------------------------------------------------------------------
# Deterministic sampling / splits; type-widening lookup
# ---------------------------------------------------------------------------

_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 4)) AS INTEGER)"


@_q(
    "dataset_split",
    f"""SELECT doc_id,
       CASE WHEN {_BUCKET_SQL.format(k='doc_id')} < 52428 THEN 'train'
            WHEN {_BUCKET_SQL.format(k='doc_id')} < 58982 THEN 'val'
            ELSE 'test' END AS split
FROM documents""",
)
def q_dataset_split(spark, sf):
    """Training-pipeline: reproducible train/val/test split by content
    hash — a document keeps its split across runs and engines."""
    from lookup_transform_spark.operators.sampling import dataset_split

    d = _t(spark, sf, "documents").select("doc_id")
    return dataset_split(d, "doc_id", train=0.8, val=0.1)


@_q(
    "sample_weighted_topk",
    """WITH scored AS (
  SELECT doc_id, length(text)::BIGINT AS w,
         -ln((('0x' || substr(md5(doc_id::VARCHAR || '#42'), 1, 13))::BIGINT
              + 1.0) / 4503599627370496.0) / length(text)::DOUBLE AS s
  FROM documents WHERE length(text) > 0
)
SELECT doc_id, w FROM scored ORDER BY s ASC, doc_id ASC LIMIT 200""",
)
def q_sample_weighted_topk(spark, sf):
    """Training-pipeline (r9): EXACT-size weighted sample without
    replacement — Efraimidis–Spirakis A-ES over md5-derived uniforms
    (operators/sampling.py:weighted_topk_sample), here 200 documents
    favored by text length. Deterministic, reproducible across
    engines/runs (the property that keeps a curated subset stable under
    reprocessing), and oracle-exact: the same md5 bits + exponential
    race replay in ANSI SQL. Complements dataset_split / corpus_mix
    (rate-based Bernoulli) with exact-cardinality selection; the plan
    is scan + TakeOrderedAndProject — never a full sort."""
    from lookup_transform_spark.operators.sampling import (
        weighted_topk_sample,
    )

    d = _t(spark, sf, "documents").select(
        "doc_id", F.length("text").alias("w")
    )
    return weighted_topk_sample(d, "doc_id", "w", k=200)


@_q(
    "stratified_sample",
    f"""SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY {_BUCKET_SQL.format(k='doc_id')}, doc_id) AS rn
  FROM documents) WHERE rn <= 10""",
)
def q_stratified_sample(spark, sf):
    """Training-pipeline: exactly 10 docs per language, hash-ordered
    (deterministic stratified sampling)."""
    from lookup_transform_spark.operators.sampling import stratified_sample

    d = _t(spark, sf, "documents").select("lang", "doc_id")
    return stratified_sample(d, "lang", 10, "doc_id")


#: corpus-mix rates per language (scale-free; lang set is fixed across SFs)
_MIX_RATES = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.25}
_MIX_DEFAULT = 0.1


@_q(
    "corpus_mix",
    f"""SELECT doc_id, lang, source FROM documents
WHERE {_BUCKET_SQL.format(k='doc_id')} <
      CASE lang WHEN 'de' THEN 32768 WHEN 'en' THEN 65536
                WHEN 'es' THEN 32768 WHEN 'fr' THEN 32768
                WHEN 'zh' THEN 16384 ELSE 6553 END""",
)
def q_corpus_mix(spark, sf):
    """Training-pipeline: domain/language reweighting — keep 100% of en,
    50% of de/es/fr, 25% of zh, 10% otherwise, by deterministic
    hash-Bernoulli (reprocessing-stable; a pure codegen'd filter)."""
    from lookup_transform_spark.operators.sampling import weighted_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    return weighted_sample(d, "lang", _MIX_RATES, "doc_id", _MIX_DEFAULT)


@_q(
    "anomaly_zscore",
    """WITH s AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0 AS sv,
         SUM(CAST(ROUND(value * value * 1000000) AS BIGINT)) / 1000000.0 AS svv
  FROM events GROUP BY user_id)
SELECT e.event_id, e.user_id,
       ROUND((e.value - sv / n) / SQRT((svv - sv * sv / n) / (n - 1)), 6) AS z
FROM events e JOIN s ON e.user_id = s.user_id
WHERE n > 1 AND (svv - sv * sv / n) > 0
  AND ABS((e.value - sv / n) / SQRT((svv - sv * sv / n) / (n - 1))) > 2.5""",
)
def q_anomaly_zscore(spark, sf):
    """Per-user outlier filter: |z| > 2.5 against the user's own
    mean/std (training-data quality gate on the event stream). Moments
    via one partial-aggregated groupBy (decimal sums for cross-engine
    determinism), then a broadcast join back — the fact table is
    scanned once and never shuffled."""
    e = _events(spark, sf).select("event_id", "user_id", "value")
    stats = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        fp_sum("value", 6).alias("sv"),
        fp_sum("value * value", 6).alias("svv"),
    )
    n, sv, svv = F.col("n"), F.col("sv"), F.col("svv")
    var = (svv - sv * sv / n) / (n - 1)
    z = (F.col("value") - sv / n) / F.sqrt(var)
    return (
        e.join(F.broadcast(stats), "user_id")
        .filter((n > 1) & ((svv - sv * sv / n) > 0) & (F.abs(z) > 2.5))
        .select("event_id", "user_id", F.round(z, 6).alias("z"))
    )


def _zorder_oracle() -> str:
    from lookup_transform_spark.operators.layout import zorder_code_sql

    a = "(o_custkey % 256)"
    b = "(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256)"
    return (
        f"SELECT o_orderkey, ({zorder_code_sql(a, b)}) AS zcode FROM orders"
    )


@_q("zorder_layout", _zorder_oracle())
def q_zorder_layout(spark, sf):
    """Data layout for scan locality: Morton (Z-order) code over the two
    common filter keys — the clustering key a 100 TB writer sorts by so
    parquet min/max statistics prune BOTH dimensions (a writer
    range-partitions and sorts on it; this query pins the code itself
    cross-engine)."""
    from lookup_transform_spark.operators.layout import zorder_code

    o = _t(spark, sf, "orders")
    a = F.pmod(F.col("o_custkey"), F.lit(256))
    b = F.pmod(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")),
        F.lit(256),
    )
    return o.select("o_orderkey", zorder_code(a, b).alias("zcode"))


@_q(
    "lookup_type_widening",
    """SELECT o.o_orderkey, CAST(o.o_custkey AS INTEGER) AS ck32, c.c_mktsegment AS segment
FROM orders o LEFT JOIN customer c ON CAST(o.o_custkey AS INTEGER) = c.c_custkey""",
)
def q_lookup_type_widening(spark, sf):
    """A6 key-compatibility in action: int32 input key joins a bigint
    lookup key — Schema.isCompatible's widening analog
    (Lookup.java:510-514), Spark upcasts in the join."""
    inp = _t(spark, sf, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("int").alias("ck32")
    )
    spec = LookupSpec("customer", "ck32", "c_custkey", "c_mktsegment", "segment")
    return spec.apply(inp, _t(spark, sf, "customer"))


# ---------------------------------------------------------------------------
# TPC-H breadth: EXISTS, pure filter-agg, conditional-agg ratio,
# disjunctive pushdown, scalar-threshold + anti-join
# ---------------------------------------------------------------------------

@_q(
    "tpch_q4_priority",
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o.o_orderpriority""",
)
def q_tpch_q4_priority(spark, sf):
    """TPC-H Q4 shape: correlated EXISTS with a non-equi residual
    (l_shipdate > o_orderdate) alongside the key.

    Written as inner join + distinct-on-o_orderkey rather than
    left-semi: the two are equivalent because o_orderkey is unique in
    orders, but Spark can only BUILD on the right side of a semi join —
    the huge fact side here — so the semi formulation is stuck in a
    both-sides shuffle. The inner form lets CBO/AQE build a broadcast
    hash join on the quarter-filtered orders, and the distinct's
    map-side partial aggregation caps the remaining shuffle at the
    matched-order keys per partition. No broadcast hint: the filtered
    size is a planner decision (catalog stats plan-time, AQE runtime),
    so a 1000x orders table degrades to a shuffled join instead of an
    OOM'd driver. The planner only SEES the quarter filter's
    selectivity once the catalog declares the timestamp column
    ANALYZE-able (stats.py NTZ note, r8): before that fix this query
    planned as a 19.2M-row SortMergeJoin at the 32x probe (1.41 s);
    with estimation + the 32MB broadcast tier it is a broadcast probe
    (0.69 s) with no hint in the query."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"]
    )
    return (
        li.join(o, cond)
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "tpch_q6_forecast",
    """SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""",
)
def q_tpch_q6_forecast(spark, sf):
    """TPC-H Q6: pure filter + global agg — every predicate must reach
    the parquet scan (PushedFilters), no shuffle beyond the final
    single-row combine."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        fp_sum("l_extendedprice * l_discount", 4).alias("revenue")
    )


@_q(
    "tpch_q14_promo",
    """SELECT ROUND(
  100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
        / CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) AS DOUBLE),
  6) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""",
)
def q_tpch_q14_promo(spark, sf):
    """TPC-H Q14: conditional-aggregate ratio (promo revenue share).
    part is a broadcast dim; both sums accumulate exact decimal so the
    double ratio is bit-identical across engines."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = scaled_long("l_extendedprice * (1 - l_discount)", 4)
    zero = F.lit(0).cast("long")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
            .cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue")
    )


@_q(
    "tpch_q19_disjunctive",
    """SELECT SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)""",
)
def q_tpch_q19_disjunctive(spark, sf):
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst
    extracts the single-side conjuncts (brand/size, quantity bounds)
    below the join, so each scan is pre-filtered before the broadcast
    hash join evaluates the residual disjunction."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    disj = (
        ((b == "Brand#1") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#2") & s.between(1, 25) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(1, 35) & q.between(20, 30))
    )
    return j.filter(disj).agg(
        _fsum("l_extendedprice * (1 - l_discount)", "revenue", dp=4)
    )


@_q(
    "tpch_q22_dormant",
    """SELECT n.n_name, COUNT(*) AS numcust,
       SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (
        SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0 / COUNT(*)
        FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n.n_name""",
)
def q_tpch_q22_dormant(spark, sf):
    """TPC-H Q22 shape: above-average balance (scalar agg threshold,
    broadcast single row) + never-ordered (anti join), rolled up by
    nation."""
    c = _t(spark, sf, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (fp_sum("c_acctbal", 2) / F.count(F.lit(1)))
            .alias("__avg_bal__")
        )
    )
    rich = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg_bal__"))
    dormant = rich.join(
        _t(spark, sf, "orders").select(F.col("o_custkey")),
        rich["c_custkey"] == F.col("o_custkey"),
        "left_anti",
    )
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        dormant.join(F.broadcast(n), dormant["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _fsum("c_acctbal", "totacctbal", dp=2),
        )
    )


