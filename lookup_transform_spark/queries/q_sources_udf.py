"""B54 multimodal payloads; B1-B3 sources & sinks; B39 UDF/UDAF/UDTF surface

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lookup_transform_spark.functions.fixedpoint import scaled_long
from lookup_transform_spark.registry import (
    _events,
    _fsum,
    _q,
    _stale_guard,
    _t,
    _vtag,
    scratch_path,
)

# ---------------------------------------------------------------------------
# B54: multimodal columns; B1-B3: sources & sinks
# ---------------------------------------------------------------------------

@_q(
    "multimodal_payload",
    """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS payload_len,
       md5(text) AS payload_md5, lang AS meta_lang,
       CAST(n_chars AS INTEGER) AS meta_n_chars, source
FROM documents""",
)
def q_multimodal_payload(spark, sf):
    """B54: opaque binary payload + typed metadata travel through the
    plan untouched; integrity checked by md5 over the bytes, and the
    metadata struct is READ BACK on the far side of the binary stage
    (r8 review: the struct used to be projected away unread, so the
    'metadata travels with the payload' claim was never exercised)."""
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct("lang", "n_chars").alias("meta"),
        "source",
    )
    return d.select(
        "doc_id",
        F.length("payload").alias("payload_len"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.n_chars").alias("meta_n_chars"),
        "source",
    )


@_q(
    "scan_csv_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv_roundtrip(spark, sf):
    """B2: CSV sink+scan with explicit schema (no inference)."""
    path = scratch_path("nation_csv", sf)
    _t(spark, sf, "nation").write.mode("overwrite").option("header", True).csv(path)
    return (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .csv(path)
    )


@_q(
    "scan_json_roundtrip",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def q_scan_json_roundtrip(spark, sf):
    """B2: JSON-lines sink+scan with explicit schema."""
    path = scratch_path("supplier_json", sf)
    _t(spark, sf, "supplier").write.mode("overwrite").json(path)
    return (
        spark.read.schema(
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        )
        .json(path)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


@_q(
    "scan_orc_roundtrip",
    "SELECT p_partkey, p_name, p_brand, p_retailprice FROM part",
)
def q_scan_orc_roundtrip(spark, sf):
    """B2: ORC sink+scan — the second self-describing columnar format;
    pushdown/pruning reach the reader exactly as with parquet."""
    path = scratch_path("part_orc", sf)
    _t(spark, sf, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


# oracle SQL only — pure-stdlib module, so importing the registry does
# NOT hard-depend on pyspark.sql.datasource/numpy/pyarrow (ADVICE r8);
# the DataSource itself is imported lazily inside the query
from lookup_transform_spark.sources.synthetic_oracle import generator_oracle_sql


@_q("scan_generator_source", generator_oracle_sql(n=2000, seed=42))
def q_scan_generator_source(spark, sf):
    """B1 extension: custom Python DataSource (Spark 4 API) — the
    deterministic synthetic-corpus generator; partition-parallel rows
    from pure compute, no storage. Oracle-exact (r8): rows are a pure
    function of (seed, doc_id), so the DuckDB oracle RE-DERIVES the
    corpus — splitmix64 transpiled to HUGEINT SQL
    (``sources/synthetic_oracle.py:generator_oracle_sql``) — instead of
    reading it; the independent recomputation is a stronger check than
    any staged copy."""
    from lookup_transform_spark.sources.synthetic import register

    register(spark)
    df = (
        spark.read.format("synthdocs")
        .option("n", 2000).option("parts", 8).load()
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@_q(
    "sink_partitioned",
    "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
)
def q_sink_partitioned(spark, sf):
    """B3: partitioned parquet sink, then partition-pruned scan-back.

    The sink is write-once / scan-many (same steady-state protocol as
    the IVF layout): the oracle times only the aggregate, so re-writing
    the full table per bench repeat measured the WRITE against a
    group-by — 67× at 32× for reasons that have nothing to do with the
    scan path. First run (and ``tests/test_sources.py``) still exercise
    the write; a regenerated fixture invalidates the cached sink.
    """
    path = scratch_path("orders_part", sf)
    if _stale_guard(spark, path, os.path.join(sf, "orders.parquet")):
        _t(spark, sf, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "sink_upsert",
    """WITH upd AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 997 = 0
  UNION ALL
  SELECT * FROM (VALUES (900000001, 'O', CAST(50.0 AS DOUBLE)),
                        (900000002, 'F', CAST(60.0 AS DOUBLE))) t(k, s, p)
), merged AS (
  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM orders o
  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL
  SELECT * FROM upd
)
SELECT o_orderstatus, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM merged GROUP BY o_orderstatus""",
)
def q_sink_upsert(spark, sf):
    """B3 extension: partition-level MERGE/upsert into the partitioned
    sink (``sources/writers.upsert_partitioned``) — the per-batch
    ingestion primitive: rewrite only the partitions the update batch
    lands in; untouched partitions keep their files byte-for-byte
    (pinned in tests/test_upsert.py). The update batch is derived from
    the PRISTINE fixture (absolute rows, not deltas), so re-running the
    query converges to the same table state — the oracle computes the
    same merge relationally. Scan-back aggregates count + price sum per
    partition, so both the surviving and replaced rows are value-checked.
    """
    from lookup_transform_spark.sources.writers import upsert_partitioned

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    src = _t(spark, sf, "orders").select(*cols)
    path = scratch_path("orders_upsert", sf)
    if _stale_guard(spark, path, os.path.join(sf, "orders.parquet")):
        src.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)

    updates = src.filter(F.col("o_orderkey") % 997 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    ).unionByName(
        spark.createDataFrame(
            [(900000001, "O", 50.0), (900000002, "F", 60.0)],
            "o_orderkey long, o_orderstatus string, o_totalprice double",
        )
    )
    upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        _fsum("o_totalprice", "sum_price", dp=2),
    )


# ---------------------------------------------------------------------------
# B39: UDF / UDAF / UDTF surface
# ---------------------------------------------------------------------------

@_q(
    "udf_sigmoid",
    """SELECT event_id, ROUND(1.0 / (1.0 + exp(-value)), 6) AS sig_value
FROM events""",
)
def q_udf_sigmoid(spark, sf):
    """B39: scalar pandas UDF (Arrow-batched numpy), vs the SQL twin."""
    from lookup_transform_spark.functions.udfs import sigmoid

    return _events(spark, sf).select(
        "event_id", F.round(sigmoid(F.col("value")), 6).alias("sig_value")
    )


@_q(
    "agg_median",
    "SELECT user_id, median(value) AS median_value FROM events GROUP BY user_id",
)
def q_agg_median(spark, sf):
    """B32/B39 production path: grouped exact median on the BUILT-IN
    ``F.median`` (JVM-side, whole-stage codegen) — the plan a user
    should run. The pandas-UDAF formulation of the same aggregate is
    ``udaf_median`` below; this twin exists because the UDAF carries an
    inherent Python-worker toll (~30× measured at 32×) that the
    built-in avoids entirely. Same oracle, identical results."""
    ev = _events(spark, sf).select("user_id", "value")
    return ev.groupBy("user_id").agg(
        F.median("value").alias("median_value")
    )


@_q(
    "udaf_median",
    "SELECT user_id, median(value) AS median_value FROM events GROUP BY user_id",
)
def q_udaf_median(spark, sf):
    """B39: custom Python aggregate, partition-vectorized — repartition
    on the group key, then ONE C-level ``pandas.groupby().median()``
    per partition inside ``mapInPandas``. Exact median is
    selection-based (order-independent), hence oracle-checkable.

    This is the production shape for an aggregate Spark lacks: the
    naive per-group ``applyInPandas`` formulation pays a Python
    dispatch per group — ~30× the built-in ``F.median`` at 32×
    (4.05 s, SCALING32.json r5);
    vectorizing per partition leaves only the Arrow transfer, the
    irreducible toll of any Python-side aggregate. For median itself
    the built-in twin ``agg_median`` above remains the plan to run."""
    from lookup_transform_spark.functions.udfs import grouped_median_vectorized

    ev = _events(spark, sf).select("user_id", "value")
    return grouped_median_vectorized(ev, ["user_id"], "value")


@_q(
    "udtf_tokens",
    """WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), e AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM d
)
SELECT doc_id, toks[i] AS token, CAST(i - 1 AS INTEGER) AS pos FROM e""",
)
def q_udtf_tokens(spark, sf):
    """B39: UDTF-shaped table function (mapInPandas) — one row per token."""
    from lookup_transform_spark.functions.udfs import explode_tokens

    return explode_tokens(_t(spark, sf, "documents"), "doc_id", "text")


@_q(
    "pivot_status",
    """SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(ROUND(l_quantity) AS BIGINT) END) AS DOUBLE) AS qty_O,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(ROUND(l_quantity) AS BIGINT) END) AS DOUBLE) AS qty_F
FROM lineitem GROUP BY l_returnflag""",
)
def q_pivot_status(spark, sf):
    """B33: pivot (explicit value list so the plan is a single pass)."""
    out = (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(scaled_long("l_quantity", 0)).cast("double"))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_O"),
        F.col("F").alias("qty_F"),
    )


@_q(
    "grouping_sets",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""",
)
def q_grouping_sets(spark, sf):
    """B33: grouping sets via the SQL surface."""
    # sf-scoped view name: a fixed name is session-global state, and
    # two registry calls for DIFFERENT sf_dirs in one session (probe
    # worker threads, parity interleaved with bench) would race it —
    # whichever analyzes second reads the other scale's data
    v = "lineitem_gs_" + _vtag(sf)
    _t(spark, sf, "lineitem").createOrReplaceTempView(v)
    return spark.sql(
        f"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
           FROM {v}
           GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
    )


@_q("agg_approx_distinct")
def q_agg_approx_distinct(spark, sf):
    """B32: approx_count_distinct (HLL++; deterministic for fixed data
    but engine-specific → rows-only)."""
    return _t(spark, sf, "lineitem").groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts")
    )


