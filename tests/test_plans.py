"""Physical-plan assertions — the scale contract, pinned.

These tests encode the properties the 100 TB design depends on:
filters reach the parquet scan, scans are column-pruned, the lookup
side broadcasts (and only when asked), aggregates combine map-side.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from lookup_transform_spark import registry
from lookup_transform_spark.queries.q_analytic import bm25_per_doc
from lookup_transform_spark.session import scoped_confs

SF = "/root/testdata/sf0.01"
# broadcast off, so a small test index can't sidestep a shuffle assertion
NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_lookup_broadcasts_and_prunes(spark):
    df = registry.QUERIES["lookup"](spark, SF)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    # the lookup side reads exactly key+value (Lookup.java:113,293,315
    # one-field select-list, reproduced as explicit pre-join pruning)
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    cust_schema = [s for s in read_schemas if "c_custkey" in s]
    assert cust_schema and "c_name" not in cust_schema[0]
    assert "c_acctbal" not in cust_schema[0]


def test_filter_pushdown_reaches_scan(spark):
    df = registry.QUERIES["filter_predicates"](spark, SF)
    plan = explain_str(df)
    assert "PushedFilters" in plan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line][0]
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed


def test_q1_column_pruning(spark):
    df = registry.QUERIES["tpch_q1"](spark, SF)
    plan = explain_str(df)
    schema_line = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    # only the 7 referenced columns are read; keys are not
    assert "l_quantity" in schema_line and "l_shipdate" in schema_line
    assert "l_orderkey" not in schema_line and "l_partkey" not in schema_line


def test_q1_partial_aggregation(spark):
    # map-side combine: partial + final HashAggregate around one exchange
    df = registry.QUERIES["tpch_q1"](spark, SF)
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_broadcast_false_lookups_run_sort_merge(spark):
    """B18: ``broadcast=False`` binds. Without a hint Spark's own size
    rule broadcast these fact-sized sides anyway (10MB default, 32MB
    under ``enable_cbo``); the executed plan must be a sort-merge join,
    while a default spec still broadcasts."""
    for name, want, banned in (
        ("lookup_big", "SortMergeJoin", "BroadcastHashJoin"),
        ("lookup_multi_key", "SortMergeJoin", "BroadcastHashJoin"),
        ("lookup", "BroadcastHashJoin", "SortMergeJoin"),
    ):
        df = registry.QUERIES[name](spark, SF)
        df.collect()  # explain then shows the executed (final) plan
        plan = explain_str(df)
        assert want in plan and banned not in plan, (name, plan)


def test_lookup_has_broadcast_hint(spark):
    df = registry.QUERIES["lookup"](spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical


def test_whole_stage_codegen_on_scan_paths(spark):
    df = registry.QUERIES["scalar_funcs"](spark, SF)
    plan = explain_str(df, "simple")
    # "*(n)" prefixes mark whole-stage-codegen'd operators
    assert "*(1)" in plan


def test_window_topk_single_shuffle(spark):
    df = registry.QUERIES["window_topk"](spark, SF)
    plan = explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_scan_once_rewrites_read_fact_table_once(spark):
    """The self-referencing TPC-H shapes (q11/q15: aggregate vs a
    scalar of the same aggregate; q17: decorrelated per-part average;
    q4: semi rewritten to inner+distinct) each scan lineitem exactly
    ONCE — the round-6 rewrite this pin protects. Counted on the
    parquet file path because formatted explain puts scan locations on
    their own detail lines, not the node line."""
    for q in (
        "tpch_q11_value_conc",
        "tpch_q15_top_supplier",
        "tpch_q17_small_qty",
        "tpch_q4_priority",
    ):
        plan = explain_str(registry.QUERIES[q](spark, SF))
        assert plan.count("lineitem.parquet") == 1, (
            f"{q} re-scans lineitem: {plan.count('lineitem.parquet')} scans"
        )


def test_bm25_topk_no_global_sort_and_pruned_scan(spark):
    """The BM25 scale contract (r7, VERDICT r6 #6: ONE documents scan):
    the corpus text is read+tokenized exactly once — the per-doc stats
    projection (bm25_per_doc) is the only parquet scan, it prunes to
    doc_id+text, and the FINAL plan reads only the ~40 B/doc
    checkpointed projection (no second FileScan for the N/Σdl/df
    constants, which fold into one 1-row broadcast agg). The top-20
    compiles to TakeOrderedAndProject (O(k) per partition — never a
    global sort of scored docs)."""
    terms = ["join", "window", "hash", "stream"]
    per_doc = bm25_per_doc(spark, SF, terms)
    pd_plan = explain_str(per_doc)
    assert pd_plan.count("documents.parquet") == 1
    schema_lines = [
        line for line in pd_plan.splitlines() if "ReadSchema" in line
    ]
    assert schema_lines and all(
        "source" not in s and "lang" not in s for s in schema_lines
    )

    df = registry.QUERIES["bm25_retrieval"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    # both consumers (constants agg + scorer) read the checkpointed
    # per-doc RDD, not the parquet — zero FileScans in the final plan
    assert "documents.parquet" not in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_bucketed_join_has_no_shuffle(spark):
    # both sides bucketed by the join key → SMJ reads buckets directly;
    # the only acceptable Exchange is AQE's post-agg coalesce, never a
    # hashpartitioning of either scan side before the join
    df = registry.QUERIES["bucketed_join"](spark, SF)
    plan = explain_str(df, "simple")
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "Exchange hashpartitioning" not in join_part, plan


def test_bucketed_reattach_validates_written_spec(spark, tmp_path):
    """r8 review: the catalog trusts whatever CLUSTERED BY spec an
    attach declares and skips the shuffle, so re-attaching a 16-bucket
    layout as 8 buckets joins bucket i against bucket i under two
    different hash specs — silent row loss, not an error. The written
    spec sidecar must refuse a mismatched attach; a matching re-attach
    still works."""
    import pytest

    from lookup_transform_spark.operators.bucketing import (
        attach_external_bucketed,
        ensure_bucketed,
        write_bucketed,
    )

    df = spark.read.parquet(f"{SF}/nation.parquet")
    path = str(tmp_path / "nat_b")
    spark.sql("DROP TABLE IF EXISTS nat_spec_test")
    write_bucketed(df, "nat_spec_test", "n_nationkey", 4, path=path)
    spark.sql("DROP TABLE IF EXISTS nat_spec_test")
    # mismatched bucket count and mismatched column both refuse
    for col, n in (("n_nationkey", 8), ("n_regionkey", 4)):
        with pytest.raises(ValueError, match="CLUSTERED BY"):
            attach_external_bucketed(
                spark, "nat_spec_test", path, col, n, df.schema
            )
    # the written spec re-attaches fine (and reads back correctly)
    ensure_bucketed(spark, df, "nat_spec_test", "n_nationkey", 4, path)
    assert spark.table("nat_spec_test").count() == df.count()
    spark.sql("DROP TABLE IF EXISTS nat_spec_test")


def test_bucketed_attach_quotes_struct_field_names(spark, tmp_path):
    """The attach DDL spells every column type out: a struct field name
    with a space (or a backtick in the bucket column's name) must be
    quoted, not spliced raw into ``CREATE TABLE``."""
    from lookup_transform_spark.operators.bucketing import (
        attach_external_bucketed,
        write_bucketed,
    )

    df = spark.createDataFrame(
        [(1, (0.5,)), (2, (1.5,))], "`k``ey` long, s struct<`my val`:double>"
    )
    path = str(tmp_path / "struct_b")
    spark.sql("DROP TABLE IF EXISTS struct_attach_test")
    write_bucketed(df, "struct_attach_test", "k`ey", 2, path=path)
    spark.sql("DROP TABLE IF EXISTS struct_attach_test")
    attach_external_bucketed(
        spark, "struct_attach_test", path, "k`ey", 2, df.schema
    )
    back = spark.table("struct_attach_test")
    assert sorted((r[0], r[1][0]) for r in back.collect()) == [(1, 0.5), (2, 1.5)]
    spark.sql("DROP TABLE IF EXISTS struct_attach_test")


def test_bucketed_attach_quotes_location_path(spark, tmp_path):
    """A path carrying a quote must reach ``LOCATION`` as an escaped
    string literal, not end the literal early."""
    from lookup_transform_spark.operators.bucketing import (
        attach_external_bucketed,
        write_bucketed,
    )

    df = spark.read.parquet(f"{SF}/nation.parquet")
    path = str(tmp_path / "it's_b")
    spark.sql("DROP TABLE IF EXISTS path_attach_test")
    write_bucketed(df, "path_attach_test", "n_nationkey", 4, path=path)
    spark.sql("DROP TABLE IF EXISTS path_attach_test")
    attach_external_bucketed(
        spark, "path_attach_test", path, "n_nationkey", 4, df.schema
    )
    assert spark.table("path_attach_test").count() == df.count()
    spark.sql("DROP TABLE IF EXISTS path_attach_test")


def test_incremental_probe_standing_side_not_reshuffled(spark, tmp_path):
    """The at-rest fingerprint index contract (B50 incremental, 100 TB
    story): per-ingest cost is O(batch). The probe's anti-join must read
    the standing bucketed index IN PLACE — the only hashpartitioning
    Exchange in the plan is the NEW batch shuffling into the index's
    bucket layout; the history side is never reshuffled (or even
    re-fingerprinted). Broadcast is disabled so the small test index
    can't sidestep the assertion."""
    from lookup_transform_spark.operators.dedup import (
        incremental_probe,
        write_fingerprint_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    table = "fpidx_plan_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_fingerprint_index(
        spark, docs.filter("doc_id % 10 < 8"), table, str(tmp_path / "fpidx")
    )
    try:
        with scoped_confs(spark, NO_BROADCAST):
            out = incremental_probe(
                spark, docs.filter("doc_id % 10 >= 8"), table
            )
            plan = explain_str(out, "simple")
            assert plan.count("Exchange hashpartitioning") == 1, plan
            # and the indexed probe returns exactly the in-plan result
            got = sorted(r["doc_id"] for r in out.collect())
            want = sorted(
                r["doc_id"]
                for r in registry.QUERIES["dedup_incremental"](
                    spark, SF
                ).collect()
            )
            assert got == want and got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_salted_join_spreads_hot_key(spark):
    df = registry.QUERIES["lookup_skew_salted"](spark, SF)
    plan = explain_str(df, "simple")
    # join condition includes the salt column
    assert "__salt__" in plan


def test_partitioned_sink_scan_prunes_partitions(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    path = str(tmp_path / "orders_part")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter("o_orderstatus = 'O'")
    plan = explain_str(back)
    pf = [line for line in plan.splitlines() if "PartitionFilters" in line][0]
    # the status predicate prunes whole directories, it never reaches rows
    assert "o_orderstatus" in pf


def test_compaction_bounds_file_count(spark, tmp_path):
    import glob

    from lookup_transform_spark.streaming.ingest import compact_ingest_state

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    fragmented = str(tmp_path / "batch_00000")
    orders.repartition(50).write.mode("overwrite").parquet(fragmented)
    assert len(glob.glob(f"{fragmented}/part-*.parquet")) == 50

    compact_ingest_state(spark, str(tmp_path), 1, target_files=4)
    compacted = str(tmp_path / "seg_00000_00001")
    assert len(glob.glob(f"{compacted}/part-*.parquet")) == 4
    assert spark.read.parquet(compacted).count() == orders.count()


def test_corpus_mix_is_pure_narrow_filter(spark):
    # weighted sampling is a codegen'd predicate in the scan stage:
    # no Exchange anywhere in the plan, and the scan is column-pruned
    df = registry.QUERIES["corpus_mix"](spark, SF)
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan, plan
    sch = [line for line in explain_str(df).splitlines() if "ReadSchema" in line][0]
    assert "text" not in sch  # the wide column is never read


def test_anomaly_zscore_broadcasts_stats(spark):
    # per-user moments aggregate partially, then broadcast back onto the
    # fact scan — the events table is never hash-repartitioned
    df = registry.QUERIES["anomaly_zscore"](spark, SF)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_decontaminate_never_shuffles_corpus(spark):
    # r11: the blocklist is one boundary-guarded regex (RLIKE) over the
    # raw text — the whole query is one scan + filter projection: no
    # joins, no explode, and ZERO exchanges (the r7-r10 explode +
    # broadcast-semi + distinct + broadcast-anti form paid one hash
    # exchange and a second corpus scan)
    df = registry.QUERIES["decontaminate"](spark, SF)
    plan = explain_str(df, "simple")
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode
    assert "Exchange" not in plan


def test_decontaminate_blocklist_refuses_non_trigram_entries():
    # entries are spliced raw into a regex inside a SQL literal
    import pytest

    from lookup_transform_spark.queries.q_corpus import (
        DECONTAM_TRIGRAMS,
        _check_trigrams,
    )

    assert _check_trigrams(DECONTAM_TRIGRAMS) == DECONTAM_TRIGRAMS
    for bad in ("big order", "big order.* scan", "it's a scan",
                "big  order scan", "Big order scan"):
        with pytest.raises(ValueError, match="trigrams"):
            _check_trigrams(("big order scan", bad))


def test_dedup_repartition_gated_on_input_width(spark):
    # already-wide input: _ensure_parallel must be an identity (no extra
    # Exchange shuffling the whole corpus); narrow input: widened to
    # defaultParallelism for the CPU-bound signature stage
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import _ensure_parallel

    n = spark.sparkContext.defaultParallelism
    wide = (
        spark.range(1000)
        .select(F.col("id").alias("doc_id"))
        .repartition(n + 4)
    )
    assert _ensure_parallel(wide, "doc_id") is wide
    narrow = spark.range(1000).select(F.col("id").alias("doc_id")).coalesce(1)
    widened = _ensure_parallel(narrow, "doc_id")
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() == n


def test_broadcast_gate_uses_stats_not_count(spark, monkeypatch):
    # the B18 size gate must come from Catalyst plan statistics: building
    # the plan may not run ANY action (the old pruned.count() was an
    # extra full scan of the lookup side per lookup)
    from pyspark.sql import DataFrame

    from lookup_transform_spark.plans.lookup import LookupSpec

    def boom(self):
        raise AssertionError("count() action during plan build")

    monkeypatch.setattr(DataFrame, "count", boom)
    inp = spark.read.parquet(f"{SF}/orders.parquet")
    lkp = spark.read.parquet(f"{SF}/customer.parquet")
    spec = LookupSpec(
        "customer", "o_custkey", "c_custkey", "c_name",
        broadcast_threshold_rows=10,
    )
    spec.apply(inp, lkp)  # must not trigger boom


def test_broadcast_gate_hints_by_estimated_size(spark):
    from lookup_transform_spark.plans.lookup import LookupSpec, _estimated_rows

    inp = spark.read.parquet(f"{SF}/orders.parquet")
    lkp = spark.read.parquet(f"{SF}/customer.parquet")
    est = _estimated_rows(lkp.select("c_custkey", "c_name"))
    assert est is not None and est > 0
    # threshold below the estimate → no broadcast hint in the plan
    small = LookupSpec(
        "customer", "o_custkey", "c_custkey", "c_name",
        broadcast_threshold_rows=max(est // 10, 1),
    )
    assert "broadcast" not in explain_str(
        small.apply(inp, lkp), "extended"
    ).lower().split("== physical plan ==")[0]
    # threshold far above the estimate → broadcast hint present
    big = LookupSpec(
        "customer", "o_custkey", "c_custkey", "c_name",
        broadcast_threshold_rows=est * 100,
    )
    assert "BroadcastHashJoin" in explain_str(big.apply(inp, lkp))


def test_kmeans_fixpoint_joinless(spark):
    # centroids travel in task closures: no Join / BroadcastExchange
    # anywhere, and the final assignment is MapInPandas straight over
    # the scan — the property that keeps each iteration one corpus pass
    from lookup_transform_spark.operators.clustering import kmeans_assign

    df = kmeans_assign(
        spark.read.parquet(f"{SF}/embeddings.parquet"),
        "vec_id",
        "embedding",
        k=4,
        iters=1,
    )
    plan = explain_str(df, "simple")
    assert "MapInPandas" in plan
    assert "Join" not in plan and "BroadcastExchange" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_hll_rollup_partial_sketch_aggregation(spark):
    # map-side partial sketch build/merge before each exchange: the
    # shuffle carries one sketch per (source,lang) per task, not rows
    df = registry.QUERIES["sketch_hll_rollup"](spark, SF)
    plan = explain_str(df)
    assert "partial_hll_sketch_agg" in plan
    assert "partial_hll_union_agg" in plan
    assert "hll_sketch_estimate" in plan


def test_gopher_filter_single_pass_no_shuffle(spark):
    # all rules are codegen expressions over ONE corpus scan with only
    # doc_id/text read. r12: the single-row-group test fixture trips
    # the gated compute-width spread, so exactly one Exchange — the
    # hashpartitioning(doc_id) repartition that parallelizes the rule
    # evaluation — is allowed; on multi-row-group inputs the gate is a
    # no-op and the plan has none (the rules themselves never shuffle).
    df = registry.QUERIES["quality_filter_gopher"](spark, SF)
    simple = explain_str(df, "simple")  # one line per node
    n_exchange = sum(
        1 for line in simple.splitlines() if "Exchange" in line
    )
    assert n_exchange <= 1
    if n_exchange:
        assert "hashpartitioning(doc_id" in simple
    plan = explain_str(df)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_quantile_rollup_single_scan_partial_counts(spark):
    # the whole leaf-build -> merge -> quantile pipeline reads the raw
    # events exactly once; every aggregation is map-side partial before
    # its exchange, so shuffles carry (group,bucket) partials, not rows
    df = registry.QUERIES["sketch_quantile_rollup"](spark, SF)
    plan = explain_str(df)
    # one file-scan node in the whole pipeline (formatted mode prints
    # each node twice: tree line + detail block)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_count" in plan


def test_bloom_semi_probe_filters_fact_before_join(spark):
    """r7 routed semi join: the REGISTERED query's key set is small, so
    semi_join_auto takes the plain broadcast path (no bloom, no Python
    — the r6 bench paid 17.8× for the unconditional bloom machinery);
    the FORCED bloom path must place the codegen bitmap probe on the
    fact side BELOW the semi join, so the join exchange reads only
    probe survivors."""
    df = registry.QUERIES["join_bloom_semi"](spark, SF)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "ArrowEvalPython" not in plan and "pythonUDF" not in plan

    from lookup_transform_spark.operators.bloomjoin import semi_join_auto

    fact = spark.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey")
    keys = spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey")
    forced = semi_join_auto(
        fact, keys, "l_orderkey", "o_orderkey", force="bloom"
    )
    p = explain_str(forced, "simple")
    join_at = p.find("LeftSemi")
    # the probe is an ascii(decode(substring(bitmap,...))) filter —
    # Spark prints decode as static_invoke(StringDecode.decode(...));
    # printed under (= after) the join node means BELOW it in the tree
    probe_at = p.find("StringDecode.decode")
    assert join_at > 0 and probe_at > join_at, p[:2000]
    assert "ArrowEvalPython" not in p  # pure JVM probe


def test_q1_aggregates_are_fixed_point_not_decimal(spark):
    # the determinism rule runs on long accumulators; a regression to
    # decimal casts would silently fall off whole-stage codegen
    # (functions/fixedpoint.py has the 2.5x measurements)
    df = registry.QUERIES["tpch_q1"](spark, SF)
    plan = explain_str(df)
    agg_lines = [ln for ln in plan.splitlines() if "Functions" in ln]
    assert agg_lines
    for ln in agg_lines:
        assert "decimal" not in ln, ln
        assert "as bigint" in ln or "count" in ln, ln


def test_incremental_minhash_standing_tables_read_bucketed(spark, tmp_path):
    """The LSH index contract: a probe shuffles only the NEW batch; both
    standing tables (band index, doc store) are read as BUCKETED scans —
    co-located with the probe joins, never re-shuffled or recomputed."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.dedup import (
        incremental_minhash_probe,
        write_lsh_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS lshplan_bands")
    spark.sql("DROP TABLE IF EXISTS lshplan_docs")
    write_lsh_index(
        spark, docs.filter("doc_id % 10 < 8"), "lshplan", str(tmp_path / "lsh")
    )
    try:
        with scoped_confs(spark, NO_BROADCAST):
            out = incremental_minhash_probe(
                spark, docs.filter("doc_id % 10 >= 8"), "lshplan"
            )
            plan = explain_str(out)
            scans = [
                ln for ln in plan.splitlines()
                if "Location" in ln and "lsh" in ln
            ]
            buck = plan.count("Bucketed: true")
            assert buck >= 2, plan[:2000]  # both standing tables bucketed
            assert out.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS lshplan_bands")
        spark.sql("DROP TABLE IF EXISTS lshplan_docs")


def test_stats_cbo_runtime_bloom_filters_fact_scan(spark, forget_stats):
    """VERDICT r5 #1 pin: with ingest-time catalog statistics
    (stats.register_stats_tables) + CBO enabled, Spark's own
    InjectRuntimeFilter pushes dimension selectivity across the join as
    a bloom probe (`might_contain`) sitting directly on the FACT scan —
    the fact-side Exchange reads only filter survivors. The broadcast
    threshold is floored so the fixture plans shuffle like the 100 TB
    case (injection is skipped for broadcast-able joins, where it would
    be pointless)."""
    import re

    from lookup_transform_spark import stats

    db = stats.register_stats_tables(spark, SF)
    # scope EVERY conf this test (via enable_cbo) mutates, entered at
    # its current value — the spark fixture is session-scoped, so a
    # missed restore leaks runtime bloom-filter injection into every
    # later plan-shape test
    keys = (
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
    )
    try:
        with scoped_confs(spark, {k: spark.conf.get(k) for k in keys}):
            stats.enable_cbo(spark, application_side_threshold="0")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
            # stats-backed catalog tables actually serve the queries
            assert "default.lineitem" not in db
            for q in ("tpch_q7_volume", "tpch_q8_market_share",
                      "tpch_q21_waiting"):
                df = registry.QUERIES[q](spark, SF)
                opt = df._jdf.queryExecution().optimizedPlan().toString()
                n = len(re.findall("might_contain", opt))
                assert n >= 1, f"{q}: no runtime bloom filter injected"
            # on q8 and q21 a probe must guard the FACT scan itself — a
            # might_contain over a lineitem key column (q7's probes land on
            # the supplier/customer inputs instead, which shrinks the join
            # but not the fact scan — also useful, not asserted)
            for q in ("tpch_q8_market_share", "tpch_q21_waiting"):
                df = registry.QUERIES[q](spark, SF)
                opt = df._jdf.queryExecution().optimizedPlan().toString()
                assert re.search(
                    r"might_contain\(scalar-subquery#\d+ \[\], xxhash64\(l_", opt
                ), f"{q}: no bloom probe on a lineitem key"
            # CBO join reorder: q5's innermost join must be the dimension
            # chain (nation x region), not the authored customer x orders
            df5 = registry.QUERIES["tpch_q5_local_supplier"](spark, SF)
            opt5 = df5._jdf.queryExecution().optimizedPlan().toString()
            join_lines = [
                ln for ln in opt5.splitlines() if re.search(r"\bJoin Inner", ln)
            ]
            innermost = join_lines[-1]
            assert "n_regionkey" in innermost and "r_regionkey" in innermost, (
                "CBO reorder did not move the region/nation dimension chain "
                f"innermost: {innermost}"
            )
    finally:
        forget_stats(SF)


def test_substring_dup_rate_single_explode_pass_no_join(spark):
    """r7 rework (VERDICT r6 #3): the dup-rate pipeline evaluates the
    explode+substring subtree ONCE — one documents FileScan in the
    whole plan — and contains no join (the hot-set membership is a
    per-span window count over distinct (doc, span) pairs, not a
    semi-join back onto a re-exploded span stream)."""
    df = registry.QUERIES["substring_dup_rate"](spark, SF)
    plan = explain_str(df)
    assert plan.count("documents.parquet") == 1, plan
    assert "Join" not in plan, "dup-rate must not join"
    # simple mode prints each node once (formatted repeats it in the
    # detail section) — exactly one Generate = one explode pass
    simple = explain_str(df, "simple")
    assert simple.count("Generate") == 1, "explode must run once"


def test_missing_jvm_class_path_is_javapackage_not_error(spark):
    """Pin the py4j semantics _estimated_rows' Spark-3 fallback relies
    on: attribute access on a missing JVM class path does NOT raise —
    it returns another JavaPackage (py4j answers SUCCESS_PACKAGE for an
    unknown FQN; only calling one raises). A try/except fallback is
    therefore dead code; the version switch must be an isinstance
    check, and the class it settles on must be a real JavaClass."""
    from py4j.java_gateway import JavaPackage

    bogus = spark._jvm.org.apache.spark.sql.no_such_pkg.SparkSession
    assert isinstance(bogus, JavaPackage)  # no exception raised

    from py4j.java_gateway import JavaClass

    jcls = spark._jvm.org.apache.spark.sql.classic.SparkSession
    if isinstance(jcls, JavaPackage):  # Spark 3.x layout
        jcls = spark._jvm.org.apache.spark.sql.SparkSession
    assert isinstance(jcls, JavaClass)
    assert jcls.getActiveSession() is not None


def test_topk_sketch_leaf_single_scan_partial_counts(spark):
    """r9 heavy-hitter sketch: the leaf build reads the raw corpus
    exactly once with a map-side partial count before its exchange.
    (The MERGE stage is pinned structurally instead: topk_merge
    localCheckpoints the summary because its two consumer branches
    would otherwise re-evaluate the whole leaf lineage — re-scanning
    the corpus twice, measured in r9 — so the registered query's final
    plan reads the bounded summary RDD, not the file.)"""
    from pyspark.sql import functions as F

    from lookup_transform_spark import registry
    from lookup_transform_spark.operators.sketches import topk_sketch

    d = registry._t(spark, SF, "documents")
    toks = d.select(
        "lang", "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    leaves = topk_sketch(toks, ["lang"], "tok", F.col("doc_id") % 16, m=200)
    plan = explain_str(leaves)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_count" in plan
    # text never reaches the summary row — only lang/doc_id/text are
    # read, and the exploded token is the only wide thing in flight
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan


def test_weighted_topk_sample_no_full_sort(spark):
    """r9 A-ES sampler: global orderBy().limit(k) must lower to
    TakeOrderedAndProject (per-partition top-k + k-row driver merge),
    never a full Sort + Exchange rangepartitioning."""
    from lookup_transform_spark import registry

    df = registry.QUERIES["sample_weighted_topk"](spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


_FILTER_NODE = re.compile(r"^[\s:+\-|]*Filter (.*)$", re.M)


def test_no_filter_carries_an_array_function_chain(spark, sf_dir):
    """No optimized-plan Filter of a batch query holds a higher-order
    array function. Spark pushes a ``size(arr) > 0`` filter (explicit,
    or inferred under a plain ``explode``) below the projection that
    built ``arr`` and inlines the whole chain into it: every shingle
    is then built twice, the first time in the narrow scan stage and
    outside whole-stage codegen. Before ``minhash_lsh_pairs`` filtered
    on the text and ``ngram_jaccard_pairs`` used an outer explode, the
    sweep failed on exactly ``dedup_minhash``, ``ngram_jaccard`` and
    ``ngram_containment``. It builds all 148 batch queries: about 15 s
    inside Tier-1 on 4 cores, 45 s alone with session start-up."""
    bad = {}
    for name, fn in registry.QUERIES.items():
        if name.startswith("stream_"):
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        conds = [
            c for c in _FILTER_NODE.findall(plan.toString())
            if "transform(" in c or "aggregate(" in c
        ]
        if conds:
            bad[name] = conds[0][:200]
    assert not bad, f"Filters with array functions in {sorted(bad)}: {bad}"
