"""Full-registry scaling probe: every registered query at 1x (sf0.1)
and 32x derived scale (lineitem ~19.2M rows), this engine vs DuckDB.

The 32x fixture is derived from sf0.1 by unioning key-shifted copies of
the fact tables (lineitem/orders by orderkey; events by event_id+user_id;
documents by doc_id with a per-copy text tag so near-dup operators see
32-doc families, not byte-identical clones; embeddings by vec_id).
Dimensions (region/nation/customer/supplier/part) stay 1x — the
realistic star-schema shape, and it keeps every FK valid. Perf probing
only; never a correctness fixture.

Each query runs under a timeout on BOTH engines (Spark: job-group
cancel; DuckDB: interrupt) so quadratic-by-design operators can't hang
the probe. The stream queries run like the batch ones: each drains its
tier's events, so its time grows with the fixture. Two kinds are
excluded: the checkpointed ingest queries, whose repeat runs are
exactly-once no-ops, and scan_generator_source (fixed-size synthetic
source independent of sf_dir).

Results: SCALING32.json at the repo root + the per-query table is
pasted into SCALING.md.

Run: python scripts/scaling_probe.py [--skip-build] [--only q1,q2,...]

``--only`` re-times just the named queries and merges them into the
existing SCALING32.json (same protocol) — for refreshing entries after
an operator change without a full probe run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from lookup_transform_spark import registry, stats, timing
from lookup_transform_spark.parity import register_views
from lookup_transform_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.1"
SCALE = 32
OUT = f"{REPO}/.scratch/scale{SCALE}"
SPARK_TIMEOUT = float(os.environ.get("SPARK_GRAFT_PROBE_TIMEOUT", "240"))
REPEATS = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "2"))

EXCLUDE = {
    # checkpointed side-effecting ingest: repeat runs are no-ops by
    # design (exactly-once), so repeat timing measures nothing
    "stream_ingest_dedup",
    "stream_ingest_neardedup",
    # fixed-size synthetic source; ignores sf_dir entirely
    "scan_generator_source",
}

DIMS = ("region", "nation", "customer", "supplier", "part")


def build_scaled(spark) -> None:
    if os.path.exists(f"{OUT}/_done"):
        return
    os.makedirs(OUT, exist_ok=True)
    # fact tables: key-shifted unions so every copy stays FK-valid and
    # unique-keyed; documents get a per-copy text tag so near-dup ops see
    # 32-doc near-identical families instead of byte-identical clones.
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    dc = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    em = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    max_ok = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    max_ev, max_user = ev.agg(
        F.max("event_id"), F.max("user_id")
    ).collect()[0]
    max_ev, max_user = max_ev + 1, max_user + 1
    max_doc = dc.agg(F.max("doc_id")).collect()[0][0] + 1
    max_vec = em.agg(F.max("vec_id")).collect()[0][0] + 1

    def shifted(df, i: int, table: str):
        if table == "lineitem":
            return df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        if table == "orders":
            return df.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok))
        if table == "events":
            return df.withColumn(
                "event_id", F.col("event_id") + F.lit(i * max_ev)
            ).withColumn("user_id", F.col("user_id") + F.lit(i * max_user))
        if table == "documents":
            out = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * max_doc))
            if i:
                out = out.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" c{i}"))
                ).withColumn("n_chars", F.col("n_chars") + F.lit(len(f" c{i}")))
            return out
        if table == "embeddings":
            return df.withColumn("vec_id", F.col("vec_id") + F.lit(i * max_vec))
        raise ValueError(table)

    parts = {"lineitem": (li, 32), "orders": (o, 16), "events": (ev, 16),
             "documents": (dc, 16), "embeddings": (em, 8)}
    for table, (df, n_out) in parts.items():
        big = shifted(df, 0, table)
        for i in range(1, SCALE):
            big = big.unionByName(shifted(df, i, table))
        big.repartition(n_out).write.mode("overwrite").parquet(
            f"{OUT}/{table}.parquet"
        )
        print(f"built {table} x{SCALE}", flush=True)
    # dims stay 1x: plain file copies keep read paths identical in shape
    for t in DIMS:
        shutil.copyfile(f"{SF_DIR}/{t}.parquet", f"{OUT}/{t}.parquet")
    open(f"{OUT}/_done", "w").write("ok")


def fmt(r: dict) -> str:
    if "sec" in r:
        return f"{r['sec']:.2f}"
    if "timeout" in r:
        return f">{int(r['timeout'])} (timeout)"
    return "err"


def main() -> None:
    spark = get_spark("scaling-probe")
    if "--skip-build" not in sys.argv:
        build_scaled(spark)
    # same protocol as bench.py: ingest-time catalog stats + CBO,
    # registered outside every timed window (stats.py rationale)
    stats.register_stats_tables(spark, SF_DIR)
    stats.register_stats_tables(spark, OUT)
    stats.enable_cbo(spark, application_side_threshold="10MB")
    names = [q for q in sorted(registry.QUERIES) if q not in EXCLUDE]
    results: dict[str, dict] = {}
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(names)
        if unknown:
            raise SystemExit(f"--only names not in probe set: {sorted(unknown)}")
        names = [q for q in names if q in only]
        with open(f"{REPO}/SCALING32.json") as f:
            results = json.load(f)["queries"]
    for sf_label, sf_dir in (("1x", SF_DIR), ("32x", OUT)):
        con = duckdb.connect()
        register_views(con, sf_dir)
        # fresh per-tier dir for write-shaped oracle overrides
        # (timing.oracle_statements)
        with tempfile.TemporaryDirectory(prefix="probe_duck_") as duck_tmp:
            for name in names:
                rec = results.setdefault(name, {})
                rec[f"spark_{sf_label}"] = timing.time_query(
                    spark, registry.QUERIES[name], sf_dir, REPEATS,
                    timeout=SPARK_TIMEOUT,
                )
                if name in registry.ORACLES:
                    rec[f"duck_{sf_label}"] = timing.time_oracle(
                        con, timing.oracle_statements(name, duck_tmp), REPEATS
                    )
                print(
                    f"[{sf_label}] {name:32s} "
                    f"spark={fmt(rec[f'spark_{sf_label}']):>8s}"
                    + (
                        f" duck={fmt(rec[f'duck_{sf_label}']):>8s}"
                        if f"duck_{sf_label}" in rec
                        else ""
                    ),
                    flush=True,
                )
        con.close()

    out = {
        "scale": SCALE,
        "rows_1x": {"lineitem": 600_000},
        "rows_32x": {"lineitem": 600_000 * SCALE},
        "spark_timeout_sec": SPARK_TIMEOUT,
        "duck_timeout_sec": timing.ORACLE_TIMEOUT_S,
        "repeats": REPEATS,
        "estimator": "min",
        "loadavg": list(os.getloadavg()),
        "excluded": sorted(EXCLUDE),
        "queries": results,
    }
    with open(f"{REPO}/SCALING32.json", "w") as f:
        json.dump(out, f, indent=1)
    print("wrote SCALING32.json")


if __name__ == "__main__":
    main()
