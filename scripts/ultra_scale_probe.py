"""Ultra-scale probe of the GRADED operator family (VERDICT r9 #6).

The reference's own operator — the lookup join — had never been probed
past 128x. This runs `lookup` / `lookup_big` / the skew pair at 512x
lineitem (and `lookup` again at 1024x orders/customer) on fixtures
derived from scale32 by key-shifted copies, and records

- per-(query, scale) seconds with growth columns, and
- the OBSERVED plan decisions the 100 TB story rests on:
  (a) the size-gated broadcast in LookupSpec flipping from
      BroadcastHashJoin at 32x (15k-row customer) to a shuffled join
      at 512x (7.7M-row customer) — the probe fixture shifts
      ``custkey`` in BOTH orders and customer per copy, so the dim
      side actually grows (scale32 keeps dims at 1x);
  (b) AQE skew-join splitting engaging on the unsalted 3-value hot-key
      join at 512x (hot partitions ~1 GB > the 256 MB skew threshold;
      at 32x they sit under it), read from the executed FINAL plan.

Static plans are captured once per (query, scale), outside the timed
window (the broadcast gate is a plan-time decision); the skew evidence
is captured from the executed QueryExecution of a collect()-ed
aggregate over the join.

Writes ULTRASCALE.json. Run:
  python scripts/ultra_scale_probe.py [--skip-build]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lookup_transform_spark import registry, scale_profile, stats, timing
from lookup_transform_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE32 = f"{REPO}/.scratch/scale32"
OUT512 = f"{REPO}/.scratch/scale512"
OUT1024 = f"{REPO}/.scratch/scale1024"
REPEATS = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "2"))

#: key offset between copies — far above any key in the 32x fixture
SHIFT = 1_000_000_000


def build(spark, out: str, copies: dict[str, int]) -> None:
    """out = key-shifted copies of scale32, per-table copy counts.
    Join keys shift together (o_custkey with c_custkey, l_orderkey with
    o_orderkey) so every orders copy i joins customer copy i exactly as
    at 32x. ``customer`` gets the FULL copy count (scale32 keeps dims at
    1x — the r10 probe must actually GROW the dim for the broadcast
    gate to have anything to measure; customer copies beyond the orders
    range are simply unmatched dim rows, the realistic shape of a dim
    table much wider than the fact slice touching it)."""
    os.makedirs(out, exist_ok=True)

    def shifted(df, i: int, table: str):
        off = F.lit(i * SHIFT)
        if table == "customer":
            return df.withColumn("c_custkey", F.col("c_custkey") + off)
        if table == "orders":
            return (
                df.withColumn("o_orderkey", F.col("o_orderkey") + off)
                .withColumn("o_custkey", F.col("o_custkey") + off)
            )
        if table == "lineitem":
            return df.withColumn("l_orderkey", F.col("l_orderkey") + off)
        if table == "documents":
            # id-shifted EXACT text copies: the realistic boilerplate
            # shape at corpus scale, and it exercises the precluster
            # path (each text collapses to one banding representative,
            # so candidate volume stays O(reps·bands) while the star
            # output grows linearly with copies)
            return df.withColumn("doc_id", F.col("doc_id") + off)
        if table == "embeddings":
            return df.withColumn("vec_id", F.col("vec_id") + off)
        raise ValueError(table)

    files = {
        "customer": 4, "orders": 16, "lineitem": 32,
        "documents": 16, "embeddings": 8,
    }
    for table, n_copies in copies.items():
        marker = f"{out}/_done_{table}_{n_copies}"
        if os.path.exists(marker):
            continue
        df = spark.read.parquet(f"{BASE32}/{table}.parquet")
        big = shifted(df, 0, table)
        for i in range(1, n_copies):
            big = big.unionByName(shifted(df, i, table))
        n_out = max(files[table], files[table] * n_copies // 16)
        big.repartition(n_out).write.mode("overwrite").parquet(
            f"{out}/{table}.parquet"
        )
        open(marker, "w").write("ok")
        print(f"built {table} x32x{n_copies}", flush=True)


def _static_join_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().sparkPlan().toString()
    return sorted(set(re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin)", plan,
    )))


def time_with_plan(spark, name: str, sf_dir: str) -> dict:
    """Min-of-REPEATS seconds, plus the join nodes of the static plan,
    read once outside the timed window."""
    fn = registry.QUERIES[name]
    rec = timing.time_query(spark, fn, sf_dir, REPEATS)
    if "err" in rec:
        raise RuntimeError(f"{name}: {rec['err']}")
    return {"min_sec": rec["sec"],
            "samples": rec["samples"],
            "static_join_nodes": _static_join_nodes(fn(spark, sf_dir))}


def skew_probe(spark, sf_dir: str) -> dict:
    """AQE skew-join engagement on a genuinely skewed shuffle: a
    fact-fact sort-merge join where ONE side funnels 90% of its rows
    into a single key (the other side keeps unique keys, so no row
    explosion). At 512x the hot shuffle partition is ~GB-scale — past
    AQE's 256 MB default skew threshold, which fixture scales never
    reach. Executed through a 1-row collect so the FINAL plan
    (isFinalPlan=true) is readable; ``skew=true`` on the join node is
    the engagement evidence. (A 3-value hot key against a tiny dim —
    the first cut — gets BROADCAST and never shuffles at all; AQE skew
    handling only exists for shuffled joins.) It plans outside the
    registry, so it writes the size regime for ``sf_dir`` itself rather
    than run under whichever registry query ran last."""
    scale_profile.apply_scale_profile(spark, sf_dir)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # carry a realistic row payload: a bare 8-byte key column would
    # keep even a 69M-row hot partition under AQE's 256 MB compressed
    # skew threshold — real fact rows are wider
    left = o.select(
        F.when(F.col("o_orderkey") % 100 < 90, F.lit(0))
        .otherwise(F.col("o_orderkey")).alias("sk"),
        F.col("o_totalprice").alias("l_price"),
        "o_orderdate", "o_orderpriority", "o_orderstatus",
    )
    right = o.select(F.col("o_orderkey").alias("rk"), "o_totalprice")
    joined = left.join(right, left["sk"] == right["rk"], "left")
    agg = joined.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_price").alias("s")
    )
    t0 = time.perf_counter()
    rows = agg.collect()
    sec = time.perf_counter() - t0
    final = agg._jdf.queryExecution().executedPlan().toString()
    return {
        "sec": round(sec, 2),
        "n_rows_joined": int(rows[0]["n"]),
        "is_final_plan": "isFinalPlan=true" in final,
        "aqe_skew_engaged": "skew=true" in final,
    }


def main() -> None:
    spark = get_spark("ultra-scale-probe")
    if "--skip-build" not in sys.argv:
        build(spark, OUT512,
              {"customer": 512, "orders": 16, "lineitem": 16,
               "documents": 16, "embeddings": 16})
        build(spark, OUT1024, {"customer": 1024, "orders": 32})
    # same protocol as bench.py and the scaling probes: ingest-time
    # catalog stats + CBO, registered outside every timed window
    for sf_dir in (BASE32, OUT512, OUT1024):
        stats.register_stats_tables(spark, sf_dir)
    stats.enable_cbo(spark, application_side_threshold="10MB")

    out = {
        "fixture": {"512x": OUT512, "1024x": OUT1024},
        "repeats": REPEATS,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "queries": {},
        "skew": {},
    }
    # growth table: the flagship trio at 32x and 512x; lookup alone at
    # 1024x (its tables are the only ones built there)
    # r11 (VERDICT r10 #8): the two flagship curation operators join
    # the growth table — 512x documents (2.56M docs, exact-copy
    # boilerplate) for MinHash-LSH, 512x embeddings (3.07M vectors)
    # for the at-rest IVF probe (its first 512x run builds the
    # partitioned layout; min-of-REPEATS reports the steady-state
    # probe, the write-once/probe-many contract)
    for name, scales in (
        ("lookup", (("32x", BASE32), ("512x", OUT512), ("1024x", OUT1024))),
        ("lookup_big", (("32x", BASE32), ("512x", OUT512))),
        ("lookup_skew_salted", (("32x", BASE32), ("512x", OUT512))),
        ("dedup_minhash", (("32x", BASE32), ("512x", OUT512))),
        ("simsearch_ivf_pruned", (("32x", BASE32), ("512x", OUT512))),
    ):
        out["queries"][name] = {}
        for label, sf_dir in scales:
            rec = time_with_plan(spark, name, sf_dir)
            out["queries"][name][label] = rec
            print(name, label, rec, flush=True)
    for label, sf_dir in (("32x", BASE32), ("512x", OUT512)):
        out["skew"][label] = skew_probe(spark, sf_dir)
        print("skew", label, out["skew"][label], flush=True)

    q = out["queries"]["lookup"]
    out["broadcast_gate"] = {
        "32x_nodes": q["32x"]["static_join_nodes"],
        "512x_nodes": q["512x"]["static_join_nodes"],
        "flipped": (
            "BroadcastHashJoin" in q["32x"]["static_join_nodes"]
            and "BroadcastHashJoin" not in q["512x"]["static_join_nodes"]
        ),
    }
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    with open(f"{REPO}/ULTRASCALE.json", "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out["broadcast_gate"]))
    print("wrote ULTRASCALE.json")


if __name__ == "__main__":
    main()
