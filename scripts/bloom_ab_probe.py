"""A/B probe for the Bloom-prefiltered semi join (VERDICT r6 #7):
measure wall-clock AND shuffled bytes for both regimes so PLANS.md can
pin where the operator pays, and `semi_join_auto` routes accordingly.

Shapes (all exact semi joins, bloom arm = build + codegen probe +
closing exact join; plain arm = Spark's own join with BOTH broadcast
paths disabled on B/C to emulate a key side past any broadcast
budget):

- A_small_keys_32x: the bench query's regime — a filtered key set
  small enough to broadcast vs a narrow lineitem. Bloom is pure
  overhead here; this measurement justifies `semi_join_auto` routing
  the bench query down the plain broadcast path.
- B_wide_fact_{32x,128x}: keys = all orders dated before 1996 (~15%
  of orders), fact = FULL-WIDTH lineitem.
- C_selective_128x: keys = the same window thinned on PRICE (~3% fact
  hit rate) — the blacklist/audit shape where almost nothing survives.

What the numbers say (and PLANS.md pins): on local[32] the wall clock
is break-even — a single-JVM "shuffle" is a page-cached memcpy, so the
bytes bloom saves are nearly free to move. The SHUFFLED BYTES tell the
cluster story: the probe drops 85-98% of the bytes entering the fact
exchange, and on a real network (the resource a 1000-executor shuffle
is actually bound by) that reduction, not the local wall clock, is the
operator's payoff. Both metrics are recorded per arm.

Bytes come from the Spark event log (sum of Shuffle Bytes Written over
all tasks; each arm runs once in a fresh session so apps don't mix).

Writes BLOOM_AB.json at the repo root. Run on an IDLE box:

    python scripts/bloom_ab_probe.py
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lookup_transform_spark import timing
from lookup_transform_spark.operators.bloomjoin import (
    bloom_semi_join,
    semi_join_auto,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIX32 = f"{REPO}/.scratch/scale32"
FIX128 = f"{REPO}/.scratch/bloom128"
EVDIR = f"{REPO}/.scratch/bloom_eventlogs"


def fresh_session(
    app: str, extra_confs: dict[str, str] | None = None
) -> SparkSession:
    """The shared session builder (session.get_spark) + event logging:
    the A/B's wall numbers must be measured under the SAME confs the
    bench uses — the previous hand-built session ran a 48g heap
    (documented in session.py as 2.4x slower past the CompressedOops
    boundary) and no UTC pin (shifting the NTZ date-window key sets
    with the host timezone), making its numbers incomparable (r8
    review). ``extra_confs`` are an arm's own settings, applied at
    build time with the rest."""
    from lookup_transform_spark.session import get_spark

    s = get_spark(app, extra_confs={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{EVDIR}",
        "spark.eventLog.compress": "false",
        **(extra_confs or {}),
    })
    s.sparkContext.setLogLevel("ERROR")
    return s


def build_128(spark) -> None:
    """4 key-shifted copies of scale32's orders/lineitem (the
    scaling_probe construction, doubled twice more)."""
    if os.path.exists(f"{FIX128}/_done"):
        return
    os.makedirs(FIX128, exist_ok=True)
    o = spark.read.parquet(f"{FIX32}/orders.parquet")
    li = spark.read.parquet(f"{FIX32}/lineitem.parquet")
    max_ok = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    for table, df, key, n_out in (
        ("orders", o, "o_orderkey", 32),
        ("lineitem", li, "l_orderkey", 64),
    ):
        big = df
        for i in range(1, 4):
            big = big.unionByName(
                df.withColumn(key, F.col(key) + F.lit(i * max_ok))
            )
        big.repartition(n_out).write.mode("overwrite").parquet(
            f"{FIX128}/{table}.parquet"
        )
        print(f"built {table} x128", flush=True)
    open(f"{FIX128}/_done", "w").write("ok")


def _keys(spark, sf_dir, thin: bool):
    k = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    if thin:
        # thin on a NON-key attribute: a key-column predicate (e.g.
        # o_orderkey % 8 = 0) gets INFERRED onto the fact side by
        # Catalyst's constraint propagation through the semi join —
        # the optimizer semi-join-reduces the shuffle by itself and
        # the "payoff shape" stops being one (measured: 3399 MB ->
        # 423 MB shuffled with no bloom at all). Price is invisible
        # to the join key, so the key set stays arbitrary.
        k = k.filter(F.col("o_totalprice") > 400000.0)
    return k.select("o_orderkey")


def arm_df(spark, shape: str, sf_dir: str, force: str):
    if shape == "A":
        o = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter(
                (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
                & (F.col("o_totalprice") > 150000.0)
            )
            .select("o_orderkey")
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        return semi_join_auto(li, o, "l_orderkey", "o_orderkey", force=force)
    # B / C: wide fact, broadcast disabled outside (emulated big keys)
    o = _keys(spark, sf_dir, thin=(shape == "C"))
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if force == "plain":
        return li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_semi")
    return bloom_semi_join(li, o, "l_orderkey", "o_orderkey")


def shuffle_bytes_of_app(app_id: str) -> int:
    total = 0
    # Spark 4 defaults to rolling v2 logs (a directory of events_* parts)
    paths = glob.glob(f"{EVDIR}/*{app_id}*/events_*") or glob.glob(
        f"{EVDIR}/{app_id}*"
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = (ev.get("Task Metrics") or {}).get(
                    "Shuffle Write Metrics"
                ) or {}
                total += int(m.get("Shuffle Bytes Written", 0))
    return total


def run_arm(shape: str, sf_dir: str, force: str, repeats: int = 2) -> dict:
    """Fresh session per arm: warm repeats for wall clock, event log for
    shuffled bytes (divided by the number of executions)."""
    # shapes B and C measure the shuffled join: broadcast off
    no_broadcast = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    spark = fresh_session(
        f"bloomab-{shape}-{force}",
        no_broadcast if shape in ("B", "C") else None,
    )
    try:
        rec = timing.time_query(
            spark, lambda s, d: arm_df(s, shape, d, force), sf_dir, repeats
        )
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    if "err" in rec:
        raise RuntimeError(f"{shape}/{force}: {rec['err']}")
    # the event log is finalized on stop; every repeat shuffles the
    # same bytes, so per-run bytes = total / repeats (build-side
    # aggregates included — they ARE part of the bloom arm's cost)
    return {
        "sec": round(rec["sec"], 3),
        "shuffle_mb_per_run": round(
            shuffle_bytes_of_app(app_id) / repeats / 1e6, 1
        ),
    }


def main() -> None:
    if not os.path.exists(f"{FIX32}/_done"):
        raise SystemExit(
            "32x fixture missing: run scripts/scaling_probe.py first"
        )
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)
    boot = fresh_session("bloomab-fixture")
    try:
        build_128(boot)
    finally:
        boot.stop()

    out: dict = {
        "estimator": "min of 2 warm repeats per arm, fresh session",
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "shapes": {},
    }
    runs = [
        ("A_small_keys_32x", "A", FIX32),
        ("B_wide_fact_32x", "B", FIX32),
        ("B_wide_fact_128x", "B", FIX128),
        ("C_selective_128x", "C", FIX128),
    ]
    for name, shape, fixture in runs:
        res = {}
        for force in ("plain", "bloom"):
            res[force] = run_arm(shape, fixture, force)
        out["shapes"][name] = res
        print(name, res, flush=True)

    with open(f"{REPO}/BLOOM_AB.json", "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print("wrote BLOOM_AB.json", flush=True)


if __name__ == "__main__":
    main()
