"""Concurrency probe (VERDICT r8 #7): every graded number is a single
query on an idle session, but a 100 TB platform runs a concurrent mix.
This probe runs the headline query mix N-way concurrent on the shared
local[32] session and compares aggregate wall time against running the
same mix serially — evidence that the AQE/broadcast/stats tuning holds
under contention, not a graded bar.

Protocol: the mix is the bench headline set (one instance per worker,
workers run the full mix in different rotations so no two workers hit
the same query simultaneously at start). FAIR scheduling is enabled
via ``spark.scheduler.mode`` so one long stage can't starve the other
workers' tasks — the same setting a multi-tenant cluster runs.

Writes CONCURRENCY.json: {serial_sec, concurrent_sec, workers,
speedup, per_query_serial} — plus, with ``--mixed`` (VERDICT r9 #8), a
``mixed`` section: the same 4-way read mix with a CONTINUOUS-INGEST
stream running beside it in its own FAIR pool (full
stream_ingest_neardedup from scratch — trigger loop, per-batch
LSH/fingerprint probes, catalog-table writes), the read mix extended
with the at-rest-index readers (dedup_incremental_indexed /
dedup_incremental_minhash) so index reads and ingest writes contend on
the same session catalog. Records the mix wall with/without the
ingest, the ingest wall under the mix vs idle, and pins the contended
corpus equal to the idle one.

Run: python scripts/concurrency_probe.py [--mixed]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lookup_transform_spark import registry, stats, timing
from lookup_transform_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORKERS = int(os.environ.get("SPARK_GRAFT_CONCURRENCY", "4"))

# read-only headline mix: no side-effecting sinks/ingest (their
# scratch state is keyed per fixture, not per worker — two concurrent
# upserts into one table dir would race by design)
MIX = [
    "lookup", "lookup_big", "lookup_asof", "tpch_q1", "tpch_q3_shipping",
    "tpch_q9_profit", "agg_rollup", "window_topk", "join_semi",
    "dedup_exact", "simsearch_cosine", "text_stats", "bm25_retrieval",
    "lang_id", "sessionize", "quality_filter_gopher", "sketch_hll_rollup",
]


def run_one(spark, name: str) -> None:
    timing.drain(registry.QUERIES[name](spark, SF_DIR))


def main() -> None:
    spark = get_spark("concurrency-probe", extra_confs={
        "spark.scheduler.mode": "FAIR",
    })
    stats.register_stats_tables(spark, SF_DIR)
    stats.enable_cbo(spark, application_side_threshold="10MB")
    # warm: plans + codegen once so both protocols run warm
    for name in MIX:
        run_one(spark, name)

    # serial: the whole mix back-to-back, once per worker-equivalent
    t0 = time.perf_counter()
    per_query = {}
    for _ in range(WORKERS):
        for name in MIX:
            rec = timing.time_query(spark, registry.QUERIES[name], SF_DIR, 1)
            if "err" in rec:
                raise RuntimeError(f"{name}: {rec['err']}")
            per_query[name] = round(rec["sec"], 3)
    serial_sec = time.perf_counter() - t0

    # concurrent: WORKERS threads, each runs the full mix in a rotated
    # order (InheritableThread carries the session thread-locals so
    # AQE/CBO flags hold — see timing.time_query)
    from pyspark import InheritableThread

    errs: list = []

    def worker(wid: int) -> None:
        try:
            rot = MIX[wid % len(MIX):] + MIX[:wid % len(MIX)]
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"pool{wid}"
            )
            for name in rot:
                run_one(spark, name)
        except Exception as e:  # noqa: BLE001
            errs.append(f"{wid}: {type(e).__name__}: {e}"[:300])

    t0 = time.perf_counter()
    threads = [
        InheritableThread(target=worker, args=(i,)) for i in range(WORKERS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    concurrent_sec = time.perf_counter() - t0
    assert not errs, errs

    out = {
        "sf_dir": SF_DIR,
        "workers": WORKERS,
        "n_queries_per_worker": len(MIX),
        "serial_sec": round(serial_sec, 2),
        "concurrent_sec": round(concurrent_sec, 2),
        "speedup": round(serial_sec / concurrent_sec, 2),
        "per_query_serial_sec": per_query,
        "scheduler": "FAIR (one pool per worker)",
    }
    if "--mixed" in sys.argv:
        out["mixed"] = mixed_mode(spark)
    with open(f"{REPO}/CONCURRENCY.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in out.items()
                      if k != "per_query_serial_sec"}, indent=1))


def mixed_mode(spark) -> dict:
    """One continuous-ingest stream under the 4-way read mix: the
    scale-evidence section (VERDICT r9 #8) — FAIR pools must keep the
    readers moving while the ingest's trigger loop issues write waves,
    and contention must not change the ingest's output."""
    from pyspark import InheritableThread

    from lookup_transform_spark.registry import scratch_path
    from lookup_transform_spark.streaming.ingest import (
        reset_ingest_state,
        stream_ingest_neardedup,
    )

    work = scratch_path("stream_ingest_conc", SF_DIR)
    read_mix = MIX + ["dedup_incremental_indexed", "dedup_incremental_minhash"]
    for name in ("dedup_incremental_indexed", "dedup_incremental_minhash"):
        run_one(spark, name)  # warm (builds their at-rest indexes once)

    def run_ingest() -> tuple[float, frozenset]:
        reset_ingest_state(spark, work)
        t0 = time.perf_counter()
        corpus = stream_ingest_neardedup(spark, SF_DIR, work, n_files=4)
        rows = frozenset(
            (r["f"], r["doc_id"]) for r in corpus.collect()
        )
        return time.perf_counter() - t0, rows

    # idle reference points
    ingest_idle_sec, idle_rows = run_ingest()
    t0 = time.perf_counter()
    for _ in range(WORKERS):
        for name in read_mix:
            run_one(spark, name)
    mix_alone_sec = time.perf_counter() - t0

    # contended: WORKERS reader threads + one ingest thread
    errs: list = []
    ingest_result: dict = {}

    def reader(wid: int) -> None:
        try:
            rot = read_mix[wid % len(read_mix):] + read_mix[:wid % len(read_mix)]
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"pool{wid}"
            )
            for name in rot:
                run_one(spark, name)
        except Exception as e:  # noqa: BLE001
            errs.append(f"reader{wid}: {type(e).__name__}: {e}"[:300])

    def ingester() -> None:
        try:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "ingest"
            )
            sec, rows = run_ingest()
            ingest_result["sec"] = sec
            ingest_result["rows"] = rows
        except Exception as e:  # noqa: BLE001
            errs.append(f"ingest: {type(e).__name__}: {e}"[:300])

    threads = [
        InheritableThread(target=reader, args=(i,)) for i in range(WORKERS)
    ] + [InheritableThread(target=ingester)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    assert not errs, errs
    assert ingest_result["rows"] == idle_rows, (
        "contended ingest corpus diverged from the idle run"
    )
    return {
        "read_mix_n": len(read_mix),
        "mix_alone_sec": round(mix_alone_sec, 2),
        "ingest_idle_sec": round(ingest_idle_sec, 2),
        "mixed_wall_sec": round(wall, 2),
        "ingest_under_mix_sec": round(ingest_result["sec"], 2),
        "corpus_rows": len(idle_rows),
        "corpus_identical_under_contention": True,
    }


if __name__ == "__main__":
    main()
