"""Heavy-tier scaling probe at 128x derived scale (VERDICT r5 #4).

The 100 TB claims for the dedup/ANN/clustering family rested on
19.2M-row (32x) evidence; this probe runs that family at 128x and
records per-query seconds at 32x and 128x so growth curves are
visible. Growth below 4x for 4x rows means sublinear per-row cost —
the pass criterion the artifact exposes.

**The 128x fixture holds near-dup family size CONSTANT** — that is the
regime a real corpus presents (a 4x-bigger crawl has ~4x more
duplicate families, not 4x-bigger ones), and the one under which a
growth ratio measures volume scaling rather than the O(family²)
pair-verification blowup a family-growing fixture manufactures (a
first cut that key-shifted near-identical copies measured dedup_minhash
at 9x growth for 4x rows — all of it family-size quadratics, none of
it volume). Each of the 4 copies of scale32 is made DISTINCT from the
others while preserving its internal near-dup structure exactly:

- documents: every word in copy i>0 gets an ``_i`` suffix (regexp, one
  pass). Within a copy, pairwise shingle sets transform identically, so
  every Jaccard/minhash/simhash relation is preserved bit-for-bit;
  across copies, token sets are disjoint, so shingle overlap is zero.
  ``source`` is tagged per copy so block sizes stay at their 32x shape.
- embeddings: copy i>0 is rotated by a deterministic signed
  permutation (exactly orthogonal, so within-copy cosines are
  preserved to the ulp; cross-copy inner products decorrelate — the
  sign flips kill the positive-components bias a bare permutation
  would keep).

Only the heavy tier runs: these are the operators whose cost is
dominated by data volume, not by Spark's fixed per-query floor, so
128x/32x ratios measure the algorithms, not the scheduler.

Run: python scripts/scaling128_probe.py [--skip-build]
Writes SCALING128.json at the repo root.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lookup_transform_spark import registry, stats, timing
from lookup_transform_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE32 = f"{REPO}/.scratch/scale32"
OUT = f"{REPO}/.scratch/scale128"
SPARK_TIMEOUT = float(os.environ.get("SPARK_GRAFT_PROBE_TIMEOUT", "600"))
REPEATS = int(os.environ.get("SPARK_GRAFT_PROBE_REPEATS", "2"))

# the volume-dominated family (VERDICT r5 #4 names) — each reads
# documents and/or embeddings, whose row counts this probe scales
HEAVY = [
    "dedup_minhash",
    "dedup_simhash",
    "ngram_jaccard",
    "ngram_containment",
    "embedding_near_dup",
    "dedup_clusters",
    "dedup_semantic",
    "kmeans_embeddings",
    "simsearch_ivf",
    "simsearch_ivf_pruned",
    "dedup_incremental_indexed",
    "dedup_incremental_minhash",
    "sketch_topk_rollup",  # r9: heavy-hitter rollup over documents
]

# the heavy tier reads ONLY documents/embeddings; dims are copied so
# _t never dangles, relational fact tables are deliberately absent
# (a heavy-tier query reaching for one should fail loudly, not probe
# a silently-stale copy)
SCALED = ("documents", "embeddings")
COPIED = ("region", "nation", "customer", "supplier", "part")

# r8 (VERDICT r7 #7): the relational floor-pin tier. The "join stage
# waves amortize at scale" claim was evidenced only at 32x; these rows
# extend it to 128x. They read orders/lineitem (+1x dims), which the
# documents/embeddings fixture above deliberately omits — they run
# against the bloom_ab_probe fixture instead (4 key-shifted copies of
# scale32's fact tables; dims stay 1x, so dim joins measure pure fact
# volume). embedding_centroids reads embeddings and rides the HEAVY
# fixture, but belongs to this growth question, so it is listed here
# with its fixture override.
FIX128 = f"{REPO}/.scratch/bloom128"
RELATIONAL = [
    "tpch_q16_supplier_cnt",
    "tpch_q4_priority",
    "tpch_q10_returned",
    "agg_corr",
    "embedding_centroids",
]
# per-query (32x dir, 128x dir); default is the fact-table fixture
RELATIONAL_DIRS = {
    "embedding_centroids": (BASE32, OUT),
}


def _signed_perm(dim: int, copy: int) -> tuple[list[int], list[int]]:
    """Deterministic signed permutation for copy i: an exactly
    orthogonal rotation built from coprime striding (perm) and a
    copy-dependent sign pattern — no RNG, reproducible across runs."""
    import math

    stride = {1: 3, 2: 7, 3: 11}[copy]
    while math.gcd(stride, dim) != 1:  # bijection needs coprimality
        stride += 2
    perm = [(j * stride + copy) % dim for j in range(dim)]
    # balanced Walsh-style sign pattern, distinct per copy: bit
    # (copy-1) of j alternates in blocks of 2^(copy-1) — exactly half
    # the signs flip for every copy (a multiplicative formula tried
    # first degenerated to all-+1 at copy=2, i.e. a bare permutation,
    # which keeps cos≈0.7 self-correlation on positive vectors;
    # pinned in tests/test_probe_fixture.py)
    signs = [-1 if (j >> (copy - 1)) & 1 else 1 for j in range(dim)]
    return perm, signs


def build_scaled(spark) -> None:
    """scale128 = 4 mutually-DISTINCT copies of scale32 (key-shifted
    ids; per-word token suffix + per-copy source tag for documents,
    signed-permutation rotation for embeddings — see module docstring).
    Near-dup family sizes stay at their 32x shape; the corpus gains 4x
    more families."""
    if os.path.exists(f"{OUT}/_done"):
        return
    if not os.path.exists(f"{BASE32}/_done"):
        raise SystemExit("scale32 fixture missing — run scaling_probe.py first")
    os.makedirs(OUT, exist_ok=True)
    shifts = {
        "documents": ("doc_id",),
        "embeddings": ("vec_id",),
    }
    for table in SCALED:
        df = spark.read.parquet(f"{BASE32}/{table}.parquet")
        keys = shifts[table]
        maxes = df.agg(*[F.max(k) for k in keys]).collect()[0]
        steps = [m + 1 for m in maxes]
        if table == "embeddings":
            dim = len(df.select("embedding").first()[0])
        big = None
        for i in range(4):
            part = df
            for k, step in zip(keys, steps):
                part = part.withColumn(k, F.col(k) + F.lit(i * step))
            if table == "documents" and i:
                part = (
                    part.withColumn(
                        "text",
                        F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{i}"),
                    )
                    .withColumn("n_chars", F.length("text"))
                    .withColumn(
                        "source", F.concat(F.col("source"), F.lit(f"_{i}"))
                    )
                )
            if table == "embeddings" and i:
                perm, signs = _signed_perm(dim, i)
                part = part.withColumn(
                    "embedding",
                    F.array(
                        *[
                            (
                                F.element_at("embedding", perm[j] + 1)
                                * F.lit(float(signs[j]))
                            ).cast("float")
                            for j in range(dim)
                        ]
                    ),
                )
            big = part if big is None else big.unionByName(part)
        n_out = {"documents": 32, "embeddings": 16}.get(table, 32)
        big.repartition(n_out).write.mode("overwrite").parquet(
            f"{OUT}/{table}.parquet"
        )
        print(f"built {table} x128", flush=True)
    for t in COPIED:
        shutil.copyfile(f"{BASE32}/{t}.parquet", f"{OUT}/{t}.parquet")
    open(f"{OUT}/_done", "w").write("ok")


def build_relational(spark) -> None:
    """Ensure the 128x fact-table fixture exists: orders/lineitem from
    bloom_ab_probe's build (4 key-shifted copies of scale32), dims
    copied 1x so _t resolves every table the relational tier touches."""
    from bloom_ab_probe import build_128

    build_128(spark)
    for t in COPIED:
        dst = f"{FIX128}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{BASE32}/{t}.parquet", dst)


def main() -> None:
    spark = get_spark("scaling128-probe")
    if "--skip-build" not in sys.argv:
        build_scaled(spark)
        build_relational(spark)
    # same protocol as bench.py / scaling_probe.py: ingest-time catalog
    # stats + CBO, registered outside every timed window — without this
    # the two probes measure different planner regimes
    stats.register_stats_tables(spark, BASE32)
    stats.register_stats_tables(spark, OUT)
    stats.register_stats_tables(spark, FIX128)
    stats.enable_cbo(spark, application_side_threshold="10MB")
    names = list(HEAVY)
    rel_names = list(RELATIONAL)
    results: dict[str, dict] = {}
    if "--only" in sys.argv:
        # same merge semantics as scaling_probe.py --only: re-time just
        # the named queries into the existing artifact
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(names) - set(rel_names)
        if unknown:
            raise SystemExit(
                f"--only names not in HEAVY/RELATIONAL: {sorted(unknown)}"
            )
        names = [q for q in names if q in only]
        rel_names = [q for q in rel_names if q in only]
        with open(f"{REPO}/SCALING128.json") as f:
            results = json.load(f)["queries"]
    runs = [
        (label, name, sf_dir)
        for label, sf_dir in (("32x", BASE32), ("128x", OUT))
        for name in names
    ]
    for name in rel_names:
        dirs = RELATIONAL_DIRS.get(name, (BASE32, FIX128))
        runs += [(label, name, d) for label, d in zip(("32x", "128x"), dirs)]
    for label, name, sf_dir in runs:
        rec = timing.time_query(
            spark, registry.QUERIES[name], sf_dir, REPEATS,
            timeout=SPARK_TIMEOUT,
        )
        results.setdefault(name, {})[f"spark_{label}"] = rec
        print(f"[{label}] {name:28s} spark={rec.get('sec', rec)}", flush=True)
    # expected asymptotics, so a growth ratio is read against the
    # operator's actual complexity class: exact all-pairs cosine is
    # O(n²) BY DESIGN (its scale path is the LSH/IVF tier), so ~16x
    # time for 4x rows is the correct result there, not a regression
    quadratic = {"embedding_near_dup"}
    for name, rec in results.items():
        a = rec.get("spark_32x", {}).get("sec")
        b = rec.get("spark_128x", {}).get("sec")
        rec["expected"] = (
            "quadratic (exact all-pairs by design; LSH/IVF/semantic "
            "tiers are the at-scale substitutes)"
            if name in quadratic
            else "sublinear-to-linear in rows"
        )
        if a and b:
            rec["growth_128_over_32"] = round(b / a, 2)
    out = {
        "scale": 128,
        "base": (
            "scale32 x 4 key-shifted copies (dims 1x); relational tier "
            "reads the bloom_ab_probe fact fixture (orders/lineitem x4, "
            "dims 1x)"
        ),
        "rows_128x": {"documents_vs_sf0.1": 128},
        "spark_timeout_sec": SPARK_TIMEOUT,
        "repeats": REPEATS,
        "estimator": "min",
        "loadavg": list(os.getloadavg()),
        "note": (
            "4x rows from 32x to 128x; growth_128_over_32 < 4 means "
            "sublinear per-row growth (the heavy tier's scale claim)"
        ),
        "queries": results,
    }
    with open(f"{REPO}/SCALING128.json", "w") as f:
        json.dump(out, f, indent=1)
    print("wrote SCALING128.json")


if __name__ == "__main__":
    main()
