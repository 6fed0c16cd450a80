"""Distributed k-means (SURVEY.md §2 extension tier, alongside the
connected-components fixpoint in graph.py): Lloyd's algorithm shaped
for a billion-vector corpus.

Per iteration:
- **assign**: centroids ride into task closures as a dense (k × d)
  numpy matrix (k·d is tiny by construction), each Arrow batch is one
  ``(batch × d) @ (d × k)`` matmul — O(n·k·d) flops, corpus scanned
  once, no crossJoin, no per-pair Python.
- **update**: per-element ``avg`` over the assigned cluster — d
  column expressions in one JVM hash aggregate, so the shuffle carries
  only k × d partial sums per map task (map-side combine), never
  vectors. Element sums accumulate in DECIMAL so the means — and hence
  the next iteration's assignments — are independent of partitioning
  and row order (the same determinism trick the TPC-H aggregates use).

The cleaned (id, vector) projection is localCheckpoint'ed once inside
``kmeans_assign`` (r10): the ``iters + 1`` passes (one per assign plus
the final output) read cached blocks, not the source scan — the same
input-caching idiom MLlib's KMeans uses. Iteration count is fixed
and small — classic Lloyd's converges in practice long before the
assignment stabilizes exactly, and a fixed budget keeps the job DAG
static (no driver-side convergence probe reading the full corpus).

No counterpart in the reference (its only operator is the lookup
join); this is part of the mandated large-scale-pipeline extension
tier. Pinned against a pure-numpy Lloyd's replica in
tests/test_clustering.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# dp=7 fixed-point scale for centroid sums (see iteration comment in
# kmeans_assign; matches the fp_sum convention in functions/fixedpoint.py)
_FP_SCALE = float(10**7)

#: Element count (rows × dim) under which the Lloyd ITERATIONS run on
#: the driver over one collected copy of the cleaned points — the same
#: broadcast-class gate as graph.py's union-find: 2M float64 elements
#: ≈ 16 MB, and below it the distributed loop's per-iteration scheduled
#: wave (a full mapInPandas pass + a collect) is pure constant
#: (~0.15 s/wave × iters at bench scale — the r10 kmeans bench was
#: ~10 sequential waves of which the data cost was microseconds). The
#: driver update replicates the distributed math EXACTLY — same dp=7
#: half-away-from-zero rounding, same exact int64 sums (order-free by
#: integer associativity), same empty-cluster rule — so assignments are
#: bit-identical across the gate (pinned in tests/test_clustering.py).
#: The gate opens only on a catalog-EXACT row count (plan statistics);
#: unknown size = distributed loop, the safe polarity. The final
#: assignment stays a distributed mapInPandas pass either way.
_DRIVER_LLOYD_MAX_ELEMS = 2_000_000


def _lloyd_driver(
    ids: np.ndarray, vecs: np.ndarray, k: int, iters: int
) -> np.ndarray:
    """Driver-side Lloyd iterations with the distributed path's exact
    fixed-point update rule; returns the final centroids."""
    order = np.argsort(ids)
    cent = vecs[order[:k]].astype(np.float64)
    v = vecs.astype(np.float64)
    k = cent.shape[0]
    dim = v.shape[1]
    scaled = np.trunc(v * _FP_SCALE + np.copysign(0.5, v)).astype(np.int64)
    for _ in range(iters):
        d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (v @ cent.T)
        lab = np.argmin(d2, axis=1)
        sums = np.zeros((k, dim), dtype=np.int64)
        order2 = np.argsort(lab, kind="stable")
        sl = lab[order2]
        starts = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1]])
        sums[sl[starts]] += np.add.reduceat(scaled[order2], starts, axis=0)
        counts = np.bincount(lab, minlength=k)
        nxt = cent.copy()  # empty cluster keeps its previous centroid
        nonempty = counts > 0
        nxt[nonempty] = (
            sums[nonempty] / counts[nonempty, None] / _FP_SCALE
        )
        cent = nxt
    return cent


def _partials_udf(cent: np.ndarray, vec_col: str, dim: int):
    """Fused assign + centroid-partial-sum mapInPandas stage: per Arrow
    batch, nearest-centroid labels (matmul) then an exact int64
    reduction of dp=7 fixed-point elements per cluster (sorted
    ``np.add.reduceat`` — order-independent by construction). Emits
    k×(d+1) rows per partition: (cluster_id, i, s) element sums plus an
    (cluster_id, -1, count) row per cluster."""
    k = len(cent)

    def partials(batches):
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (m @ cent.T)
            lab = np.argmin(d2, axis=1)
            # one rounding per element (half-away-from-zero, the fp_sum
            # convention), THEN exact integer sums
            scaled = np.trunc(
                m * _FP_SCALE + np.copysign(0.5, m)
            ).astype(np.int64)
            order = np.argsort(lab, kind="stable")
            sl = lab[order]
            starts = np.flatnonzero(np.r_[True, sl[1:] != sl[:-1]])
            sums[sl[starts]] += np.add.reduceat(scaled[order], starts, axis=0)
            counts += np.bincount(lab, minlength=k)
        if not seen:
            return
        present = np.flatnonzero(counts)
        yield pd.DataFrame(
            {
                "cluster_id": np.concatenate(
                    [np.repeat(present, dim), present]
                ),
                "i": np.concatenate(
                    [np.tile(np.arange(dim, dtype=np.int32), len(present)),
                     np.full(len(present), -1, dtype=np.int32)]
                ),
                "s": np.concatenate(
                    [sums[present].ravel(), counts[present]]
                ),
            }
        )

    return partials


def _assign_udf(
    cent: np.ndarray, id_col: str, vec_col: str, carry_vec: bool
):
    """mapInPandas stage: nearest centroid per vector (squared
    Euclidean, ties broken toward the lowest cluster index).
    ``carry_vec`` passes the vector through so the centroid-update
    aggregate needs NO join back to the source."""

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            # ||x - c||² = ||x||² - 2x·c + ||c||²; ||x||² is constant
            # per row, so argmin needs only the last two terms.
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (m @ cent.T)
            out = {
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "cluster_id": np.argmin(d2, axis=1).astype(np.int64),
            }
            if carry_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    return assign


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 5,
    with_vectors: bool = False,
) -> DataFrame:
    """Lloyd's k-means; returns (id, cluster_id) for every input row
    (plus the vector itself when ``with_vectors`` — consumers like
    semantic dedup then need no join back to the source).

    Initial centroids are the vectors of the ``k`` smallest ids —
    deterministic and cheap (one tiny sorted limit), the same
    deterministic-seed convention as the IVF centroid sample.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Dirty vectors have no position: excluded from init, iteration, and
    # output — one dirty row must not crash (NULL vector: len(None) /
    # ragged np.array) or silently CORRUPT the job. The corrupt mode is
    # the nastier one (r8 review): a NULL or NaN ELEMENT passes a bare
    # isNotNull() filter, numpy converts it to NaN, the all-NaN distance
    # row argmins to cluster 0, and trunc(NaN).astype(int64) is
    # INT64_MIN — one row poisons a centroid's fixed-point sum with no
    # error. ±Inf does the same through the distance matmul. One cheap
    # JVM-side exists() screens all of it before any UDF stage.
    dirty_elem = F.exists(
        F.col(vec_col),
        lambda x: x.isNull()
        | F.isnan(x)
        | x.isin(float("inf"), float("-inf")),
    )
    df = df.filter(F.col(vec_col).isNotNull() & ~dirty_elem)
    # Materialize the cleaned points ONCE (r10, VERDICT r9 #3): every
    # iteration pass and the final assignment re-read cached blocks
    # instead of re-running the parquet scan + dirty screen ``iters+1``
    # times — the standard iterative-algorithm idiom (MLlib's KMeans
    # caches its input the same way). At 100 TB this is the one
    # materialization Lloyd's is worth: (id, vector) only, with disk
    # spill, freed when the returned assignment is consumed.
    # lazy: the init TakeOrdered below is the first action, so ONE wave
    # both computes the cleaned projection and pins its blocks
    src = df.select(id_col, vec_col).localCheckpoint(eager=False)
    init = (
        src.orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError(
            "kmeans_assign: input has no rows with a non-null vector"
        )
    dim = len(init[0][vec_col])
    cent = np.array([r[vec_col] for r in init], dtype=np.float64)
    # fewer rows than k: proceed with one cluster per row — the
    # (k,)-shaped counts/sums below must match cent's actual row count
    # or the boolean index raises on the first iteration
    k = cent.shape[0]
    # Per-iteration merge strategy (r10, VERDICT r9 #3): each partition
    # emits at most k×(d+1) partial rows, so with few partitions the
    # driver can sum them directly — collapsing the iteration from two
    # scheduled waves (map + shuffle-read) to ONE single-stage job. The
    # merge is the same exact int64 sum either way (addition
    # reassociates losslessly over integers), so assignments are
    # bit-identical across the gate — pinned by the repartition
    # invariance test. Past the row bound the groupBy shuffle path
    # keeps the driver out of the data path (the 100 TB shape: k=256,
    # d=1024, 10k partitions would be 2.6e9 driver rows — never).
    n_parts = src.rdd.getNumPartitions()
    driver_merge = n_parts * k * (dim + 1) <= 500_000
    out_schema = f"{id_col} long, cluster_id long"
    # echo the input element type — a hardcoded array<float> would let
    # Arrow silently downcast double-typed embeddings on the carry path
    vec_type = df.schema[vec_col].dataType.simpleString()
    carry_schema = f"{out_schema}, {vec_col} {vec_type}"
    # broadcast-class gate (see _DRIVER_LLOYD_MAX_ELEMS): with a
    # catalog-exact row count small enough, collect the cleaned points
    # once and run every Lloyd iteration driver-side — identical
    # centroids by construction, ~2 scheduled waves instead of
    # 1 + iters. The raw (pre-filter) count over-counts the cleaned
    # set, which only ever keeps the gate CLOSED — the safe direction.
    from lookup_transform_spark.plans.lookup import _exact_rows_if_known

    n_known = _exact_rows_if_known(df)
    if (
        iters > 0
        and n_known is not None
        and n_known * dim <= _DRIVER_LLOYD_MAX_ELEMS
    ):
        tbl = src.select(id_col, vec_col).toArrow()
        ids_np = np.asarray(tbl.column(0).to_pylist(), dtype=np.int64)
        vecs_np = np.asarray(tbl.column(1).to_pylist(), dtype=np.float64)
        cent = _lloyd_driver(ids_np, vecs_np, k, iters)
        return src.mapInPandas(
            _assign_udf(cent, id_col, vec_col, carry_vec=with_vectors),
            carry_schema if with_vectors else out_schema,
        )
    for _ in range(iters):
        # One fused assign+partial-sum pass per iteration: each Arrow
        # batch is assigned (matmul) and immediately reduced to k×(d+1)
        # integer partials INSIDE the same Python worker, so the corpus
        # never ships back out of Python and no n-row JVM aggregate
        # runs. (The previous shape — assign with carry_vec=True, then
        # d fixed-point column aggregates — moved n×d floats out of
        # Python and back every iteration.) Determinism rule
        # unchanged (functions/fixedpoint.py): each element is rounded
        # ONCE to dp=7 fixed point (half-away-from-zero, the fp_sum
        # convention), partials sum in int64 via sorted reduceat, and
        # the JVM merge is a long sum — exact at every step, so means
        # are independent of partitioning and row order. dp=7
        # out-resolves float32 inputs while bounding the scaled
        # per-cluster total at ~9e11 rows for unit-normalized dims.
        # Shuffle volume: k×(d+1) longs per map task after partial
        # aggregation; driver collects k×(d+1) rows.
        partials = src.mapInPandas(
            _partials_udf(cent, vec_col, dim), "cluster_id long, i int, s long"
        )
        if driver_merge:
            # one wave: per-partition partials land on the driver and
            # the (cluster, element) keys repeat across partitions —
            # accumulate, don't assign
            merged = partials.collect()
        else:
            merged = (
                partials.groupBy("cluster_id", "i")
                .agg(F.sum("s").alias("s"))
                .collect()
            )
        sums = np.zeros((k, dim), dtype=np.float64)
        counts = np.zeros(k, dtype=np.float64)
        for r in merged:
            if r["i"] < 0:
                counts[r["cluster_id"]] += r["s"]
            else:
                sums[r["cluster_id"], r["i"]] += r["s"]
        nxt = cent.copy()  # empty cluster keeps its previous centroid
        nonempty = counts > 0
        nxt[nonempty] = sums[nonempty] / counts[nonempty, None] / _FP_SCALE
        cent = nxt
    return src.mapInPandas(
        _assign_udf(cent, id_col, vec_col, carry_vec=with_vectors),
        carry_schema if with_vectors else out_schema,
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicates (Abbas et al. 2023):
    k-means the embedding space, then compare ONLY within each cluster —
    the candidate set shrinks from O(n²) to O(Σ mᵢ²), with k as the
    knob that bounds per-cluster work.

    Emits (vec_id, dup_of, sim): ``dup_of`` is the SMALLEST same-cluster
    id whose cosine similarity reaches ``threshold`` — the
    representative a curation pass keeps, giving a deterministic
    keep/drop policy (keep every id that never appears as ``vec_id``).

    Scale shape: assignment is the k-means pipeline (matmul per Arrow
    batch, k×d centroid closure); the per-cluster pass is one
    ``applyInPandas`` whose group is a cluster — pick ``k`` so n/k rows
    of d floats fit a worker (raise k as the corpus grows; clusters
    larger than ``max_cluster_size`` are dropped by the same skew guard
    the LSH buckets use, on the argument that a cluster that big means
    k is mis-sized, not that the job should die). Within a cluster the
    similarity tile is one float64 matmul.
    """
    from lookup_transform_spark.operators.dedup import _cap_group_size

    assigned = kmeans_assign(
        df, id_col, vec_col, k=k, iters=iters, with_vectors=True
    )
    assigned = _cap_group_size(assigned, ["cluster_id"], max_cluster_size)

    def cluster_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "dup_of": pd.Series(dtype="int64"),
                    "sim": pd.Series(dtype="float64"),
                }
            )
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((m @ m.T) / np.outer(norms, norms), 6)
        hit = np.triu(sims >= threshold, k=1)  # i < j (ids sorted)
        has_dup = hit.any(axis=0)
        j_idx = np.flatnonzero(has_dup)
        i_idx = hit[:, j_idx].argmax(axis=0)  # first True = smallest id
        return pd.DataFrame(
            {
                "vec_id": ids[j_idx],
                "dup_of": ids[i_idx],
                "sim": sims[i_idx, j_idx],
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        cluster_dups, "vec_id long, dup_of long, sim double"
    )


