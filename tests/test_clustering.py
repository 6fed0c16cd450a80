"""Pin distributed Lloyd's k-means against a single-node numpy replica
(the same ground-truth convention as graph.py's union-find pin)."""

from __future__ import annotations

import numpy as np
import pytest

from lookup_transform_spark.operators.clustering import kmeans_assign

SF_DIR = "/root/testdata/sf0.001"


def kmeans_numpy(
    ids: np.ndarray, vecs: np.ndarray, k: int, iters: int
) -> np.ndarray:
    """Single-node reference replica (ground truth for the pinned
    test): identical init, assignment rule, and mean update."""
    order = np.argsort(ids)
    cent = vecs[order[:k]].astype(np.float64)
    v = vecs.astype(np.float64)
    lab = None
    for _ in range(iters):
        d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (v @ cent.T)
        lab = np.argmin(d2, axis=1)
        for c in range(k):
            if (lab == c).any():
                cent[c] = v[lab == c].mean(axis=0)
    d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (v @ cent.T)
    return np.argmin(d2, axis=1)


@pytest.fixture(scope="module")
def fixture_vectors(spark):
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    vecs = np.array([r.embedding for r in rows], dtype=np.float32)
    return ids, vecs


def test_kmeans_matches_numpy_replica(spark, fixture_vectors):
    ids, vecs = fixture_vectors
    expected = dict(zip(ids, kmeans_numpy(ids, vecs, k=8, iters=5)))
    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
            "vec_id",
            "embedding",
            k=8,
            iters=5,
        ).collect()
    }
    assert len(got) == len(ids)
    mism = {i for i in got if got[i] != expected[i]}
    assert not mism, f"{len(mism)} assignment mismatches: {sorted(mism)[:5]}"


def test_kmeans_excludes_dirty_vectors_without_corruption(spark, fixture_vectors):
    """r8 review: a NULL/NaN ELEMENT passed the bare isNotNull() filter,
    numpy turned it into NaN, the all-NaN distance row argmin'd to
    cluster 0, and trunc(NaN)→INT64_MIN poisoned that centroid's
    fixed-point sum — results silently corrupted by one dirty row. Dirty
    rows (NULL vector, NULL/NaN/±Inf element) must be EXCLUDED and the
    clean rows' assignments unchanged."""
    from pyspark.sql import functions as F

    ids, vecs = fixture_vectors
    clean = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(vecs[0])
    dirty = spark.createDataFrame(
        [
            (10_000_001, None, "x"),
            (10_000_002, [float("nan")] + [0.5] * (dim - 1), "x"),
            (10_000_003, [None] + [0.5] * (dim - 1), "x"),
            (10_000_004, [float("inf")] + [0.5] * (dim - 1), "x"),
        ],
        clean.select("vec_id", "embedding", F.lit("x").alias("label")).schema,
    )
    mixed = clean.unionByName(dirty.select(*clean.columns))
    base = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(clean, "vec_id", "embedding", k=8, iters=3).collect()
    }
    got = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(mixed, "vec_id", "embedding", k=8, iters=3).collect()
    }
    assert got == base  # dirty ids absent, clean assignments identical


def test_kmeans_partitioning_invariant(spark, fixture_vectors):
    """Decimal-mean centroid updates make the result independent of
    input partitioning — the property that lets the operator run at any
    cluster width."""
    ids, _ = fixture_vectors
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(df, "vec_id", "embedding", 5, 3).collect()
    }
    b = {
        r.vec_id: r.cluster_id
        for r in kmeans_assign(
            df.repartition(17), "vec_id", "embedding", 5, 3
        ).collect()
    }
    assert a == b


def test_semantic_dedup_matches_replica_and_recall(spark, fixture_vectors):
    """dup pairs == numpy replica of cluster-then-compare; and the
    clustered pass must recover most of the exact all-pairs truth on
    the fixture (the quality argument for SemDeDup's O(sum m_i^2))."""
    from lookup_transform_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    ids, vecs = fixture_vectors
    k, iters, thr = 5, 3, 0.4
    lab = kmeans_numpy(ids, vecs, k=k, iters=iters)
    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    sims = np.round((v @ v.T) / np.outer(norms, norms), 6)
    order = np.argsort(ids)
    expected = {}
    for pos_j, j in enumerate(order):
        for i in order[:pos_j]:
            if lab[i] == lab[j] and sims[i, j] >= thr and ids[j] not in expected:
                expected[ids[j]] = (ids[i], sims[i, j])
    got = {
        r.vec_id: (r.dup_of, r.sim)
        for r in semantic_dedup_pairs(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
            "vec_id",
            "embedding",
            k=k,
            iters=iters,
            threshold=thr,
        ).collect()
    }
    assert got == expected

    # Recall floor on the fixture: threshold 0.4 pairs are spread
    # across the space (not tight dup groups), so cross-cluster loss is
    # inherent — pin a loose floor that catches collapse, not the
    # SemDeDup quality claim (that's the constructed-dup test below).
    iu = np.triu_indices(len(ids), k=1)
    exact_dup_docs = {
        int(ids[j]) for i, j in zip(*iu) if sims[i, j] >= thr
    } | {int(ids[i]) for i, j in zip(*iu) if sims[i, j] >= thr}
    flagged = set(got) | {d for d, _ in got.values()}
    if exact_dup_docs:
        recall = len(flagged & exact_dup_docs) / len(exact_dup_docs)
        assert recall >= 0.4, recall


def test_semantic_dedup_finds_constructed_near_dups(spark):
    """SemDeDup's operating regime: near-dups that are e-close copies.
    Every jittered copy must be flagged against its base (or another
    copy of the same base) — full recall when the premise holds."""
    from lookup_transform_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    rng = np.random.RandomState(7)
    bases = rng.randn(40, 16).astype(np.float64)
    bases /= np.linalg.norm(bases, axis=1, keepdims=True)
    rows, dup_of = [], {}
    for b in range(40):
        rows.append((b, bases[b].tolist()))
    nxt = 1000
    for b in range(0, 40, 2):  # every other base gets 2 near-copies
        for _ in range(2):
            v = bases[b] + 0.01 * rng.randn(16)
            rows.append((nxt, v.tolist()))
            dup_of[nxt] = b
            nxt += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r.dup_of
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", k=4, iters=4, threshold=0.98
        ).collect()
    }
    for copy_id, base in dup_of.items():
        assert copy_id in got, copy_id
        # flagged against its base or an earlier copy of the same base
        rep = got[copy_id]
        assert rep == base or dup_of.get(rep) == base, (copy_id, rep)


def test_driver_lloyd_gate_matches_distributed(spark, monkeypatch):
    """r11 wave-cut gate (VERDICT r10 #5): with a catalog-exact row
    count under _DRIVER_LLOYD_MAX_ELEMS, the Lloyd iterations run on
    the driver over one collected copy — and must produce BIT-IDENTICAL
    assignments to the distributed loop (same dp=7 fixed-point update,
    exact integer sums). Forced both ways via the row-count probe, same
    input."""
    from lookup_transform_spark.operators import clustering as C

    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = df.count()

    monkeypatch.setattr(C, "_exact_rows_if_known", None, raising=False)
    # distributed arm: unknown row count keeps the gate closed
    monkeypatch.setattr(
        "lookup_transform_spark.plans.lookup._exact_rows_if_known",
        lambda _df: None,
    )
    dist = sorted(
        map(tuple, C.kmeans_assign(df, k=4, iters=3).collect())
    )
    # driver arm: exact count opens the gate (fixture is tiny)
    monkeypatch.setattr(
        "lookup_transform_spark.plans.lookup._exact_rows_if_known",
        lambda _df: n,
    )
    drv = sorted(
        map(tuple, C.kmeans_assign(df, k=4, iters=3).collect())
    )
    assert dist == drv and len(drv) == n
