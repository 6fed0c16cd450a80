"""Similarity search over embedding columns (SURVEY.md §2.2 B52).

Tiers:
- ``cosine_topk`` — exact brute-force top-k: the (small) query set rides
  along as a dense numpy matrix; each corpus partition scores its Arrow
  batches with one matmul and emits only its local top-k per query
  (map-side combine for top-k), then a windowed global top-k reduces
  O(partitions·queries·k) candidates. At 100 TB the corpus side stays
  partitioned and is scanned once; only queries are replicated.
  Oracle-checkable.
- ``lsh_bucket_topk`` — scale path: random-hyperplane LSH (SimHash for
  cosine). Corpus and queries are hashed to buckets with shared,
  deterministically seeded hyperplanes; candidates are generated by a
  bucket equi-join (shuffle on a *small* key, no cross product), then
  exactly re-scored and top-k'd. Recall < 1 by construction (approximate);
  rows-only check.
- ``ivf_topk`` — IVF-style variant: k-means-lite centroid assignment
  (centroids = a deterministic sample), probe nearest ``nprobe``
  centroids. Also approximate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: salted sub-groups per IVF/LSH cell (``_score_cells``)
CELL_SPLITS = 4
#: rows the IVF Lloyd refinement trains on (``_refine_centroids``)
TRAIN_ROWS = 4096


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for each query vector.

    Output: (query_id, neighbor_id, sim) — sim rounded to 6 decimals for
    cross-engine comparability; ranking uses the exact value with an
    id tiebreak for determinism.

    The query set is collected to the driver (it rides into every task
    closure as a dense matrix), so its size is GUARDED, not assumed: a
    zero-job Catalyst-statistics estimate (the broadcast gate's
    ``_estimated_rows``) screens first; because that estimate ignores
    filter selectivity (deliberately an over-count), a tripped screen is
    confirmed with one exact ``count()`` before raising ``ValueError`` —
    never a silent driver OOM, never a false refusal of a small filtered
    query set. A query set over the cap isn't a "query set" — it's a
    join side: use ``lsh_bucket_topk`` / ``ivf_topk`` (both keep queries
    distributed) or ``embedding_near_dup_pairs`` for all-pairs work.
    """
    from lookup_transform_spark.plans.lookup import _estimated_rows

    # unknown size must CONFIRM, never allow (same polarity as the
    # broadcast gate and embedding_near_dup's guard): when statistics
    # are unavailable (Spark Connect, stats outage) est is None and the
    # limit-bounded count — at most max_query_rows+1 rows — decides
    est = _estimated_rows(queries)
    if est is None or est > max_query_rows:
        actual = queries.limit(max_query_rows + 1).count()
        if actual > max_query_rows:
            raise ValueError(
                f"cosine_topk collects the query side to the driver; it "
                f"has > max_query_rows={max_query_rows} rows. "
                f"Use lsh_bucket_topk/ivf_topk (distributed queries) or "
                f"raise max_query_rows explicitly."
            )
    # The query set is small by construction (it is replicated to every
    # corpus partition); ship it as a dense numpy matrix in the task
    # closure. The corpus side stays partitioned and is scanned ONCE for
    # all queries — a (batch × dim) @ (dim × n_queries) matmul per Arrow
    # batch, ~100× faster than per-pair interpreted expressions. Each
    # partition emits only its local top-k per query, so the global
    # top-k shuffle sees O(partitions · queries · k) rows, not the full
    # score matrix — the property that survives a 1000-executor corpus.
    # NULL vectors carry no geometry: excluded on both sides (one dirty
    # row must not kill the job — np.array over a ragged list raises)
    q_rows = (
        queries.filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec__"))
        .collect()
    )
    if not q_rows:
        schema = "query_id long, neighbor_id long, sim double"
        return corpus.sparkSession.createDataFrame([], schema)
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["__qvec__"] for r in q_rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)

    c = corpus.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec__")
    )

    def score_partition(batches):
        best_ids: list[np.ndarray] = []
        best_sims: list[np.ndarray] = []
        for pdf in batches:
            if pdf.empty:
                continue
            nids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            cm = np.array(list(pdf["__cvec__"]), dtype=np.float64)
            # pre-sort the batch by neighbor id so the stable argsort
            # below breaks exact-score ties toward the smaller id — the
            # same (sim DESC, id ASC) order the windowed global top-k
            # and the SQL oracle use
            order = np.argsort(nids)
            nids, cm = nids[order], cm[order]
            with np.errstate(divide="ignore", invalid="ignore"):
                cn = cm / np.linalg.norm(cm, axis=1, keepdims=True)
                sims = cn @ q_unit.T  # (batch, n_queries)
            if exclude_self:
                sims = np.where(nids[:, None] == q_ids[None, :], -np.inf, sims)
            part = np.argsort(-sims, axis=0, kind="stable")[:k]
            best_ids.append(nids[part])          # (<=k, n_queries)
            best_sims.append(np.take_along_axis(sims, part, axis=0))
        if not best_ids:
            return
        ids = np.concatenate(best_ids, axis=0)
        sims = np.concatenate(best_sims, axis=0)
        out = pd.DataFrame(
            {
                "query_id": np.repeat(q_ids[None, :], ids.shape[0], 0).ravel(),
                "neighbor_id": ids.ravel(),
                "__sim__": sims.ravel(),
            }
        )
        yield out[np.isfinite(out["__sim__"])]

    scored = c.mapInPandas(
        score_partition, "query_id long, neighbor_id long, __sim__ double"
    )
    # one shared ranking contract (sim desc, id asc, round-6) for the
    # exact and ANN paths; score_partition already emits only finite
    # sims, so _ranked_topk's finiteness guard is a no-op here
    return _ranked_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, band: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes of one LSH band
    (LCG seeded ``42 + band`` — no numpy RNG state, reproducible across
    runs/workers)."""
    planes = []
    state = 42 + band
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            row.append((state >> 11) / float(1 << 53) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 8,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket with the query
    in AT LEAST ONE of ``n_bands`` independent hyperplane signatures.

    Single-signature LSH requires agreement on all ``n_planes`` bits at
    once — measured recall@10 on the embeddings fixture was 0.04, i.e.
    the operator was decorative. Multi-band (band b uses hyperplanes
    seeded ``42+b``) is the standard amplification: a near pair
    missing one band almost surely collides in another, the same OR
    construction as MinHash banding. Measured recall@10 on the sf0.01
    embeddings fixture: 0.84 at the registered config (4 planes × 16
    bands — pinned by ``tests/test_similarity_guards.py``). This
    fixture's neighbors are only moderately similar (cos ≈ 0.3-0.5), so
    few-bit bands are needed; a corpus with tight near-dup structure
    (cos ≥ 0.9) keeps high recall at far more selective configs —
    P(band collision) = (1 - θ/π)^n_planes per band.

    Execution is per-bucket local top-k (the ``_score_cells`` shape IVF
    uses, cell = (band, bucket)): each cell task matmuls its corpus rows
    against its query rows and emits only the local top-k per query, so
    the shuffle after scoring is O(queries · bands · k) rows — never the
    candidate PAIR set. The previous formulation materialized every
    colliding (query, neighbor) pair row, deduped it, and re-joined
    vectors by id; with coarse buckets (few planes — this fixture needs
    them) the candidate set approaches |C|·|Q| and that pair shuffle was
    the heaviest query in the 32× probe (24.7 s). Local top-k is exact
    over the same candidate set: a neighbor beaten by k others within a
    shared cell is beaten by k candidates globally, so the global
    ranking is unchanged — recall identical, pair materialization gone.
    Duplicate (query, neighbor) survivors from different bands carry
    bit-identical sims (same two unit vectors) and are dropped before
    the ranking window so one neighbor can't occupy two top-k slots.

    Corpus vector traffic is O(corpus · n_bands) (vectors ride into the
    cells instead of re-joining); ``CELL_SPLITS`` salts hot buckets
    losslessly, same as IVF. Deterministic (fixed hyperplanes);
    approximate recall tuned by (n_planes, n_bands): more planes →
    finer buckets / higher precision, more bands → higher recall.
    """
    # all band signatures in ONE vectorized pass: stack every band's
    # hyperplanes into a (bands·planes × dim) matrix, one matmul per
    # Arrow batch, pack sign bits per band. The per-band JVM expression
    # (F.aggregate dot per plane per band = bands·planes interpreted
    # folds per row) measured 8× slower at 1× for the same buckets.
    planes = np.array(
        [_hyperplanes(dim, n_planes, b) for b in range(n_bands)],
        dtype=np.float64,
    )  # (B, P, dim)
    flat_planes = planes.reshape(n_bands * n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _band_sigs(v: pd.Series) -> pd.Series:
        if v.empty:  # an empty batch flattens to shape (0,), not (0, dim)
            return pd.Series([], dtype=object)
        m = np.array(list(v), dtype=np.float64)  # (n, dim)
        bits = (m @ flat_planes.T) >= 0  # (n, B·P); bit i = sign(v·plane_i) >= 0
        sigs = (bits.reshape(len(m), n_bands, n_planes) * weights).sum(axis=2)
        return pd.Series(list(sigs))

    def banded(df: DataFrame) -> DataFrame:
        # NULL vectors carry no geometry to hash — drop them before the
        # UDF (np.array over a None would crash the task; a zero-vector
        # substitute would pollute one bucket with every null row)
        df = df.filter(F.col("embedding").isNotNull())
        # cell id packs (band, bucket) into one long — bucket < 2^n_planes
        return df.select(
            F.col("vec_id"),
            F.col("embedding"),
            F.posexplode(_band_sigs(F.col("embedding"))).alias("band", "bucket"),
        ).select(
            "vec_id",
            "embedding",
            (F.col("band") * F.lit(1 << n_planes) + F.col("bucket"))
            .cast("long")
            .alias("__cell__"),
        )

    return _score_cells(
        banded(corpus),
        banded(queries),
        k,
        cell_col="__cell__",
        dedup_pairs=True,
        exclude_self=exclude_self,
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k over candidate scores. Non-finite sims (a zero-norm
    vector makes the cosine divide 0/0 → NaN, and NaN sorts ABOVE
    every real value under ``desc()``) are filtered BEFORE the ranking
    window — one degenerate vector must not poison every top-k list it
    collides with (mirrors the ``isfinite`` guard in ``cosine_topk``)."""
    finite = scored.filter(
        F.col("__sim__").isNotNull()
        & ~F.isnan("__sim__")
        & (F.abs("__sim__") != float("inf"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim__").desc(), F.col("neighbor_id").asc()
    )
    return (
        finite.withColumn("__rank__", F.row_number().over(w))
        .filter(F.col("__rank__") <= k)
        .select(
            "query_id", "neighbor_id", F.round(F.col("__sim__"), 6).alias("sim")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-flat-style ANN: centroids are a deterministic corpus sample
    (every Nth id), optionally Lloyd-refined (``refine_iters``), vectors
    are assigned to their nearest centroid, and each query probes its
    ``nprobe`` nearest centroid cells only.

    Scoring is a per-cell dense matmul in ``applyInPandas`` (the
    ``embedding_near_dup`` tile shape): corpus vectors shuffle ONCE to
    their cell, queries replicate nprobe × CELL_SPLITS times (tiny side),
    and each cell task emits only its local top-k rows. The earlier
    formulation — an equi-join materializing every (query, cell-member)
    pair row with both vectors — moved |cell|×|probing queries| full
    vectors through Arrow and went superlinear in the 32× probe; flops
    are identical here but pair-row materialization is gone.

    ``CELL_SPLITS`` salts each cell into sub-groups (corpus side hashed,
    query side replicated) so one hot centroid cannot serialize into a
    single task — the same skew bound as the dedup bucket caps, but
    lossless: every (query, vector) pair still meets exactly once.

    At scale the corpus is written bucketed by ``centroid_id`` so probe
    reads are partition-pruned (``write_ivf_layout`` / ``ivf_probe_topk``
    below are that path); here the assignment join is in-plan. Centroid
    selection is modulo-sampled by id — no global sort, no
    single-partition window (the ``count()`` is one dimension-sized
    scan, same class as a broadcast-side size check).
    """
    cent_ids, cent_unit = _sample_centroids(corpus, n_centroids, refine_iters)
    nearest = _centroid_assigner(cent_ids, cent_unit)
    c_assigned = nearest(corpus.select("vec_id", "embedding"), 1)
    q_assigned = nearest(queries.select("vec_id", "embedding"), nprobe)
    return _score_cells(c_assigned, q_assigned, k, exclude_self=exclude_self)


def _refine_centroids(
    corpus: DataFrame,
    cent_unit: np.ndarray,
    iters: int,
    total: int,
) -> np.ndarray:
    """Lloyd refinement of the sampled centroids — the step that turns a
    modulo sample into real IVF cells (measured on the embeddings
    fixture: recall@10 0.60 → 0.84 at the SAME probed-cell fraction).

    Trains on a BOUNDED deterministic sample (the faiss convention:
    centroid quality saturates at a few hundred vectors per cell, so a
    billion-vector corpus trains on the same few thousand rows) —
    modulo-sampled by id, collected once (``TRAIN_ROWS`` × d doubles,
    ~2 MB at the defaults — the dimension-collect class), then pure
    numpy Lloyd on the driver. Cost is ONE column-pruned sample scan
    regardless of ``iters``; a distributed-aggregation formulation
    measured 1.4 s/iteration at sf0.1 — per-call training cost an ANN
    query can't afford. Deterministic by construction (fixed sample,
    fixed iteration count), so the at-rest layout probe stays
    bit-equal to the in-plan operator. Empty cells keep their previous
    centroid, mirroring kmeans_assign.
    """
    step = max(1, total // TRAIN_ROWS)
    sel = corpus.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("__tid__"), F.col("embedding").alias("__tvec__")
    )
    rows = (
        sel.filter((F.col("__tid__") % step) == 0)
        # the modulo matches ≥ TRAIN_ROWS rows; the cut must be
        # deterministic for the write-time ≡ query-time centroid
        # invariant, and a bare limit() is partition-order dependent —
        # order by id first (TakeOrderedAndProject: O(k) per partition,
        # no global sort)
        .orderBy("__tid__")
        .limit(TRAIN_ROWS)
        .collect()
    )
    if not rows:
        # dense-0-based-id assumption broken (sparse/offset ids can
        # satisfy the modulo zero times) — deterministic ordered cut
        rows = sel.orderBy("__tid__").limit(TRAIN_ROWS).collect()
    m = np.array([r["__tvec__"] for r in rows], dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        tr = m / np.linalg.norm(m, axis=1, keepdims=True)
    tr = tr[np.isfinite(tr).all(axis=1)]
    cent = cent_unit.copy()
    for _ in range(iters):
        assign = np.argmax(tr @ cent.T, axis=1)
        nxt = cent.copy()
        for c in range(len(cent)):
            members = tr[assign == c]
            if len(members):
                nxt[c] = members.mean(axis=0)
        with np.errstate(divide="ignore", invalid="ignore"):
            norms = np.linalg.norm(nxt, axis=1, keepdims=True)
            cent = np.where(norms > 0, nxt / norms, cent)
    return cent


def _sample_centroids(
    corpus: DataFrame,
    n_centroids: int,
    refine_iters: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic modulo-sampled centroids as (ids, unit matrix),
    optionally Lloyd-refined (``refine_iters`` > 0 — see
    ``_refine_centroids``; ids keep naming the cells, only the vectors
    move).

    The centroid table is tiny by construction — it ships into task
    closures as a dense unit-normalized matrix, so assignment is one
    (batch × dim) @ (dim × C) matmul per Arrow batch instead of an
    interpreted per-pair cosine over a crossJoin (~100× faster and the
    shape that survives a billion-vector corpus: O(n·C) flops, corpus
    scanned once, nothing but (id, centroid_id) added).
    """
    sel = corpus.filter(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("__centvec__"),
    )
    total = sel.count()
    if total == 0:
        raise ValueError(
            "IVF centroid sampling: corpus has no rows with a non-null "
            "'embedding' vector"
        )
    step = max(1, total // n_centroids)
    cent_rows = (
        sel.filter((F.col("centroid_id") % step) == 0)
        # the modulo can match more than n_centroids ids (0-based keys);
        # order before the cut or the kept subset is partition-order
        # dependent and write-time vs query-time centroids diverge
        .orderBy("centroid_id")
        .limit(n_centroids)
        .collect()
    )
    if len(cent_rows) < min(n_centroids, total):
        # sparse/offset ids can satisfy the modulo fewer than
        # n_centroids times (or zero) — top up with the deterministic
        # ordered cut instead of building a degenerate (or empty, which
        # crashes the norm below) centroid matrix
        cent_rows = sel.orderBy("centroid_id").limit(n_centroids).collect()
    cent_ids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
    order = np.argsort(cent_ids)  # ascending-id tiebreak for stable argsort
    cent_ids = cent_ids[order]
    cent_mat = np.array(
        [r["__centvec__"] for r in cent_rows], dtype=np.float64
    )[order]
    with np.errstate(divide="ignore", invalid="ignore"):
        cent_unit = cent_mat / np.linalg.norm(cent_mat, axis=1, keepdims=True)
    if refine_iters > 0:
        cent_unit = _refine_centroids(
            corpus, cent_unit, refine_iters, total
        )
    return cent_ids, cent_unit


def _centroid_assigner(cent_ids: np.ndarray, cent_unit: np.ndarray):
    """Returns ``nearest(df, keep)`` mapping each vector to its
    ``keep`` nearest centroids (one matmul per Arrow batch)."""

    def nearest(df: DataFrame, keep: int) -> DataFrame:
        # NULL vectors have no nearest centroid — excluded, not crashed
        # (np.array over a ragged list raises inside the task)
        sel = df.filter(F.col("embedding").isNotNull()).select(
            F.col("vec_id").alias("__sid__"), F.col("embedding").alias("__vec__")
        )

        def assign(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf["__vec__"]), dtype=np.float64)
                with np.errstate(divide="ignore", invalid="ignore"):
                    mu = m / np.linalg.norm(m, axis=1, keepdims=True)
                    sims = mu @ cent_unit.T  # (batch, C)
                top = np.argsort(-sims, axis=1, kind="stable")[:, :keep]
                kk = top.shape[1]
                yield pd.DataFrame(
                    {
                        "__sid__": np.repeat(
                            pdf["__sid__"].to_numpy(dtype=np.int64), kk
                        ),
                        "__vec__": [
                            v for v in pdf["__vec__"] for _ in range(kk)
                        ],
                        "centroid_id": cent_ids[top].ravel(),
                    }
                )

        # echo the INPUT element type: hardcoding array<float> would let
        # Arrow silently downcast double-typed embeddings, so the pruned
        # probe would re-score lossy vectors and near-ties could rank
        # differently from exact cosine on the same data
        vec_type = sel.schema["__vec__"].dataType.simpleString()
        out_schema = f"__sid__ long, __vec__ {vec_type}, centroid_id long"
        return sel.mapInPandas(assign, out_schema).select(
            F.col("__sid__").alias("vec_id"),
            F.col("__vec__").alias("embedding"),
            "centroid_id",
        )

    return nearest


def _score_cells(
    c_assigned: DataFrame,
    q_assigned: DataFrame,
    k: int,
    cell_col: str = "centroid_id",
    dedup_pairs: bool = False,
    exclude_self: bool = True,
) -> DataFrame:
    """Per-cell salted matmul + local top-k over assigned frames (both
    shaped (``cell_col``, id, vec)), then the global ranking window.

    ``dedup_pairs``: drop duplicate (query, neighbor) survivors before
    ranking — needed when a pair can meet in MORE than one cell (LSH
    multi-band). The sim is rounded to the output's 6 decimals BEFORE
    the dedup/ranking there: the same pair's dot product is recomputed
    in differently-shaped BLAS calls per cell, and a last-ulp
    divergence plus dropDuplicates' arbitrary survivor would make
    near-boundary top-k membership run-dependent. IVF assigns each
    corpus vector to exactly one cell, so it skips the extra exchange
    and ranks on the raw value.

    ``exclude_self``: drop candidates whose id equals the query id —
    right for self-search (dedup, find-my-neighbors); pass False when
    queries come from a SEPARATE id space, where corpus row 7 is
    unrelated to query 7 and silently masking it would corrupt top-k
    (mirrors ``cosine_topk``'s flag).
    """
    c_side = c_assigned.select(
        cell_col,
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(CELL_SPLITS)).alias("__salt__"),
        F.lit(0).alias("__side__"),
        F.col("vec_id").alias("__vid__"),
        F.col("embedding").alias("__vec__"),
    )
    q_side = (
        q_assigned.withColumn(
            "__salt__",
            F.explode(F.sequence(F.lit(0), F.lit(CELL_SPLITS - 1))),
        )
        .select(
            cell_col,
            F.col("__salt__").cast("long").alias("__salt__"),
            F.lit(1).alias("__side__"),
            F.col("vec_id").alias("__vid__"),
            F.col("embedding").alias("__vec__"),
        )
    )

    def cell_topk(key, pdf):
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="int64"),
                "neighbor_id": pd.Series(dtype="int64"),
                "__sim__": pd.Series(dtype="float64"),
            }
        )
        qm = pdf[pdf["__side__"] == 1]
        cm = pdf[pdf["__side__"] == 0]
        if qm.empty or cm.empty:
            return empty
        cmat = np.array(list(cm["__vec__"]), dtype=np.float64)
        qmat = np.array(list(qm["__vec__"]), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            cn = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
            sims = qn @ cn.T  # (q, c)
        nid = cm["__vid__"].to_numpy(dtype=np.int64)
        qid = qm["__vid__"].to_numpy(dtype=np.int64)
        qs, ns, ss = [], [], []
        for i in range(qid.size):
            mask = (
                nid != qid[i] if exclude_self
                else np.ones(nid.size, dtype=bool)
            )
            sm, nm = sims[i][mask], nid[mask]
            if sm.size == 0:
                continue
            # ties: sim desc then neighbor id asc (NaNs sort last and are
            # filtered by the global _ranked_topk guard)
            order = np.lexsort((nm, -sm))[:k]
            qs.append(np.full(order.size, qid[i], dtype=np.int64))
            ns.append(nm[order])
            ss.append(sm[order])
        if not qs:
            return empty
        return pd.DataFrame(
            {
                "query_id": np.concatenate(qs),
                "neighbor_id": np.concatenate(ns),
                "__sim__": np.concatenate(ss),
            }
        )

    scored = (
        c_side.unionByName(q_side)
        .groupBy(cell_col, "__salt__")
        .applyInPandas(
            cell_topk, "query_id long, neighbor_id long, __sim__ double"
        )
    )
    if dedup_pairs:
        scored = scored.withColumn(
            "__sim__", F.round(F.col("__sim__"), 6)
        ).dropDuplicates(["query_id", "neighbor_id"])
    return _ranked_topk(scored, k)


def write_ivf_layout(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 0,
) -> None:
    """Materialize the IVF scale path: the corpus written partitioned by
    ``centroid_id`` (``{path}/data/centroid_id=<c>/``) plus the tiny
    centroid table (``{path}/centroids``). Lloyd refinement
    (``refine_iters``) happens HERE, at write time — probes read the
    refined centroid table and pay nothing.

    This is the layout the ``ivf_topk`` docstring promises for a real
    corpus: assignment happens once at write time, and a probe touches
    only the ``nprobe`` cell directories it needs — Spark's partition
    pruning keeps the other cells out of the scan entirely (pinned by
    ``tests/test_similarity_guards.py``). One extra shuffle at write
    time (the partitionBy exchange), zero per-probe assignment cost.
    """
    cent_ids, cent_unit = _sample_centroids(corpus, n_centroids, refine_iters)
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in zip(cent_ids, cent_unit)],
        "centroid_id long, unit_vec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    nearest = _centroid_assigner(cent_ids, cent_unit)
    (
        nearest(corpus.select("vec_id", "embedding"), 1)
        .repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/data")
    )


def ivf_probe_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Probe a ``write_ivf_layout`` index: assign queries to their
    ``nprobe`` nearest stored centroids, scan ONLY those cell
    directories (`centroid_id IN (...)` is a partition filter — the
    scan never opens the other cells' files), and score per cell.

    The probed-centroid set is collected driver-side to build the
    pruning predicate; it is bounded by ``n_centroids`` (same smallness
    class as the centroid sample itself). Results are identical to
    ``ivf_topk`` with the same centroids/nprobe.

    ``exclude_self`` (r8 review — the at-rest probe is the path MOST
    likely to serve external query sets): pass False when queries come
    from a separate id space, where corpus row 7 is unrelated to query
    7 and silently masking it would drop a legitimate neighbor (same
    flag and polarity as ``cosine_topk`` / ``ivf_topk``).
    """
    cent = spark.read.parquet(f"{path}/centroids").collect()
    cent_ids = np.array([r["centroid_id"] for r in cent], dtype=np.int64)
    order = np.argsort(cent_ids)
    cent_ids = cent_ids[order]
    cent_unit = np.array([r["unit_vec"] for r in cent], dtype=np.float64)[order]
    nearest = _centroid_assigner(cent_ids, cent_unit)
    # materialize the assignment once — both the pruning-list collect and
    # the scoring union read it, and recomputing means a second pass of
    # the Python assignment stage over the query set
    q_assigned = nearest(
        queries.select("vec_id", "embedding"), nprobe
    ).localCheckpoint(eager=False)
    probed = sorted(
        {r["centroid_id"] for r in q_assigned.select("centroid_id").distinct().collect()}
    )
    c_assigned = (
        spark.read.parquet(f"{path}/data")
        .filter(F.col("centroid_id").isin(probed))
        .select("vec_id", "embedding", "centroid_id")
    )
    return _score_cells(c_assigned, q_assigned, k, exclude_self=exclude_self)
