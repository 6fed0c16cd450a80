"""Guards added in round 4:

- NaN poisoning (VERDICT r3 "what's wrong" #3): a zero-norm vector makes
  a cosine score NaN, and NaN sorts ABOVE every real value under
  ``desc()`` — without the filter one degenerate vector displaces a real
  neighbor from every top-k list it collides with.
- ``explode_tokens`` vectorization (#1): bit-identical output to the
  previous per-row loop (and to ``posexplode(split(...))``), now pure
  pandas/numpy per Arrow batch.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from lookup_transform_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)


def _vecs(spark, with_zero: bool = True):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.1, 0.9, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    if with_zero:
        rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # degenerate: zero norm
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.parametrize("fn", [lsh_bucket_topk, ivf_topk, cosine_topk])
def test_zero_norm_vector_never_poisons_topk(spark, fn):
    corpus = _vecs(spark, with_zero=True)
    queries = corpus.filter(F.col("vec_id").isin(1, 3, 99))
    kwargs = {"dim": 4} if fn is lsh_bucket_topk else {}
    out = fn(corpus, queries, k=3, **kwargs).collect()
    assert out, "expected non-empty top-k"
    for r in out:
        assert r["sim"] is not None and math.isfinite(r["sim"]), r
        # the zero-norm vector has NaN sim with everything → never a hit
        assert r["neighbor_id"] != 99, r


def test_cosine_topk_guards_oversized_query_collect(spark):
    # round-4 VERDICT #4: the query-side collect must be capped, not
    # assumed small — a corpus-sized "query set" should raise, not OOM
    corpus = _vecs(spark, with_zero=False)
    queries = _vecs(spark, with_zero=False)
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk(corpus, queries, k=2, max_query_rows=2)
    # at/under the cap still runs (exact count confirms the screen)
    out = cosine_topk(corpus, queries, k=2, max_query_rows=5).collect()
    assert out


def test_explode_tokens_matches_builtin(spark):
    """explode_tokens ≡ posexplode(split(text, ' ', -1)) — the literal
    single-space split KEEPING boundary/run empties, because that is
    what the DuckDB udtf_tokens oracle (string_split) computes. r8
    review: the Python side used bare str.split() (collapse runs, drop
    empties), which silently diverged from the oracle on exactly the
    texts in this fixture; this pin held the OLD semantics and has been
    realigned to the oracle's."""
    from lookup_transform_spark.functions.udfs import explode_tokens

    df = spark.createDataFrame(
        [
            (1, "Alpha beta  GAMMA"),
            (2, ""),
            (3, "  one  "),
            (4, "x y z x"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        explode_tokens(df, "doc_id", "text").collect(),
        key=lambda r: (r["doc_id"], r["pos"]),
    )
    want = sorted(
        df.select(
            "doc_id",
            F.posexplode(F.split(F.lower("text"), " ", -1)).alias(
                "pos", "token"
            ),
        ).collect(),
        key=lambda r: (r["doc_id"], r["pos"]),
    )
    assert [(r["doc_id"], r["token"], r["pos"]) for r in got] == [
        (r["doc_id"], r["token"], r["pos"]) for r in want
    ]


# ---------------------------------------------------------------------------
# IVF at-rest layout: partition-pruned probe == in-plan ivf_topk
# ---------------------------------------------------------------------------


def test_ivf_layout_probe_matches_inplan_and_prunes(spark, tmp_path):
    from lookup_transform_spark.operators.similarity import (
        ivf_probe_topk,
        write_ivf_layout,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "ivf")
    write_ivf_layout(emb, path, n_centroids=8)

    probed = ivf_probe_topk(spark, path, queries, k=5, nprobe=2)
    inplan = ivf_topk(emb, queries, k=5, n_centroids=8, nprobe=2)
    got = sorted(map(tuple, probed.collect()))
    want = sorted(map(tuple, inplan.collect()))
    assert got == want, "pruned probe must equal the in-plan IVF result"

    # the cell filter must reach the scan as a PARTITION filter: pruned
    # cell directories never enter the file listing, so the scan's
    # partition count is the probed-cell count, not n_centroids
    data = spark.read.parquet(f"{path}/data")
    n_cells = data.select("centroid_id").distinct().count()
    probe_cells = 2  # one query vector, nprobe=2
    plan = (
        data.filter(F.col("centroid_id").isin([0, 1]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    assert n_cells > probe_cells  # pruning is actually cutting cells


def test_ivf_probe_exclude_self_flag(spark, tmp_path):
    """r8 review: the at-rest probe hardcoded exclude_self — for an
    EXTERNAL query whose id collides with an unrelated corpus id, the
    legitimate neighbor was silently dropped from its top-k. With
    exclude_self=False the identical vector (corpus id == query id by
    coincidence) must appear as the top neighbor."""
    from lookup_transform_spark.operators.similarity import (
        ivf_probe_topk,
        write_ivf_layout,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    path = str(tmp_path / "ivf_ext")
    write_ivf_layout(emb, path, n_centroids=8)
    # external queries that REUSE corpus ids but are the same vectors —
    # so the id-colliding corpus row is also the true nearest neighbor
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    with_self = ivf_probe_topk(
        spark, path, queries, k=1, nprobe=2, exclude_self=False
    ).collect()
    assert with_self and all(
        r["neighbor_id"] == r["query_id"] and r["sim"] == 1.0
        for r in with_self
    )
    without = ivf_probe_topk(
        spark, path, queries, k=1, nprobe=2, exclude_self=True
    ).collect()
    assert all(r["neighbor_id"] != r["query_id"] for r in without)


def test_ivf_pruned_cache_invalidates_on_newer_fixture(spark, tmp_path):
    """round-4 ADVICE: the cached at-rest IVF layout must be rebuilt
    when the fixture it was built from changes, else the pruned probe
    silently answers over the old corpus."""
    import os
    import shutil
    import time

    from lookup_transform_spark import registry

    sf = str(tmp_path / "sfcache")
    os.makedirs(sf)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        f"{sf}/embeddings.parquet",
    )
    try:
        registry.QUERIES["simsearch_ivf_pruned"](spark, sf).collect()
        layout = registry.scratch_path("ivf_layout", sf) + "_c32i5"
        first_build = os.path.getmtime(f"{layout}/data/_SUCCESS")
        # unchanged fixture → cached layout reused
        registry.QUERIES["simsearch_ivf_pruned"](spark, sf).collect()
        assert os.path.getmtime(f"{layout}/data/_SUCCESS") == first_build
        # regenerated (newer) fixture → layout rebuilt
        time.sleep(1.1)
        os.utime(f"{sf}/embeddings.parquet")
        registry.QUERIES["simsearch_ivf_pruned"](spark, sf).collect()
        assert os.path.getmtime(f"{layout}/data/_SUCCESS") > first_build
    finally:
        shutil.rmtree(
            registry.scratch_path("ivf_layout", sf) + "_c32i5",
            ignore_errors=True,
        )


# ---------------------------------------------------------------------------
# ANN recall floors vs exact cosine ground truth (deterministic fixture +
# deterministic hashing → reproducible recall)
# ---------------------------------------------------------------------------


def test_ann_recall_floors(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(cosine_topk(emb, queries, k=10))
    assert truth

    # registered configs (registry.q_simsearch_lsh / q_simsearch_ivf)
    lsh = pairs(lsh_bucket_topk(emb, queries, k=10, n_planes=4, n_bands=16))
    ivf = pairs(
        ivf_topk(
            emb, queries, k=10, n_centroids=32, nprobe=8, refine_iters=5
        )
    )
    lsh_recall = len(lsh & truth) / len(truth)
    ivf_recall = len(ivf & truth) / len(truth)
    # measured 0.84 / 0.84 on this fixture (IVF: Lloyd-refined 32-cell /
    # nprobe 8 — same 25% probed-cell fraction as the old 16/4 config
    # that measured 0.54); floors leave headroom for incidental
    # plan-order changes but catch a real recall regression
    # (single-band LSH measured 0.04)
    assert lsh_recall >= 0.7, f"LSH recall@10 regressed: {lsh_recall:.3f}"
    assert ivf_recall >= 0.8, f"IVF recall@10 regressed: {ivf_recall:.3f}"


def test_embedding_near_dup_guards_quadratic_corpus(spark):
    # r8 VERDICT #4: the exact all-pairs tier is O(n²) BY DESIGN; above
    # max_rows it must refuse with a pointer to the sub-quadratic
    # substitutes instead of silently launching a cluster-killer
    from lookup_transform_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = _vecs(spark, with_zero=False)
    with pytest.raises(ValueError, match="max_rows"):
        embedding_near_dup_pairs(emb, threshold=0.5, blocks=2, max_rows=2)
    # an explicit raised bound still runs
    out = embedding_near_dup_pairs(
        emb, threshold=0.5, blocks=2, max_rows=100
    ).collect()
    assert out is not None


def test_embedding_near_dup_guard_refuses_on_stats_outage(spark, monkeypatch):
    # A refusal guard must treat UNKNOWN size as "confirm with a
    # bounded count", never as "allow": when plan statistics are
    # unavailable (_estimated_rows -> None, e.g. Spark Connect) the
    # O(n²) tier must still refuse an over-bound corpus.
    import lookup_transform_spark.plans.lookup as plans_lookup
    from lookup_transform_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    monkeypatch.setattr(plans_lookup, "_estimated_rows", lambda df: None)
    emb = _vecs(spark, with_zero=False)
    with pytest.raises(ValueError, match="max_rows"):
        embedding_near_dup_pairs(emb, threshold=0.5, blocks=2, max_rows=2)


def test_cosine_topk_guard_refuses_on_stats_outage(spark, monkeypatch):
    # Same polarity pin as embedding_near_dup: unknown query-set size
    # must confirm with a bounded count, never allow the driver collect.
    import lookup_transform_spark.plans.lookup as plans_lookup
    from lookup_transform_spark.operators.similarity import cosine_topk

    monkeypatch.setattr(plans_lookup, "_estimated_rows", lambda df: None)
    emb = _vecs(spark, with_zero=False)
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk(emb, emb, k=2, max_query_rows=2)


def test_similarity_operators_survive_null_vectors(spark):
    """r8 review: one dirty row (NULL embedding) must not kill the job.
    NULL vectors carry no geometry — excluded from scoring on both
    sides in every operator, same results as if pre-filtered."""
    from lookup_transform_spark.operators.clustering import kmeans_assign
    from lookup_transform_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
    )

    clean = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(999, None)], "vec_id long, embedding array<double>"
        )
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(cosine_topk(dirty, dirty, k=3)) == rows(
        cosine_topk(clean, clean, k=3)
    )
    assert rows(
        lsh_bucket_topk(dirty, dirty, k=3, dim=3, n_planes=2, n_bands=4)
    ) == rows(lsh_bucket_topk(clean, clean, k=3, dim=3, n_planes=2, n_bands=4))
    assert rows(
        ivf_topk(dirty, dirty, k=3, n_centroids=4, nprobe=2)
    ) == rows(ivf_topk(clean, clean, k=3, n_centroids=4, nprobe=2))
    got = kmeans_assign(dirty, k=3, iters=2).collect()
    assert len(got) == 40 and all(r["vec_id"] != 999 for r in got)


def test_ivf_centroids_survive_sparse_ids(spark):
    """r8 review: modulo centroid sampling assumed dense 0-based ids —
    all-odd ids could match zero rows and crash with an opaque numpy
    AxisError. The ordered-cut fallback must keep IVF working."""
    from lookup_transform_spark.operators.similarity import ivf_topk

    odd = spark.createDataFrame(
        [(2 * i + 1, [float(i % 7), float((i * 3) % 5), 1.0])
         for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    out = ivf_topk(odd, odd, k=3, n_centroids=16, nprobe=4)
    assert out.count() > 0


def test_approx_topk_exclude_self_escape_hatch(spark):
    """r8 review: LSH/IVF hardwired self-exclusion by id equality, so a
    corpus neighbor sharing an id with an UNRELATED query was silently
    dropped. exclude_self=False must surface it (cosine_topk parity)."""
    from lookup_transform_spark.operators.similarity import (
        ivf_topk,
        lsh_bucket_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    # query id 7 is unrelated to corpus doc 7 but shares its vector —
    # doc 7 IS its nearest neighbor
    queries = spark.createDataFrame(
        [(7, [0.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    for op in (lsh_bucket_topk, ivf_topk):
        kwargs = (
            {"dim": 3, "n_planes": 1, "n_bands": 2}
            if op is lsh_bucket_topk else {"n_centroids": 4, "nprobe": 4}
        )
        with_self = {
            r["neighbor_id"]
            for r in op(
                corpus, queries, k=20, exclude_self=False, **kwargs
            ).collect()
        }
        without = {
            r["neighbor_id"]
            for r in op(corpus, queries, k=20, **kwargs).collect()
        }
        assert 7 in with_self
        assert 7 not in without
