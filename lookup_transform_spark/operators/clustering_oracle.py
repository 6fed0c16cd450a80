"""DuckDB oracles for the k-means family (VERDICT r8 #5): Lloyd's
iterations UNROLLED into chained CTEs — in a module with no heavy
imports, like ``sources/synthetic_oracle.py``.

Why this is oracle-able at all: ``kmeans_assign`` was built
order-independent for Spark's sake — deterministic init (the k
smallest ids), fixed iteration count, and EXACT dp=7 fixed-point
integer centroid sums (``clustering.py:_partials_udf``) — and those
same properties make it *independently recomputable*. Each unrolled
round is: assignment (argmin of ||c||² − 2·x·c, ties to the lowest
cluster index, exactly the numpy rule) then the integer-exact centroid
update ``trunc(x·10⁷ ± 0.5)`` summed in BIGINT and divided back in
float64 in the same (sum/count)/scale order the numpy path uses. The
only cross-engine freedom left is float summation ORDER inside dot
products (numpy pairwise/BLAS vs DuckDB sequential) — which can flip
an argmin only when two centroids are equidistant to ~1e-12 relative,
and the parity/driver fixtures are checked to be nowhere near that
(the comparison is exact and deterministic per fixture; a flip would
fail loudly, not silently).

A recursive CTE can't express this (SQL forbids aggregates in the
recursive term — the closure trick that oracled ``dedup_clusters``
only needed join+distinct); a FIXED iteration budget unrolls instead,
which also mirrors the operator's own design argument: the iteration
count is static so the job DAG is static.
"""

from __future__ import annotations

#: the embeddings fixture both oracles read
TABLE, ID_COL, VEC_COL = "embeddings", "vec_id", "embedding"


def _clean_points() -> str:
    """Rows with a fully-finite vector, cast to DOUBLE (the numpy path
    promotes float32 → float64 exactly; so does ``::DOUBLE[]``)."""
    return f"""
pts AS MATERIALIZED (
  SELECT {ID_COL} AS vec_id, ({VEC_COL})::DOUBLE[] AS v
  FROM {TABLE}
  WHERE {VEC_COL} IS NOT NULL
    AND len(list_filter({VEC_COL},
          x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
)"""


def _lloyd_ctes(k_expr: str, iters: int, dim: int) -> str:
    """The init + ``iters`` unrolled (assign, update) rounds, ending at
    centroid set ``ce{iters}``. ``k_expr`` may be a SQL scalar
    subquery, so data-dependent k (dedup_semantic's n//2000 rule)
    stays inside the one static SQL string."""
    parts = [
        # init: centroids = vectors of the k smallest ids, cluster
        # index = rank among them (kmeans_assign's init contract)
        f"""ce0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
  FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT {k_expr})
)"""
    ]
    for t in range(iters):
        parts.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT p.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_dot_product(c.c, c.c)
                      - 2 * list_dot_product(p.v, c.c) ASC,
                      c.cid ASC) AS rn
    FROM pts p CROSS JOIN ce{t} c)
  WHERE rn = 1
)""")
        # dp=7 fixed-point element sums (trunc(x·1e7 ± 0.5), BIGINT) —
        # bit-identical to _partials_udf's scaled reduceat — then
        # (sum/count)/scale in float64, empty clusters keep their
        # previous centroid (COALESCE over the LEFT JOINs)
        parts.append(f"""s{t} AS (
  SELECT a.cid, r.range::INT AS i,
         SUM(CAST(trunc(p.v[r.range + 1] * 10000000.0
               + CASE WHEN p.v[r.range + 1] >= 0 THEN 0.5 ELSE -0.5 END)
             AS BIGINT))::DOUBLE AS s
  FROM a{t} a JOIN pts p USING (vec_id), range({dim}) r
  GROUP BY a.cid, r.range
)""")
        parts.append(f"""n{t} AS (
  SELECT cid, COUNT(*)::DOUBLE AS cnt FROM a{t} GROUP BY cid
)""")
        parts.append(f"""g{t} AS (
  SELECT c.cid, r.range::INT AS i, c.c[r.range + 1] AS prev
  FROM ce{t} c, range({dim}) r
)""")
        parts.append(f"""ce{t + 1} AS MATERIALIZED (
  SELECT g.cid,
         list(COALESCE(s.s / n.cnt / 10000000.0, g.prev)
              ORDER BY g.i) AS c
  FROM g{t} g
  LEFT JOIN s{t} s ON s.cid = g.cid AND s.i = g.i
  LEFT JOIN n{t} n ON n.cid = g.cid
  GROUP BY g.cid
)""")
    return ",\n".join(parts)


def _final_assign(iters: int) -> str:
    """One more assignment pass against the post-iteration centroids —
    ``kmeans_assign`` returns assignments under the FINAL centroid set,
    i.e. iters updates then a closing assign."""
    return f"""af AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT p.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY p.vec_id
             ORDER BY list_dot_product(c.c, c.c)
                      - 2 * list_dot_product(p.v, c.c) ASC,
                      c.cid ASC) AS rn
    FROM pts p CROSS JOIN ce{iters} c)
  WHERE rn = 1
)"""


def kmeans_oracle_sql(k: int = 8, iters: int = 5, dim: int = 64) -> str:
    """Oracle for ``kmeans_embeddings``: per-cluster sizes under the
    final assignment."""
    return f"""
WITH {_clean_points()},
{_lloyd_ctes(str(k), iters, dim)},
{_final_assign(iters)}
SELECT cid AS cluster_id, COUNT(*) AS n_points
FROM af GROUP BY cid ORDER BY cluster_id
"""


def semantic_dedup_oracle_sql(
    iters: int = 3, threshold: float = 0.4, dim: int = 64
) -> str:
    """Oracle for ``dedup_semantic``: the same unrolled Lloyd's with
    the query's data-dependent ``k = max(8, min(256, n // 2000))``,
    then within-cluster cosine — ``dup_of`` is the SMALLEST
    same-cluster id whose (6-dp-rounded, like the operator's
    ``np.round(sims, 6)``) cosine reaches ``threshold``, and ``sim`` is
    that chosen pair's value. The operator's ``max_cluster_size`` guard
    is a no-op at every fixture scale this oracle runs at (largest
    cluster ≪ 20k), so it has no SQL counterpart here."""
    # k mirrors the ENGINE's rule exactly: registry computes
    # k = max(8, min(256, emb.count() // 2000)) over the RAW table,
    # BEFORE kmeans_assign's dirty-vector filter — counting the clean
    # pts here instead would silently diverge on any fixture where a
    # dirty vector makes the two counts straddle a multiple of 2000
    # (latent r9 self-review finding; current fixtures are clean)
    k_expr = (
        f"(SELECT greatest(8, least(256, COUNT(*) // 2000)) FROM {TABLE})"
    )
    return f"""
WITH {_clean_points()},
{_lloyd_ctes(k_expr, iters, dim)},
{_final_assign(iters)},
nrm AS (
  SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm FROM pts
),
cand AS (
  SELECT b.vec_id AS vec_id, a.vec_id AS dup_of,
         round(list_dot_product(pa.v, pb.v) / (na.nrm * nb.nrm), 6) AS sim
  FROM af a
  JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN pts pa ON pa.vec_id = a.vec_id
  JOIN pts pb ON pb.vec_id = b.vec_id
  JOIN nrm na ON na.vec_id = a.vec_id
  JOIN nrm nb ON nb.vec_id = b.vec_id
)
SELECT vec_id, dup_of, sim FROM (
  SELECT vec_id, dup_of, sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dup_of ASC) AS rn
  FROM cand WHERE sim >= {threshold}
) WHERE rn = 1
"""
