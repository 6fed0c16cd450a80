"""Tolerance/bound verdicts for the rows-only PARITY queries
(VERDICT r9 #4).

Eleven registry queries are rows-only BY SEMANTICS — hash-seeded recall
tiers, engine-specific binary sketches, codec payloads, per-batch
streaming emission — so exact value equality against a single SQL
statement is undefined for them. But "no exact oracle" never meant
"no checkable contract": each has a quantitative bound an independent
computation can verify. This module records those verdicts into
PARITY.json (``bound_check`` per query) so the rows-only tier carries a
value-level check instead of a bare row count.

Check kinds:

- ``estimate_vs_exact`` — HLL estimates within a stated relative error
  of DuckDB's exact COUNT(DISTINCT) per group (approx_count_distinct's
  default rsd is 0.05; the bound is 3 sigma).
- ``recall_floor`` — ANN top-k recall vs the engine's exact
  ``cosine_topk`` ground truth (itself oracle-passed), at the floors
  the guard tests pin (LSH 0.7, IVF 0.8).
- ``python_replica_exact`` — multimodal pipelines re-computed locally
  in pandas/numpy THROUGH THE SAME codec functions the executors run,
  over DuckDB-fetched source rows: exact value-set equality. This
  verifies the distributed plumbing (partitioning, Arrow batching, UDF
  dispatch) end-to-end; the codecs themselves are byte-exact-pinned in
  tests/test_multimodal.py.
- ``batch_twin`` — streaming per-batch-emission outputs checked against
  the decomposition-INDEPENDENT projections of a batch twin: the final
  emission per key equals the batch aggregate (lifetime stats), closed
  sessions are a subset of batch gap-sessions (sessionize), kept rows
  are real input rows with full key coverage (watermark dedup).

Each check returns {kind, bound, value, passed}; parity_matrix.py
stores it and tests/test_parity_artifact.py pins passed=True for every
rows-only entry.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import SparkSession

_GAP_US = 1800 * 1_000_000


def _rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _check_approx_distinct(spark, con, sf_dir):
    from lookup_transform_spark import registry

    eng = {
        r["l_returnflag"]: r["approx_parts"]
        for r in registry.QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    }
    exact = dict(
        con.execute(
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) FROM lineitem "
            "GROUP BY l_returnflag"
        ).fetchall()
    )
    rel = max(
        abs(eng[k] - exact[k]) / max(1, exact[k]) for k in exact
    ) if exact else float("inf")
    return {
        "kind": "estimate_vs_exact",
        "bound": "max relative error <= 0.15 (3x default rsd 0.05)",
        "value": round(rel, 4),
        "passed": set(eng) == set(exact) and rel <= 0.15,
    }


def _check_hll_rollup(spark, con, sf_dir):
    from lookup_transform_spark import registry

    eng = {
        r["source"]: (r["approx_docs"], r["n_rows"])
        for r in registry.QUERIES["sketch_hll_rollup"](spark, sf_dir).collect()
    }
    exact = {
        s: (d, n)
        for s, d, n in con.execute(
            "SELECT source, COUNT(DISTINCT doc_id), COUNT(*) FROM documents "
            "GROUP BY source"
        ).fetchall()
    }
    ok_rows = set(eng) == set(exact) and all(
        eng[k][1] == exact[k][1] for k in exact
    )
    rel = max(
        abs(eng[k][0] - exact[k][0]) / max(1, exact[k][0]) for k in exact
    ) if exact else float("inf")
    return {
        "kind": "estimate_vs_exact",
        "bound": "exact n_rows per group; distinct estimate within 0.15",
        "value": round(rel, 4),
        "passed": ok_rows and rel <= 0.15,
    }


def _recall(spark, sf_dir, query_name, floor):
    from lookup_transform_spark import registry
    from lookup_transform_spark.operators.similarity import cosine_topk
    from lookup_transform_spark.queries.q_curation import ann_query_set

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the SAME sampling helper the simsearch_* queries use — the bound
    # must never compare a drifted query set against stale ground truth
    queries = ann_query_set(emb)
    truth = set(_rows(cosine_topk(emb, queries, k=10),
                      ["query_id", "neighbor_id"]))
    got = set(_rows(registry.QUERIES[query_name](spark, sf_dir),
                    ["query_id", "neighbor_id"]))
    recall = len(got & truth) / len(truth) if truth else 0.0
    return {
        "kind": "recall_floor",
        "bound": f"recall@10 >= {floor} vs exact cosine_topk",
        "value": round(recall, 4),
        "passed": recall >= floor,
    }


def _docs_pdf(con, non_null_only: bool):
    where = "WHERE text IS NOT NULL" if non_null_only else ""
    return con.execute(
        f"SELECT doc_id, text FROM documents {where} ORDER BY doc_id"
    ).fetchall()


def _check_multimodal_features(spark, con, sf_dir):
    from lookup_transform_spark import registry

    eng = {}
    for r in registry.QUERIES["multimodal_features"](spark, sf_dir).collect():
        feat = (
            None if r["feature"] is None
            else tuple(round(float(x), 6) for x in r["feature"])
        )
        eng[r["doc_id"]] = (
            r["payload_len"],
            None if r["mean_byte"] is None else round(r["mean_byte"], 9),
            None if r["byte_entropy"] is None else round(r["byte_entropy"], 9),
            feat,
        )
    exp = {}
    for doc_id, text in _docs_pdf(con, non_null_only=False):
        if text is None:
            exp[doc_id] = (None, None, None, None)
            continue
        byts = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        hist = np.histogram(byts, bins=8, range=(0, 256))[0]
        p = hist / max(1, byts.size)
        nz = p[p > 0]
        feat = tuple(
            round(float(x), 6)
            for x in (hist.astype(np.float32) / max(1, byts.size))
        )
        exp[doc_id] = (
            int(byts.size),
            round(float(byts.mean()) if byts.size else 0.0, 9),
            round(float(-(nz * np.log2(nz)).sum()), 9),
            feat,
        )
    mismatches = sum(1 for k in exp if eng.get(k) != exp[k])
    return {
        "kind": "python_replica_exact",
        "bound": "per-doc feature tuple equality vs local replica (6-9 dp)",
        "value": mismatches,
        "passed": set(eng) == set(exp) and mismatches == 0,
    }


def _check_multimodal_decode(spark, con, sf_dir):
    from lookup_transform_spark import registry
    from lookup_transform_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        encode_ppm,
        encode_wav,
    )

    eng = {}
    cols = ["modality", "height", "width", "n_samples", "mean_value"]
    for r in registry.QUERIES["multimodal_decode"](spark, sf_dir).collect():
        vals = [r[c] for c in cols]
        vals[-1] = None if vals[-1] is None else round(vals[-1], 9)
        eng[r["doc_id"]] = tuple(vals)
    exp = {}
    for doc_id, text in _docs_pdf(con, non_null_only=True):
        b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        if int(doc_id) % 2 == 0:
            img = decode_image(encode_ppm(np.resize(b, (8, 8, 3))))
            exp[doc_id] = (
                "image", int(img.shape[0]), int(img.shape[1]),
                int(img.size), round(float(img.mean()), 9),
            )
        else:
            pcm0 = np.resize(b, 64).astype(np.float64) / 255.0 - 0.5
            pcm = decode_audio(encode_wav(pcm0, subtype="PCM_16"))
            exp[doc_id] = (
                "audio", 1, int(pcm.size), int(pcm.size),
                round(float(pcm.mean()) if pcm.size else 0.0, 9),
            )
    mismatches = sum(1 for k in exp if eng.get(k) != exp[k])
    return {
        "kind": "python_replica_exact",
        "bound": "per-doc decode stats equality vs local codec replica",
        "value": mismatches,
        "passed": set(eng) == set(exp) and mismatches == 0,
    }


def _check_multimodal_resize(spark, con, sf_dir):
    from lookup_transform_spark import registry
    from lookup_transform_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        resize_image,
    )

    eng = {}
    for r in registry.QUERIES["multimodal_resize"](spark, sf_dir).collect():
        eng[r["doc_id"]] = (
            r["height"], r["width"],
            None if r["mean_value"] is None else round(r["mean_value"], 9),
        )
    exp = {}
    for doc_id, text in _docs_pdf(con, non_null_only=True):
        if int(doc_id) % 10 != 0:  # frame_sample(every_nth=10)
            continue
        b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        side = max(2, min(16, int(b.size ** 0.5 // 3) or 2))
        img = decode_image(encode_ppm(np.resize(b, (side, side, 3))))
        thumb = resize_image(img, 8, 8)
        exp[doc_id] = (
            int(thumb.shape[0]), int(thumb.shape[1]),
            round(float(thumb.mean()), 9),
        )
    mismatches = sum(1 for k in exp if eng.get(k) != exp[k])
    return {
        "kind": "python_replica_exact",
        "bound": "per-frame thumbnail stats equality vs local replica",
        "value": mismatches,
        "passed": set(eng) == set(exp) and mismatches == 0,
    }


def _check_stream_dedup(spark, con, sf_dir):
    from lookup_transform_spark import registry

    got = set(_rows(registry.QUERIES["stream_dedup"](spark, sf_dir),
                    ["event_id", "user_id"]))
    real = set(con.execute(
        "SELECT event_id, user_id FROM events"
    ).fetchall())
    users_exact = {u for _, u in real}
    users_got = {u for _, u in got}
    contained = got <= real
    covered = users_got == users_exact
    return {
        "kind": "batch_twin",
        "bound": "kept rows are real (event_id, user_id) pairs; "
                 "every user keeps >= 1 row",
        "value": {"kept": len(got), "users": len(users_got),
                  "foreign_rows": len(got - real)},
        "passed": contained and covered and len(got) >= len(users_exact),
    }


def _check_stream_lifetime(spark, con, sf_dir):
    from lookup_transform_spark import registry

    # final emission per key = the row with that key's max n_events
    # (running totals are monotone in events seen)
    final = {}
    for r in registry.QUERIES["stream_lifetime_stats"](spark, sf_dir).collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
    exact = {
        u: (n, sv)
        for u, n, sv in con.execute(
            "SELECT user_id, COUNT(*), ROUND(SUM(value), 6) FROM events "
            "GROUP BY user_id"
        ).fetchall()
    }
    bad = 0
    for u, (n, sv) in exact.items():
        g = final.get(u)
        if g is None or g[0] != n or not math.isclose(
            g[1], sv, rel_tol=1e-9, abs_tol=1e-5
        ):
            bad += 1
    return {
        "kind": "batch_twin",
        "bound": "final emission per key == batch (count, sum_value) "
                 "(sum within 1e-5, float-summation-order slack)",
        "value": {"keys": len(exact), "mismatched": bad},
        "passed": set(final) == set(exact) and bad == 0,
    }


def _check_stream_sessionize(spark, con, sf_dir):
    from lookup_transform_spark import registry

    closed = []
    for r in registry.QUERIES["stream_sessionize_stateful"](
        spark, sf_dir
    ).collect():
        closed.append((
            r["user_id"], r["session_start_us"], r["session_end_us"],
            r["n_events"], r["sum_value"],
        ))
    batch = con.execute(f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events
),
o AS (
  SELECT *, LAG(ts_us) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
  FROM e
),
g AS (
  SELECT *, SUM(CASE WHEN prev IS NULL OR ts_us - prev > {_GAP_US}
                     THEN 1 ELSE 0 END) OVER (
    PARTITION BY user_id ORDER BY ts_us, event_id
    ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, MIN(ts_us), MAX(ts_us), COUNT(*), ROUND(SUM(value), 6)
FROM g GROUP BY user_id, sid
""").fetchall()
    batch_key = {(u, s, e, n) for u, s, e, n, _ in batch}
    batch_sum = {(u, s, e, n): sv for u, s, e, n, sv in batch}
    foreign = 0
    sum_bad = 0
    for u, s, e, n, sv in closed:
        k = (u, s, e, n)
        if k not in batch_key:
            foreign += 1
        elif not math.isclose(sv, batch_sum[k], rel_tol=1e-9, abs_tol=1e-5):
            sum_bad += 1
    return {
        "kind": "batch_twin",
        "bound": "every closed stream session is a batch gap-session "
                 "(exact key tuple; sum within 1e-5)",
        "value": {"closed": len(closed), "foreign": foreign,
                  "sum_mismatch": sum_bad},
        "passed": len(closed) > 0 and foreign == 0 and sum_bad == 0,
    }


BOUND_CHECKS = {
    "agg_approx_distinct": _check_approx_distinct,
    "sketch_hll_rollup": _check_hll_rollup,
    "simsearch_lsh": lambda s, c, d: _recall(s, d, "simsearch_lsh", 0.7),
    "simsearch_ivf": lambda s, c, d: _recall(s, d, "simsearch_ivf", 0.8),
    "simsearch_ivf_pruned": lambda s, c, d: _recall(
        s, d, "simsearch_ivf_pruned", 0.8
    ),
    "multimodal_features": _check_multimodal_features,
    "multimodal_decode": _check_multimodal_decode,
    "multimodal_resize": _check_multimodal_resize,
    "stream_dedup": _check_stream_dedup,
    "stream_lifetime_stats": _check_stream_lifetime,
    "stream_sessionize_stateful": _check_stream_sessionize,
}


def bound_check(
    spark: SparkSession, con, sf_dir: str, name: str
) -> dict | None:
    """Run the bound check for a rows-only query; None when the query
    has no registered check (a new rows-only query should get one —
    test_parity_artifact flags it)."""
    fn = BOUND_CHECKS.get(name)
    if fn is None:
        return None
    try:
        return fn(spark, con, sf_dir)
    except Exception as e:  # noqa: BLE001 — artifact records the failure
        return {
            "kind": "error",
            "bound": None,
            "value": f"{type(e).__name__}: {e}"[:300],
            "passed": False,
        }
