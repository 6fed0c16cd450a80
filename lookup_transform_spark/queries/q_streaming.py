"""B54 multimodal pipeline; B60-B63 streaming execution

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lookup_transform_spark.operators.dedup import JACCARD_THRESHOLD
from lookup_transform_spark.plans.lookup import LookupSpec
from lookup_transform_spark.registry import (
    _events,
    _q,
    _stale_guard,
    _t,
    _vtag,
    scratch_path,
)
from lookup_transform_spark.streaming.ingest import (
    EXACT_RESENDS,
    N_FILES,
    NEAR_RESENDS,
)

# ---------------------------------------------------------------------------
# B54 multimodal pipeline; B60-B63 streaming execution (rows-only)
# ---------------------------------------------------------------------------

@_q("multimodal_features")
def q_multimodal_features(spark, sf):
    """B54: binary payload → mapInPandas feature extraction (features
    derive from the raw bytes, no decode step)."""
    from lookup_transform_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    frame = attach_payload(
        _t(spark, sf, "documents"), "doc_id", "text", ["lang", "n_chars"]
    )
    return extract_features(frame)


@_q("multimodal_decode")
def q_multimodal_decode(spark, sf):
    """B54: REAL container decode on the executors — each document's
    bytes are packed into an actual PPM image (even doc_id) or WAV/PCM16
    audio clip (odd doc_id) and decoded through ``decode_image`` /
    ``decode_audio``'s real path (built-in pure-numpy PPM/BMP/WAV
    codecs; Pillow/soundfile would be used for compressed formats).
    Rows-only: the container round-trip isn't SQL-expressible, but it is
    fully deterministic — byte-exact codec fixtures are pinned in
    ``tests/test_multimodal.py``."""
    import pandas as pd_  # noqa: PLC0415

    from lookup_transform_spark.operators.multimodal import (
        decode_stats,
        encode_ppm,
        encode_wav,
    )

    # NULL text encodes to a NULL payload, and bytes(None) is a
    # TypeError that kills the whole stage on one dirty row (r8
    # review); there is nothing to pack into a container for a missing
    # document, so such rows are excluded — same contract as the
    # near-dup tier
    docs = _t(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", F.encode("text", "UTF-8").alias("raw"))

    def _pack(batches):
        import numpy as np_  # noqa: PLC0415

        for pdf in batches:
            ids, payloads, modality = [], [], []
            for i, raw in zip(pdf["doc_id"], pdf["raw"]):
                b = np_.frombuffer(bytes(raw), dtype=np_.uint8)
                if int(i) % 2 == 0:
                    img = np_.resize(b, (8, 8, 3))
                    payloads.append(encode_ppm(img))
                    modality.append("image")
                else:
                    pcm = np_.resize(b, 64).astype(np_.float64) / 255.0 - 0.5
                    payloads.append(encode_wav(pcm, subtype="PCM_16"))
                    modality.append("audio")
                ids.append(i)
            yield pd_.DataFrame(
                {"doc_id": ids, "payload": payloads, "modality": modality}
            )

    frame = docs.mapInPandas(
        _pack, "doc_id long, payload binary, modality string"
    )
    return decode_stats(frame)


@_q("multimodal_resize")
def q_multimodal_resize(spark, sf):
    """B54: the video/image normalization pipeline shape — frame-sample
    FIRST (a pushdown-friendly filter on the id: decode never runs on
    dropped frames), then real PPM decode, then deterministic
    nearest-neighbor resize to a fixed 8x8 thumbnail, all in one
    Arrow-batched stage. Rows-only (container round-trip isn't
    SQL-expressible); resize math pinned byte-exact in
    tests/test_multimodal.py."""
    import pandas as pd_  # noqa: PLC0415

    from lookup_transform_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        frame_sample,
        resize_image,
    )

    docs = _t(spark, sf, "documents").filter(
        F.col("text").isNotNull()  # bytes(None) kills the stage (r8)
    ).select("doc_id", F.encode("text", "UTF-8").alias("raw"))
    sampled = frame_sample(docs, every_nth=10)  # filter BEFORE decode

    def _pipeline(batches):
        import numpy as np_  # noqa: PLC0415

        for pdf in batches:
            ids, hs, ws, means = [], [], [], []
            for i, raw in zip(pdf["doc_id"], pdf["raw"]):
                b = np_.frombuffer(bytes(raw), dtype=np_.uint8)
                side = max(2, min(16, int(b.size ** 0.5 // 3) or 2))
                img = decode_image(encode_ppm(np_.resize(b, (side, side, 3))))
                thumb = resize_image(img, 8, 8)
                ids.append(i)
                hs.append(thumb.shape[0])
                ws.append(thumb.shape[1])
                means.append(float(thumb.mean()))
            yield pd_.DataFrame(
                {
                    "doc_id": ids,
                    "height": hs,
                    "width": ws,
                    "mean_value": means,
                }
            )

    return sampled.mapInPandas(
        _pipeline, "doc_id long, height int, width int, mean_value double"
    )


@_q(
    "stream_lookup",
    # Oracle-exact since r9: a stream-static left-outer lookup is
    # STATELESS — each row maps independently of micro-batch
    # decomposition, so the final memory-sink table equals the batch
    # join on any trigger schedule (not just the fixture's).
    """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",
)
def q_stream_lookup(spark, sf):
    """B60: stream-static lookup, executed availableNow → memory sink."""
    from lookup_transform_spark.streaming import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf).select("event_id", "user_id")
    spec = LookupSpec("customer", "user_id", "c_custkey", "c_mktsegment", "segment")
    out = spec.apply(ev, _t(spark, sf, "customer"))
    return run_to_memory(out, f"mem_stream_lookup_{_vtag(sf)}")


@_q(
    "stream_tumbling",
    # Oracle-exact since r9: COMPLETE output mode never evicts window
    # state and never drops late input, so the final memory-sink table
    # is the full aggregation regardless of how availableNow slices
    # the files into triggers — i.e. the batch twin's SQL, minus its
    # sum_value column.
    """SELECT CAST(floor(epoch(time_bucket(INTERVAL '10 minutes', ts))) AS BIGINT)
         AS w_start,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2""",
)
def q_stream_tumbling(spark, sf):
    """B61/B62: streaming tumbling window + watermark (batch twin:
    window_tumbling)."""
    from lookup_transform_spark.streaming import (
        read_events_stream,
        run_to_memory,
        stream_tumbling_window,
    )

    ev = read_events_stream(spark, sf)
    return run_to_memory(
        stream_tumbling_window(ev), f"mem_stream_tumbling_{_vtag(sf)}", output_mode="complete"
    )


@_q(
    "stream_session",
    # Oracle-exact since r9 (complete mode — same decomposition-
    # independence argument as stream_tumbling). Spark's session_window
    # semantics replicated relationally: a new session starts when the
    # gap to the previous event is >= 30 min (the window is
    # [start, last_ts + gap), so an event AT the boundary opens a new
    # one); session_end = last event + gap; the emitted longs are
    # floor-epoch-seconds casts.
    """WITH e AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT)
         AS session_end,
       user_id, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid""",
)
def q_stream_session(spark, sf):
    """B61: native streaming session windows."""
    from lookup_transform_spark.streaming import (
        read_events_stream,
        run_to_memory,
        stream_session_window,
    )

    ev = read_events_stream(spark, sf)
    return run_to_memory(
        stream_session_window(ev), f"mem_stream_session_{_vtag(sf)}", output_mode="complete"
    )


@_q("stream_dedup")
def q_stream_dedup(spark, sf):
    """B63: stateful streaming dedup within the watermark horizon.
    Rows-only BY SEMANTICS (not oversight — r9 promoted every
    decomposition-independent streaming query): within-watermark dedup
    keeps a duplicate that arrives after its twin's state expired, so
    the output is a function of the trigger decomposition, which no
    single SQL statement models."""
    from lookup_transform_spark.streaming import (
        read_events_stream,
        run_to_memory,
        stream_dedup_within_watermark,
    )

    ev = read_events_stream(spark, sf).select("event_id", "user_id", "ts")
    out = stream_dedup_within_watermark(ev, ["user_id"])
    return run_to_memory(out, f"mem_stream_dedup_{_vtag(sf)}").select("event_id", "user_id")


@_q(
    "agg_mode",
    """WITH c AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag, l_quantity)
SELECT l_returnflag,
       MIN(l_quantity) FILTER (n = mx) AS mode_qty,
       CAST(mx AS BIGINT) AS mode_count
FROM (SELECT *, MAX(n) OVER (PARTITION BY l_returnflag) AS mx FROM c)
GROUP BY l_returnflag, mx""",
)
def q_agg_mode(spark, sf):
    """B32: deterministic MODE — most frequent value per group with a
    min-value tiebreak. Spark 3.4's ``F.mode`` (and DuckDB's ``mode``)
    break ties arbitrarily, which is useless for a reproducible
    pipeline; the two-level formulation (count per value → max count →
    min value at that count) is engine-independent and exact. Two
    partial-aggregated shuffles, both O(distinct values), the second
    O(groups)."""
    li = _t(spark, sf, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.groupBy("l_returnflag").agg(
        F.min_by(
            "l_quantity",
            F.struct((-F.col("n")).alias("neg_n"), F.col("l_quantity")),
        ).alias("mode_qty"),
        F.max("n").alias("mode_count"),
    )


@_q(
    "agg_corr",
    """WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sy,
         CAST(SUM(CAST(ROUND(l_quantity * l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
         SUM(CAST(ROUND(l_extendedprice * l_extendedprice * 100) AS BIGINT)) / 100.0 AS syy,
         SUM(CAST(ROUND(l_quantity * l_extendedprice * 100) AS BIGINT)) / 100.0 AS sxy
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       ROUND((n * sxy - sx * sy)
             / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_qty_price
FROM s""",
)
def q_agg_corr(spark, sf):
    """B32: Pearson correlation from fixed-point moment sums. The
    built-in ``F.corr`` accumulates co-moments in doubles, so its low
    bits depend on partitioning — not reproducible, not oracle-
    hashable. Summing the five moments as fixed-point longs (the
    anomaly_zscore pattern) makes every term exact and order-free;
    both engines then evaluate the identical closed-form double
    expression. One partial-aggregated shuffle of O(groups) rows.

    r8: the second-moment sums go through ``fp_sum_stable`` (two-stage:
    long partials per scan partition, decimal(38,0) merge) — the plain
    long sum of price²·10² crosses 2^63 at ~7e7 rows/group (measured:
    ANSI overflow at the 128× probe), and a Pearson over a 100 TB fact
    table is exactly the low-cardinality global rollup the stable form
    exists for. Values are bit-identical to ``fp_sum`` (pinned by the
    unchanged oracle hash)."""
    from lookup_transform_spark.functions.fixedpoint import fp_sum_stable

    li = _t(spark, sf, "lineitem")
    q, p = "l_quantity", "l_extendedprice"
    s = fp_sum_stable(
        li,
        ["l_returnflag"],
        {
            "sx": (q, 0),
            "sy": (p, 2),
            "sxx": (f"{q} * {q}", 0),
            "syy": (f"{p} * {p}", 2),
            "sxy": (f"{q} * {p}", 2),
        },
        count_alias="n",
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@_q(
    "text_normalize",
    """SELECT doc_id,
       trim(regexp_replace(lower(nfc_normalize(text)), '\\s+', ' ', 'g'))
         AS norm_text
FROM documents""",
)
def q_text_normalize(spark, sf):
    """B53: canonical text normalization (NFC + casefold + whitespace
    collapse) — the shared pre-pass that makes byte-different-but-equal
    texts collide in every fingerprint/dedup stage. NFC is the one step
    Spark SQL lacks a builtin for: it runs as a vectorized pandas UDF
    (`pandas .str.normalize`), case/whitespace stay codegen. Both
    engines implement the same Unicode normal form, so the oracle match
    is exact."""
    from lookup_transform_spark.operators.text import normalize_text

    d = _t(spark, sf, "documents")
    return d.select("doc_id", normalize_text("text").alias("norm_text"))


@_q(
    "quarantine_bad_json",
    """WITH m AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 0
              THEN substring(props, 1, length(props) - 2)
              ELSE props END AS s
  FROM events),
p AS (SELECT event_id, TRY_CAST(s AS JSON) AS j FROM m)
SELECT event_id,
       CAST(j ->> '$.k' AS BIGINT) AS k,
       CASE WHEN j ->> '$.k' IS NOT NULL THEN 'ok' ELSE 'quarantined' END
         AS status
FROM p""",
)
def q_quarantine_bad_json(spark, sf):
    """B55/B30 robustness: bad-record quarantine — the split every
    ingest pipeline needs when upstream JSON can be malformed. Rows
    whose payload fails the strict schema (here: every 13th row's JSON
    deterministically truncated, standing in for upstream corruption)
    are tagged 'quarantined' instead of failing the job or silently
    dropping; good rows carry the parsed value. One pass, pure codegen
    (`from_json` PERMISSIVE yields null fields on parse failure — no
    exception path, no second scan), so the quarantine tee is free at
    any scale. The oracle replicates the corruption and the
    json_valid split relationally — exact match."""
    ev = _events(spark, sf).select("event_id", "props")
    mangled = F.when(
        F.col("event_id") % 13 == 0,
        F.expr("substring(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    k = F.from_json(mangled, "k bigint")["k"]
    return ev.select(
        "event_id",
        k.alias("k"),
        F.when(k.isNull(), F.lit("quarantined"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )


@_q(
    "dedup_incremental_minhash",
    """WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2]))) AS sh
  FROM documents)
, dup AS (
  SELECT DISTINCT n.doc_id
  FROM d n JOIN d s
    ON n.doc_id % 10 >= 8 AND s.doc_id % 10 < 8
  WHERE ROUND(len(list_intersect(n.sh, s.sh))::DOUBLE
              / len(list_distinct(list_concat(n.sh, s.sh))), 6) >= 0.5)
SELECT doc_id FROM d
WHERE doc_id % 10 >= 8 AND doc_id NOT IN (SELECT doc_id FROM dup)""",
)
def q_dedup_incremental_minhash(spark, sf):
    """B51 at-rest path: incremental NEAR-dup — the fuzzy analog of
    `dedup_incremental_indexed`, and the missing half of continuous
    ingest (exact fingerprints catch byte-duplicates; this rejects new
    docs that are near-duplicates of anything already accepted). The
    standing corpus's LSH banding + shingle sets live in two bucketed
    tables (write_lsh_index, write-once/probe-many); each probe
    shingles, signs, and shuffles ONLY the new batch — the banding join
    and the Jaccard verify both read the standing tables co-located
    (bucketed scans pinned in tests/test_plans.py). Returns the novel
    doc ids the ingest should accept.

    Oracle (r8 promotion from rows-only): the banding probe is followed
    by an EXACT shingle-Jaccard verify against the standing store, so
    with banding recall 1.0 (the dedup_minhash pin) the accepted set is
    exactly {new docs with NO standing neighbor at J >= 0.5} — the
    NOT-EXISTS brute-force formulation DuckDB runs; the engine never
    scans standing-vs-new all-pairs (banded candidates only). Equality
    with the in-plan batch-vs-standing computation remains pinned in
    tests/test_dedup_caps.py."""
    from lookup_transform_spark.operators.dedup import (
        incremental_minhash_probe,
        write_lsh_index,
    )

    docs = _t(spark, sf, "documents")
    tag = _vtag(sf)
    table = f"lshidx_{tag}"
    path = scratch_path("lshidx", sf)
    _stale_guard(
        spark, path, os.path.join(sf, "documents.parquet"),
        success=f"{path}/bands/_SUCCESS",
        tables=(f"{table}_bands", f"{table}_docs"),
    )
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8)
    write_lsh_index(spark, standing, table, path)
    new = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8)
    # no trailing orderBy: the parity comparator sorts rows itself, and
    # a global sort is an extra range exchange inside the timed region
    return incremental_minhash_probe(spark, new, table)


def _ingest_neardedup_oracle() -> str:
    """DuckDB oracle for the BOTH-tier continuous ingest (r9, VERDICT
    r8 #5 extended): the batches unroll like the kmeans iterations.
    Staged arrivals are a pure function of the fixture and the
    engine's staging constants (``stage_document_batches``: batch b =
    doc_id % N_FILES; batches 1+ re-send the ``dup`` smallest batch-0
    docs verbatim at id + 10M·b and ranks dup+1..dup+near with a
    ``' tailb'`` suffix at id + 100M·b, (dup, near) = NEAR_RESENDS).
    Per batch, in the engine's order: (1) exact tier —
    min-id per fingerprint, minus fingerprints already ACCEPTED;
    (2) near tier — drop a doc iff a verified (6-dp-rounded 3-shingle
    Jaccard ≥ t) smaller-id doc exists in the same batch's exact-tier
    survivors, or ANY accepted doc from earlier batches is similar.
    The two per-doc predicates commute, and the LSH candidate stage is
    recall-1.0 at these parameters (the dedup_minhash promotion's
    argument, re-proved end-to-end here every round). The lossless
    length band (J ≥ 0.5 ⇒ |larger| ≤ 2·|smaller|, +1 slack for the
    rounding boundary) keeps the correlated NOT EXISTS from scanning
    every pair."""
    n_files, threshold = N_FILES, JACCARD_THRESHOLD
    dup, near = NEAR_RESENDS
    jac = (
        "ROUND(len(list_intersect({x}.shg, {y}.shg))::DOUBLE"
        " / len(list_distinct(list_concat({x}.shg, {y}.shg))), 6)"
        f" >= {threshold}"
    )
    band = (
        "len({y}.shg) <= 2 * len({x}.shg) + 1"
        " AND len({x}.shg) <= 2 * len({y}.shg) + 1"
    )
    split = "string_split_regex(lower(text), '\\s+')"
    parts = [f"""dup_base AS MATERIALIZED (
  SELECT doc_id, text, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk
  FROM documents WHERE doc_id % {n_files} = 0
)""", f"""staged AS MATERIALIZED (
  SELECT (doc_id % {n_files})::BIGINT AS b, doc_id, text FROM documents
  UNION ALL
  SELECT i.range, d.doc_id + 10000000 * i.range, d.text
  FROM dup_base d, range(1, {n_files}) i WHERE d.rk <= {dup}
  UNION ALL
  SELECT i.range, d.doc_id + 100000000 * i.range,
         d.text || ' tail' || i.range
  FROM dup_base d, range(1, {n_files}) i
  WHERE d.rk BETWEEN {dup + 1} AND {dup + near}
)""", f"""sh AS MATERIALIZED (
  SELECT b, doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f,
         list_distinct(list_transform(
           range(1, greatest(len({split}) - 2, 1) + 1),
           i -> concat_ws(' ', {split}[i], {split}[i+1], {split}[i+2])
         )) AS shg
  FROM staged
)"""]
    for b in range(n_files):
        anti = (
            f"\n      AND f NOT IN (SELECT f FROM acc{b - 1})" if b else ""
        )
        parts.append(f"""l{b} AS MATERIALIZED (
  SELECT f, doc_id, shg FROM (
    SELECT f, doc_id, shg,
           ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
    FROM sh WHERE b = {b}{anti}
  ) WHERE rn = 1
)""")
        cross = "" if b == 0 else f"""
    AND NOT EXISTS (
      SELECT 1 FROM acc{b - 1} z
      WHERE {band.format(x='x', y='z')} AND {jac.format(x='x', y='z')})"""
        parts.append(f"""a{b} AS MATERIALIZED (
  SELECT x.f, x.doc_id, x.shg FROM l{b} x
  WHERE NOT EXISTS (
      SELECT 1 FROM l{b} y
      WHERE y.doc_id < x.doc_id
        AND {band.format(x='x', y='y')} AND {jac.format(x='x', y='y')}){cross}
)""")
        parts.append(
            f"acc{b} AS MATERIALIZED (SELECT * FROM a{b})" if b == 0 else
            f"acc{b} AS MATERIALIZED "
            f"(SELECT * FROM acc{b - 1} UNION ALL SELECT * FROM a{b})"
        )
    ctes = ",\n".join(parts)
    return f"""WITH {ctes}
SELECT COUNT(*)::BIGINT AS n_docs, COUNT(DISTINCT f)::BIGINT AS n_distinct,
       SUM(doc_id)::BIGINT AS id_sum
FROM acc{n_files - 1}"""


@_q("stream_ingest_neardedup", _ingest_neardedup_oracle())
def q_stream_ingest_neardedup(spark, sf):
    """B63/B51 extension (r7, VERDICT r6 #2): continuous ingest with
    BOTH dedup tiers. Each micro-batch is (1) exact-deduped within
    itself and against the standing fingerprint index, (2) NEAR-deduped
    within itself (min-id survivor of every verified MinHash pair) and
    against the standing LSH index (incremental_minhash_probe), and the
    accepted docs are appended to the corpus and BOTH indexes
    (append_to_lsh_index) — so batch N+1 near-dups against batch N
    without re-banding the corpus. Per-batch cost O(batch + collisions).
    Oracle-exact since r9 (see ``_ingest_neardedup_oracle``: the
    hash-seeded LSH stage is candidate generation only — the exact
    Jaccard verify makes the accepted set deterministic, and the
    batches unroll into SQL); stream ≡ batch replay over the shared
    ingest step stays pinned in tests/test_streaming.py."""
    from lookup_transform_spark.streaming.ingest import (
        stream_ingest_neardedup,
    )

    work = scratch_path("stream_ingest_near", sf)
    out = stream_ingest_neardedup(spark, sf, work)
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_distinct"),
        F.sum("doc_id").alias("id_sum"),
    )


@_q(
    "stream_ingest_dedup",
    # Oracle-exact since r9 (VERDICT r8 #5, extended): the multi-batch
    # side effect has a deterministic closed form. The staged arrivals
    # are a pure function of the fixture and the staging constants
    # (batch b = doc_id % N_FILES; batches 1+ re-send the EXACT_RESENDS
    # smallest batch-0 docs verbatim under id + 10M·b), and the
    # ingest's survivor rule is FIRST-ACCEPTED:
    # earliest batch containing the fingerprint wins, min doc_id within
    # that batch — i.e. ROW_NUMBER over (batch, doc_id) per
    # fingerprint. (NOT plain global min-id: a duplicate text whose
    # smaller id arrives in a LATER batch loses to the standing index —
    # the oracle models the actual rule, so the monotonic-id
    # precondition the module docstring discusses is not assumed here.)
    f"""WITH dup_src AS (
  SELECT doc_id, text FROM documents WHERE doc_id % {N_FILES} = 0
  ORDER BY doc_id LIMIT {EXACT_RESENDS}
),
staged AS (
  SELECT (doc_id % {N_FILES})::BIGINT AS b, doc_id, text FROM documents
  UNION ALL
  SELECT i.range AS b, d.doc_id + 10000000 * i.range AS doc_id, d.text
  FROM dup_src d, range(1, {N_FILES}) i
),
fp AS (
  SELECT b, doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM staged
),
surv AS (
  SELECT f, doc_id FROM (
    SELECT f, doc_id,
           ROW_NUMBER() OVER (PARTITION BY f ORDER BY b, doc_id) AS rn
    FROM fp) WHERE rn = 1
)
SELECT COUNT(*)::BIGINT AS n_docs, COUNT(DISTINCT f)::BIGINT AS n_distinct,
       SUM(doc_id)::BIGINT AS id_sum
FROM surv""",
)
def q_stream_ingest_dedup(spark, sf):
    """B63 extension: continuous-ingest dedup — the foreachBatch shape a
    training-data pipeline runs. Documents arrive in 4 staged batches
    (later batches re-send texts from the first under fresh ids); each
    micro-batch dedups within itself (min-id per content fingerprint),
    anti-joins the standing at-rest fingerprint index, and appends
    survivors to corpus + index so the NEXT batch sees them. Per-batch
    cost O(batch) — the dedup state lives in the parquet index, not a
    state store, so the corpus can grow without bounding executor
    memory (contrast: streaming dropDuplicates state is resident
    forever). Oracle-exact since r9: the staged arrivals and the
    first-accepted survivor rule are both deterministic SQL (see the
    decorator comment); stream-ingest ≡ batch replay stays pinned in
    tests/test_streaming.py."""
    from lookup_transform_spark.streaming.ingest import stream_ingest_dedup

    work = scratch_path("stream_ingest", sf)
    out = stream_ingest_dedup(spark, sf, work)
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("f").alias("n_distinct"),
        F.sum("doc_id").alias("id_sum"),
    )


