"""Training-corpus curation: decontamination, packing, corpus mix, sketch rollups

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so the registry remains the single
lookup surface.
"""

from __future__ import annotations

import os  # noqa: F401
import re

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from lookup_transform_spark.functions.fixedpoint import (  # noqa: F401
    fp_sum,
    scaled_long,
)
from lookup_transform_spark.operators import dedup as DD  # noqa: F401
from lookup_transform_spark.operators import text as TX  # noqa: F401
from lookup_transform_spark.operators.asof import (  # noqa: F401
    asof_join,
    range_join,
)
from lookup_transform_spark.operators.sessionize import sessionize  # noqa: F401
from lookup_transform_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from lookup_transform_spark.plans.lookup import LookupSpec  # noqa: F401
from lookup_transform_spark.registry import (  # noqa: F401
    SCRATCH,
    _events,
    _fsum,
    _q,
    _stale_guard,
    _t,
    _vtag,
    scratch_path,
)

# ---------------------------------------------------------------------------
# Training-corpus curation: benchmark decontamination, context-window
# packing
# ---------------------------------------------------------------------------

_TRIGRAM_RE = re.compile(r"^[a-z]+( [a-z]+){2}$")


def _check_trigrams(grams: tuple[str, ...]) -> tuple[str, ...]:
    """Refuse any blocklist entry that is not three lowercase words
    joined by single spaces: ``q_decontaminate`` splices the entries raw
    into a regex inside a SQL string literal, so a metachar or a quote
    would change the filter (or break the SQL) instead of matching."""
    bad = [g for g in grams if not _TRIGRAM_RE.match(g)]
    if bad:
        raise ValueError(f"blocklist entries must be [a-z]+ trigrams: {bad}")
    return grams


#: stand-in for a benchmark-suite n-gram blocklist (eval contamination)
DECONTAM_TRIGRAMS = _check_trigrams((
    "big order scan", "window fast query", "table key filter",
    "stream table hash", "sort table scan", "part filter scan",
    "row value spark", "group slow spark",
))

@_q(
    "decontaminate",
    """WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
grams AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
  FROM toks, UNNEST(generate_series(1, len(ts)-2)) AS u(i)),
bad AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE g IN ('big order scan','window fast query','table key filter',
              'stream table hash','sort table scan','part filter scan',
              'row value spark','group slow spark'))
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)""",
)
def q_decontaminate(spark, sf):
    """Benchmark decontamination: drop any document containing a
    blocklisted token 3-gram (the standard eval-set-overlap removal in
    training-corpus pipelines).

    r11 formulation: one boundary-guarded regex over the RAW text — a
    pure scan+filter, ZERO exchanges, no explode (plan-pinned). The
    r7-r10 explode → broadcast-semi → distinct → broadcast-anti plan
    never shuffled the corpus either, but it materialized every 3-gram
    as a row (O(tokens) explode), paid a distinct exchange, and
    re-scanned the corpus for the anti join; interleaved 32-core A/B at
    sf0.1: 0.87 → 0.15 s (a short-circuiting ``exists`` over gram
    positions was ALSO tried and measured 3.7 s — higher-order
    functions evaluate interpreted, outside codegen).

    Equivalence (oracle-verified, and checked row-equal against the
    explode form at sf0.1): tokens are maximal runs of a single-space
    split, so joining 3 consecutive tokens with ' ' reconstructs the
    raw substring between token boundaries — a blocklisted trigram
    exists IFF the text matches ``(^| )gram( |$)``. Blocklist entries
    are [a-z ]-only plan literals (no regex metachars), checked at
    import by ``_check_trigrams``. NULL text has no grams → kept, as
    before (the IS NULL arm)."""
    docs = _t(spark, sf, "documents")
    pat = "(^| )(" + "|".join(DECONTAM_TRIGRAMS) + ")( |$)"
    return docs.filter(f"text IS NULL OR NOT (text RLIKE '{pat}')").select(
        "doc_id", "lang", "source", "n_chars"
    )


@_q(
    "pack_sequences",
    """WITH t AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT source, CAST(FLOOR((cum - n_chars) / 4096.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, SUM(n_chars) AS fill_chars
FROM t GROUP BY source, bin_id""",
)
def q_pack_sequences(spark, sf):
    """Context-window packing: deterministic contiguous fill — docs in
    doc_id order drop into 4096-char bins per source (bin = floor of
    the chars consumed before the doc / budget). Partitioned by source
    so the running sum never needs a global single-partition sort; at
    100 TB any hash bucket column serves the same role."""
    docs = _t(spark, sf, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_chars").over(w)
    bin_id = F.floor((cum - F.col("n_chars")) / F.lit(4096.0))
    return (
        docs.select(
            "source", "n_chars", bin_id.alias("bin_id")
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("fill_chars"),
        )
    )


@_q(
    "quality_filter_gopher",
    """WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(text), '\\s+') AS toks,
         length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
         length(text) AS chars
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS INTEGER) AS word_count,
         ROUND(CAST(nonspace AS DOUBLE) / len(toks), 6) AS mean_word_len,
         CAST(list_max(list_transform(toks, x -> length(x))) AS INTEGER) AS max_word_len,
         CAST(len(list_filter(toks, x -> list_contains(
           ['the','and','of','to','in','is','that','it','for','with'], x)))
           AS INTEGER) AS stop_hits,
         ROUND(CASE WHEN chars > 0 THEN CAST(digits AS DOUBLE) / chars
                    ELSE 0.0 END, 6) AS digit_ratio
  FROM t)
SELECT doc_id, word_count, mean_word_len, max_word_len, stop_hits, digit_ratio,
       (word_count BETWEEN 10 AND 10000) AS r_word_count,
       (mean_word_len BETWEEN 2.0 AND 10.0) AS r_mean_word_len,
       (max_word_len <= 20) AS r_max_word_len,
       (stop_hits >= 1) AS r_stopwords,
       (digit_ratio < 0.2) AS r_digit_ratio,
       ((word_count BETWEEN 10 AND 10000)
        AND (mean_word_len BETWEEN 2.0 AND 10.0)
        AND (max_word_len <= 20) AND (stop_hits >= 1)
        AND (digit_ratio < 0.2)) AS keep
FROM m""",
)
def q_quality_filter_gopher(spark, sf):
    """B53 extension: Gopher-rule quality filtering (Rae et al. 2021)
    with per-rule attribution columns — the standard cheap pre-filter
    pass of a training-data pipeline. Pure codegen expressions over one
    corpus pass; the scan is spread to compute width first (gated,
    r12 — the single-row-group fixture serialized the rule evaluation
    on one core, 0.42 → 0.19 s measured; no-op at scale)."""
    return TX.gopher_quality(
        DD._ensure_parallel(_t(spark, sf, "documents"), "doc_id")
    )


@_q(
    "scan_binary_files",
    """SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_len,
       md5(text) AS payload_md5
FROM documents WHERE doc_id < 400 AND length(text) > 0""",
)
def q_scan_binary_files(spark, sf):
    """B1/B54: raw binary-asset ingest through Spark's ``binaryFile``
    source — the path a multimodal pipeline takes for image/audio files
    on object storage. Fixture prep exports a deterministic subset of
    documents as one ``<doc_id>.bin`` per row (executor-side
    ``foreachPartition``, nothing driver-collected), then the measured
    query lists + scans them back and checks payload integrity by md5
    against the source-of-truth table. Staleness-guarded like the IVF
    at-rest layout: the export is rebuilt when the fixture parquet is
    newer than its _SUCCESS sentinel."""
    from lookup_transform_spark.sources import (
        read_binary_files,
        write_binary_files,
    )

    path = scratch_path("bin_assets", sf)
    if _stale_guard(spark, path, os.path.join(sf, "documents.parquet")):
        docs = (
            _t(spark, sf, "documents")
            # length > 0 on BOTH sides (oracle below matches): Spark's
            # binaryFile source drops zero-length files, so an empty
            # text would round-trip as a silently missing row
            .filter((F.col("doc_id") < 400) & (F.length("text") > 0))
            .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
        )
        write_binary_files(docs, path)
    bf = read_binary_files(spark, path, glob="*.bin")
    return bf.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("payload_len"),
        F.md5(F.col("content")).alias("payload_md5"),
    )


from lookup_transform_spark.operators.clustering_oracle import (
    kmeans_oracle_sql,
    semantic_dedup_oracle_sql,
)


@_q("kmeans_embeddings", kmeans_oracle_sql(k=8, iters=5, dim=64))
def q_kmeans_embeddings(spark, sf):
    """Extension tier (iterative algorithms, with dedup_clusters):
    distributed Lloyd's k-means over the embedding corpus — per-cluster
    sizes. Oracle-exact since r9 (VERDICT r8 #5): the fixed iteration
    budget + deterministic init + integer-exact dp=7 centroid sums that
    made the operator order-independent also make it independently
    recomputable — Lloyd's unrolled into chained DuckDB CTEs
    (operators/clustering_oracle.py; a recursive CTE can't hold the
    per-round mean aggregate). Assignments additionally pinned vs a
    pure-numpy replica in tests/test_clustering.py."""
    from lookup_transform_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf, "embeddings")
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=8, iters=5)
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("cluster_id")
    )


@_q("dedup_semantic", semantic_dedup_oracle_sql(iters=3, threshold=0.4, dim=64))
def q_dedup_semantic(spark, sf):
    """B51 extension: SemDeDup — semantic near-dup removal by k-means
    clustering + within-cluster cosine (Abbas et al. 2023).
    Oracle-exact since r9 (VERDICT r8 #5): the unrolled-Lloyd's CTE
    chain (shared with kmeans_embeddings, data-dependent k inlined as
    a scalar subquery) plus within-cluster cosine in plain SQL — the
    operator already rounds sims to 6 dp before thresholding
    (clustering.py:cluster_dups), which is what makes the float column
    cross-engine comparable. Also pinned vs a numpy replica and an
    exact all-pairs recall floor in tests/test_clustering.py."""
    from lookup_transform_spark.operators.clustering import (
        semantic_dedup_pairs,
    )

    emb = _t(spark, sf, "embeddings")
    # k scales with the corpus so a cluster (~n/k rows) keeps its
    # similarity tile worker-sized: n/k ~ 2k rows -> ~32 MB float64
    # tile. This is the knob the operator docstring prescribes — at
    # 100 TB you raise k, never the per-worker tile.
    n = emb.count()
    k = max(8, min(256, n // 2000))
    return semantic_dedup_pairs(
        emb, "vec_id", "embedding", k=k, iters=3, threshold=0.4,
        max_cluster_size=20_000,
    )


@_q(
    "sketch_topk_rollup",
    """WITH toks AS (
  SELECT lang, (doc_id % 16)::BIGINT AS shard, t.tok AS tok
  FROM documents,
       UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
              x -> x != '')) AS t(tok)
),
cnts AS (
  SELECT lang, shard, tok, COUNT(*) AS c FROM toks GROUP BY lang, shard, tok
),
ranked AS (
  SELECT lang, shard, tok, c,
         ROW_NUMBER() OVER (PARTITION BY lang, shard
                            ORDER BY c DESC, tok ASC) AS rn
  FROM cnts
),
leaf_drop AS (
  SELECT lang, shard,
         COALESCE(MAX(CASE WHEN rn = 201 THEN c END), 0)::BIGINT AS drop_max
  FROM ranked GROUP BY lang, shard
),
kept AS (SELECT lang, shard, tok, c FROM ranked WHERE rn <= 200),
tot AS (
  SELECT lang, SUM(drop_max)::BIGINT AS all_drop FROM leaf_drop GROUP BY lang
),
perkey AS (
  SELECT k.lang, k.tok, SUM(k.c)::BIGINT AS cnt_lo,
         SUM(d.drop_max)::BIGINT AS present_drop
  FROM kept k
  JOIN leaf_drop d ON d.lang = k.lang AND d.shard = k.shard
  GROUP BY k.lang, k.tok
),
final AS (
  SELECT p.lang, p.tok AS key, p.cnt_lo,
         (p.cnt_lo + t.all_drop - p.present_drop)::BIGINT AS cnt_hi,
         ROW_NUMBER() OVER (PARTITION BY p.lang
                            ORDER BY p.cnt_lo DESC, p.tok ASC) AS rank
  FROM perkey p JOIN tot t USING (lang)
)
SELECT lang, key, cnt_lo, cnt_hi, CAST(rank AS INTEGER) AS rank
FROM final WHERE rank <= 10""",
)
def q_sketch_topk_rollup(spark, sf):
    """B32 extension (r9): MERGEABLE top-k / heavy hitters — the
    frequent-items member of the sketch family (HLL = distinct,
    qsketch = quantiles). Per-(lang, doc-shard) summaries keep each
    shard's EXACT top-200 tokens plus the largest dropped count; the
    rollup sums kept counts and derives a per-key certainty interval
    [cnt_lo, cnt_hi] from the drop bounds — O(groups·m) summary rows
    at rest, the corpus never rescanned for later top-k queries.
    Oracle-exact BY CONSTRUCTION: unlike SpaceSaving/Misra-Gries
    (whose summaries depend on arrival order inside a partition), the
    shard assignment is a pure row function and each shard summary is
    an exact truncated count — every number integer arithmetic an
    independent engine reproduces bit-for-bit. The bound-correctness
    and exactness-when-m-covers-vocabulary properties are pinned in
    tests/test_sketches.py."""
    from lookup_transform_spark.operators.sketches import (
        topk_merge,
        topk_sketch,
    )

    d = _t(spark, sf, "documents")
    # tokenize+explode+partial-count at compute width (gated, r12):
    # the single-row-group fixture ran all of it in one scan task
    toks = DD._ensure_parallel(d, "doc_id").select(
        "lang",
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    leaves = topk_sketch(
        toks, ["lang"], "tok", F.col("doc_id") % 16, m=200
    )
    return topk_merge(leaves, ["lang"], k=10)


from lookup_transform_spark.operators.sketches_oracle import (
    hll_portable_oracle_sql,
)


@_q(
    "sketch_hll_portable",
    hll_portable_oracle_sql("documents", "source", "lang", "doc_id"),
)
def q_sketch_hll_portable(spark, sf):
    """B32 extension (r9): the distinct-count sketch in an ORACLE-EXACT
    form — md5-derived HLL registers (integer-exact: hex-slice bucket +
    base-2-string bit length, no float log in the register path),
    per-(source, lang) leaves rolled up to per-source by per-bucket
    MAX, estimates 3-dp rounded on both sides. Complements
    ``sketch_hll_rollup`` (Spark's binary hll_sketch_agg — the faster
    production path, engine-specific by nature and rows-only forever);
    this one proves the distributed rollup's VALUES against an
    independent engine, completing the oracle-exact sketch family
    (quantiles r9, heavy hitters r9, distinct counts here). Merge
    transparency (per-bucket MAX is associative) is what lets the
    oracle group the raw keys directly; merge ≡ rebuild and the ~1.6%
    accuracy bound are pinned in tests/test_sketches.py."""
    from lookup_transform_spark.operators.sketches import (
        hll_portable_distinct,
    )

    d = _t(spark, sf, "documents")
    # two partial-aggregated shuffles, no map packaging: inside ONE
    # query the leaf->merge layering is physically meaningless (MAX
    # collapses across grains); the layered sketch/merge/estimate API
    # is the at-rest surface, and layered == direct is pinned in tests
    return hll_portable_distinct(d, ["source"], "doc_id").orderBy("source")


@_q(
    "stream_sketch_rollup",
    hll_portable_oracle_sql("documents", "lang", "batch", "doc_id"),
)
def q_stream_sketch_rollup(spark, sf):
    """B61/B32 crossover (r10): STREAMING sketch maintenance — the
    shape a 100 TB ingest actually runs. Documents arrive in 4 staged
    batches; each micro-batch writes ONE tiny portable-HLL leaf row per
    lang (4096 integer registers) to an at-rest summary, and the
    distinct-count read merges the standing leaves (per-bucket MAX)
    without ever rescanning the corpus. Oracle-EXACT despite being a
    multi-batch streaming side effect: registers are integer-exact and
    MAX is associative + commutative, so the merged estimate is a pure
    function of the arrived key SET — independent of trigger
    decomposition, batch order, and retries (per-batch-dir overwrite;
    a double-delivered leaf is absorbed by MAX and n_rows reads the
    dir set, never appends). Decomposition independence and
    stream ≡ direct-batch equality pinned in tests/test_streaming.py;
    the leaf/merge algebra itself in tests/test_sketches.py.

    Shares ONE maintenance loop + work dir with
    ``stream_quantile_rollup`` (r11 fusion, VERDICT r10 #4): each
    micro-batch emits both families' leaves in a single pass, and
    whichever query of the pair runs second verifies the maintenance
    marker and reads its standing summary without re-staging."""
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_sketch_rollup,
    )

    work = scratch_path("stream_sketchpair", sf)
    out = stream_sketch_rollup(spark, sf, work, group_col="lang")
    return out.orderBy("lang")


from lookup_transform_spark.operators.sketches_oracle import (  # noqa: E402
    qsketch_oracle_sql as _qsketch_oracle_sql,
)


@_q(
    "stream_quantile_rollup",
    _qsketch_oracle_sql(
        "documents", "lang", "(n_chars::DOUBLE)", [0.5, 0.95, 0.99]
    ),
)
def q_stream_quantile_rollup(spark, sf):
    """B61/B32 crossover (r10): the quantile member's STREAMING
    maintenance form, completing the pair with `stream_sketch_rollup` —
    every mergeable sketch in the family now has both an at-rest batch
    rollup and a continuous-ingest form. Each micro-batch writes one
    log-bucketed histogram leaf per lang; per-lang p50/p95/p99 read
    from the merged buckets without rescanning the corpus. Oracle-EXACT
    by the same argument as the HLL form: integer bucket counts under
    an associative+commutative SUM are trigger-decomposition- and
    retry-independent (per-batch-dir overwrite). The double cast on
    n_chars is mirrored verbatim in the oracle's value expression
    (log_bucket's isnan guard needs a floating type). Decomposition
    independence and stream ≡ direct pinned in tests/test_streaming.py.

    Shares ONE maintenance loop + work dir with
    ``stream_sketch_rollup`` (r11 fusion, VERDICT r10 #4)."""
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_quantile_rollup,
    )

    work = scratch_path("stream_sketchpair", sf)
    out = stream_quantile_rollup(spark, sf, work)
    return out.orderBy("lang")


@_q("sketch_hll_rollup")
def q_sketch_hll_rollup(spark, sf):
    """B32 extension: MERGEABLE sketch rollup — the 100 TB
    pre-aggregation idiom. Per-(source, lang) HLL sketches are built
    with one pass (hll_sketch_agg), then rolled up to per-source totals
    by merging the BINARY sketches (hll_union_agg) — distinct-count
    rollups without rescanning or re-shuffling raw data. At rest the
    leaf sketches would be a tiny parquet table maintained per
    partition-ingest; any slice union is then sketch-merge cheap.
    Rows-only (HLL estimates are engine-specific); the estimate-vs-
    exact tolerance is pinned in tests/test_property.py."""
    d = _t(spark, sf, "documents")
    leaf = d.groupBy("source", "lang").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        leaf.groupBy("source")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_docs"),
            F.sum("n_rows").alias("n_rows"),
        )
        .orderBy("source")
    )


@_q(
    "join_bloom_semi",
    """SELECT l.l_returnflag, COUNT(*) AS n_lines,
       SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem l
WHERE l.l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
    AND o_totalprice > 150000.0)
GROUP BY l.l_returnflag""",
)
def q_join_bloom_semi(spark, sf):
    """B37 extension: size-routed semi join (operators/bloomjoin.py,
    ``semi_join_auto``) — revenue of lineitems belonging to high-value
    orders of one quarter.

    r7 routing (VERDICT r6 #7): the Bloom prefilter only pays in ONE
    regime — a key set too big to broadcast probing a much larger fact
    (A/B measured in scripts/bloom_ab_probe.py, recorded in PLANS.md).
    Here the filtered key set is small, so the router takes the plain
    broadcast semi join (zero fact shuffle, zero Python) — the round-6
    bench ran the bloom path unconditionally and paid 17.8× vs the
    oracle for machinery this shape never needed. When the key-side
    estimate exceeds the broadcast budget the router builds the 1 MiB
    bitmap (one pass, tree-merged), broadcasts it, and probes the fact
    scan BEFORE the join exchange so the shuffle carries only probable
    matches; the closing exact semi join removes Bloom false positives,
    keeping every path bit-identical to the SQL oracle. That is the
    100 TB shape Spark's own runtime bloom injection can't reach
    without CBO statistics (a filtered scan keeps its unfiltered
    sizeInBytes, so the creation-side gate never opens — measured in
    round 5; see PLANS.md)."""
    from lookup_transform_spark.operators.bloomjoin import semi_join_auto

    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_totalprice") > 150000.0)
    ).select("o_orderkey")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    sj = semi_join_auto(li, o, "l_orderkey", "o_orderkey")
    rev = "l_extendedprice * (1 - l_discount)"
    return sj.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        _fsum(rev, "revenue", dp=4),
    )


from lookup_transform_spark.operators.sketches_oracle import qsketch_oracle_sql


@_q(
    "sketch_quantile_rollup",
    qsketch_oracle_sql("events", "event_type", "value", [0.5, 0.95, 0.99]),
)
def q_sketch_quantile_rollup(spark, sf):
    """B32 extension: MERGEABLE quantile rollup, the percentile twin of
    ``sketch_hll_rollup``. Exact percentiles are selection-based —
    per-slice p95s over 100 TB either rescan raw values per slice or
    keep a mergeable summary. Here: per-(event_type, user-shard)
    log-bucketed histogram sketches (one partial-aggregated shuffle of
    (group, bucket) pairs, O(groups×buckets) shuffle volume), rolled up
    to per-event_type by summing bucket counts — raw events are read
    once and never re-shuffled, and unlike GK/KLL the merge is
    order-independent and lossless (sketch(A∪B) == merge of sketches,
    pinned in tests/test_sketches.py). p50/p95/p99 read from geometric
    bucket midpoints, within sqrt(1.04) ≈ ±2% of the exact quantile
    (also pinned). Oracle-exact since r9 (VERDICT r8 #5): the log(base)
    divisor is a plan literal the oracle embeds verbatim, and the
    emitted midpoints are 6-dp rounded on both sides — see
    operators/sketches_oracle.py for the full libm-exposure argument."""
    from lookup_transform_spark.operators.sketches import (
        qsketch,
        qsketch_merge,
        qsketch_quantiles,
    )

    ev = _events(spark, sf).select(
        "event_type", (F.col("user_id") % 16).alias("shard"), "value"
    )
    leaf = qsketch(ev, ["event_type", "shard"], "value")
    rolled = qsketch_merge(leaf, ["event_type"])
    q = qsketch_quantiles(rolled, ["event_type"], [0.5, 0.95, 0.99])
    # 6-dp rounding on the emitted midpoints (mirrored in the oracle):
    # absorbs pow()'s last-ulp cross-engine freedom, nine orders of
    # magnitude inside the sketch's own ±2% error bound
    return q.select(
        "event_type",
        "n_rows",
        *[F.round(c, 6).alias(c) for c in ("p50", "p95", "p99")],
    ).orderBy("event_type")
