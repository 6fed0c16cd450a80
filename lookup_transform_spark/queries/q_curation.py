"""B50-B55: LLM-data-pipeline tier (dedup, text analysis, similarity)

Split from the monolithic registry (r11, VERDICT r10 #7). Queries here
register into ``lookup_transform_spark.registry.QUERIES``/``ORACLES``
via the shared ``_q`` decorator at import time; ``registry`` imports
every tier module at its tail, so importing the registry registers
every query. Import a helper defined here from this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lookup_transform_spark.operators import dedup as DD
from lookup_transform_spark.operators import text as TX
from lookup_transform_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_bucket_topk,
)
from lookup_transform_spark.registry import (
    _events,
    _q,
    _stale_guard,
    _t,
    _vtag,
    scratch_path,
)

# ---------------------------------------------------------------------------
# B50-B55: LLM-data-pipeline tier
# ---------------------------------------------------------------------------

@_q(
    "dedup_exact",
    """SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events) WHERE rn = 1""",
)
def q_dedup_exact(spark, sf):
    """B50: exact dedup by key with deterministic survivor (min event_id),
    as a single hash aggregate (min_by), not a window sort."""
    ev = _events(spark, sf).select("user_id", "event_id", "event_type", "value")
    return DD.dedup_exact(ev, ["user_id"], "event_id")


@_q(
    "dedup_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_dedup_distinct(spark, sf):
    """B50/B36: full-row distinct."""
    return _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@_q(
    "text_stats",
    """WITH t AS (
  SELECT doc_id, text,
         CAST(len(string_split_regex(lower(text), '\\s+')) AS INTEGER) AS n_tok,
         CAST(length(text) AS INTEGER) AS n_chr,
         CASE WHEN text IS NULL THEN NULL
              WHEN length(text) > 0
              THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))::DOUBLE / length(text)
              ELSE 0.0 END AS praw
  FROM documents)
SELECT doc_id,
       n_tok AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER)
         AS n_bpe_tokens,
       n_chr AS n_chars_actual,
       ROUND(praw, 6) AS punct_ratio,
       ROUND(LEAST(n_tok / 20.0, 1.0) * (1.0 - praw)
             * CASE WHEN n_tok > 0 AND n_chr::DOUBLE / n_tok >= 3.0
                         AND n_chr::DOUBLE / n_tok <= 12.0
                    THEN 1.0 ELSE 0.5 END, 6) AS quality,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM t""",
)
def q_text_stats(spark, sf):
    """B53: token counts, punctuation ratio, quality score, fingerprint.

    The scan is spread to compute width first (gated, r12): the fixture
    parquet carries ONE row group, so every row lands in one scan task
    and the whole regex/tokenize pass serialized on a single core —
    0.38 → 0.20 s measured; at scale the gate never fires (row groups
    ≥ cores) and no shuffle is added."""
    return TX.text_stats(
        DD._ensure_parallel(_t(spark, sf, "documents"), "doc_id")
    )


@_q(
    "dedup_incremental",
    """WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents)
SELECT n.doc_id FROM fp n
WHERE n.doc_id % 10 >= 8
  AND NOT EXISTS (SELECT 1 FROM fp o WHERE o.doc_id % 10 < 8 AND o.f = n.f)""",
)
def q_dedup_incremental(spark, sf):
    """Continuous-ingest dedup: drop new-batch docs whose normalized
    content fingerprint already exists in the standing corpus (here the
    batch split is doc_id mod 10 ≥ 8). One anti-join on the fingerprint
    — at 100 TB the standing side is a bucketed fingerprint index, so
    the join co-locates without reshuffling history each ingest."""
    docs = _t(spark, sf, "documents")
    fp = docs.select(
        "doc_id", TX.content_fingerprint("text").alias("__f__")
    )
    old = fp.filter(F.pmod("doc_id", F.lit(10)) < 8).select("__f__")
    new = fp.filter(F.pmod("doc_id", F.lit(10)) >= 8)
    return new.join(old, "__f__", "left_anti").select("doc_id")


@_q(
    "dedup_incremental_indexed",
    """WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM documents)
SELECT n.doc_id FROM fp n
WHERE n.doc_id % 10 >= 8
  AND NOT EXISTS (SELECT 1 FROM fp o WHERE o.doc_id % 10 < 8 AND o.f = n.f)""",
)
def q_dedup_incremental_indexed(spark, sf):
    """B50 at-rest path: the same incremental dedup answered from a
    BUCKETED standing fingerprint index (write_fingerprint_index /
    incremental_probe) — the 100 TB shape `dedup_incremental`'s
    docstring promises. The index is built once (write-once/probe-many,
    like the IVF layout); each probe fingerprints and shuffles only the
    NEW batch while the standing side is read in place with no Exchange
    (pinned in tests/test_plans.py). Same oracle as dedup_incremental —
    identical results, different at-rest physics."""
    from lookup_transform_spark.operators.dedup import (
        incremental_probe,
        write_fingerprint_index,
    )

    docs = _t(spark, sf, "documents")
    tag = _vtag(sf)
    table = f"fpidx_{tag}"
    path = scratch_path("fpidx", sf)
    _stale_guard(
        spark, path, os.path.join(sf, "documents.parquet"), tables=(table,)
    )
    standing = docs.filter(F.pmod("doc_id", F.lit(10)) < 8)
    write_fingerprint_index(spark, standing, table, path)
    new = docs.filter(F.pmod("doc_id", F.lit(10)) >= 8)
    return incremental_probe(spark, new, table)


@_q(
    "lang_stats",
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang""",
)
def q_lang_stats(spark, sf):
    """B53: per-language corpus stats."""
    return _t(spark, sf, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _lang_list_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (
        f"CASE WHEN len(toks) > 0 THEN len(list_filter(toks, x -> "
        f"list_contains([{words}], x)))::DOUBLE / len(toks) ELSE 0.0 END"
    )


@_q(
    "lang_id",
    f"""WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
         {_lang_list_sql('de')} AS s_de,
         {_lang_list_sql('en')} AS s_en,
         {_lang_list_sql('es')} AS s_es,
         {_lang_list_sql('fr')} AS s_fr
  FROM t)
SELECT doc_id,
       CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
            WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM s""",
)
def q_lang_id(spark, sf):
    """B53: stopword-heuristic language ID (ties → alphabetically first).

    Spread to compute width first (gated, r12): the 4-language
    stopword-filter pass is the most CPU-heavy single-scan query in the
    text tier and the single-row-group fixture serialized it on one
    core — 1.09 → 0.29 s measured; the gate is a no-op on multi-row-
    group inputs (real corpora)."""
    return DD._ensure_parallel(_t(spark, sf, "documents"), "doc_id").select(
        "doc_id", TX.lang_id("text").alias("lang_pred")
    )


@_q(
    "ngram_jaccard",
    """WITH d AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2]))) AS sh
  FROM documents)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.2""",
)
def q_ngram_jaccard(spark, sf):
    """B51: exact n-gram Jaccard near-dup pairs, source-blocked."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), block_col="source", shingle_n=3, threshold=0.2
    )


@_q(
    "ngram_containment",
    """WITH d AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2]))) AS sh
  FROM documents)
SELECT doc_id_a, doc_id_b, containment FROM (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
               / least(len(a.sh), len(b.sh)), 6) AS containment
  FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
WHERE containment >= 0.4""",
)
def q_ngram_containment(spark, sf):
    """B51: n-gram containment (overlap coefficient |A∩B|/min(|A|,|B|))
    pairs — the asymmetric-length contamination detector: a short doc
    verbatim-embedded in a long one scores 1.0 where Jaccard dilutes it
    by the length ratio. Same single-tokenize candidate pipeline as
    ``ngram_jaccard`` (shared operator, ``metric`` switch)."""
    return DD.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), block_col="source", shingle_n=3,
        threshold=0.4, metric="containment",
    )


@_q(
    "embedding_near_dup",
    """SELECT vec_id_a, vec_id_b, sim FROM (
  SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
         ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
WHERE sim >= 0.4""",
)
def q_embedding_near_dup(spark, sf):
    """B51: embedding-cosine near-duplicate pairs (exact).

    ``blocks`` scales with the corpus so a tile side stays ~8k vectors
    — the knob the operator docstring prescribes. A similarity tile is
    side² float64s: 8k → 512 MB/task, the shape the 32× fixture already
    runs at full worker concurrency; a fixed block count grows the tile
    quadratically with the corpus and OOMs the executor (measured at
    the 128× probe scale, where blocks=8 meant 32k-side / 8.6 GB
    tiles), while over-fragmenting (4k sides measured 1.75× slower at
    32× — replication volume grows linearly in ``blocks``). Block count
    never changes results (the op is exact), only tile shape; total
    FLOPs stay O(n²) by design."""
    emb = _t(spark, sf, "embeddings")
    # size `blocks` from the catalog-EXACT row count when one exists
    # (free), else one count() scan. The over-counting sizeInBytes
    # estimate must not be used here (r8 review): it guesses 8 bytes
    # for the embedding array (~512 real), inflating rows ~100x and the
    # O(blocks²) tile-pair count ~10,000x — block sizing scales WORK,
    # so it needs a truthful n, not a gate-safe over-count
    from lookup_transform_spark.plans.lookup import _exact_rows_if_known

    n = _exact_rows_if_known(emb) or emb.count()
    blocks = max(8, -(-n // 8000))
    return DD.embedding_near_dup_pairs(emb, threshold=0.4, blocks=blocks)


def ann_query_set(emb: DataFrame) -> DataFrame:
    """The canonical ANN query sample: every 100th vector. ONE helper
    shared by the simsearch_* queries AND parity_bounds._recall's
    ground-truth derivation (ADVICE r10): if the sampling ever changes,
    both sides move together — a drifted recall bound comparing
    mismatched query/truth sets can pass or fail spuriously."""
    return emb.filter(F.col("vec_id") % 100 == 0)


@_q(
    "simsearch_cosine",
    """SELECT query_id, neighbor_id, sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                    c.vec_id) AS rn
  FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id % 100 = 0) q
  WHERE c.vec_id <> q.vec_id)
WHERE rn <= 10""",
)
def q_simsearch_cosine(spark, sf):
    """B52: exact brute-force cosine top-k (queries broadcast, corpus
    scanned once; the oracle-checkable ANN baseline)."""
    emb = _t(spark, sf, "embeddings")
    queries = ann_query_set(emb)
    return cosine_topk(emb, queries, k=10)


# ---- near-dup pair queries (LSH/banded engines, oracle-exact via
# ----   verify stages / portable hash families) ----------------------------

@_q(
    "dedup_minhash",
    """WITH d AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2]))) AS sh
  FROM documents)
SELECT doc_id_a, doc_id_b, jaccard FROM (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
  FROM d a JOIN d b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.5""",
)
def q_dedup_minhash(spark, sf):
    """B51: MinHash-LSH near-dup (shingle→minhash→band→bucket-join→verify).

    Oracle-checkable even though the LSH banding is hash-seeded: the
    candidate stage is followed by an EXACT shingle-set Jaccard verify,
    so the output is exactly {pairs : J(a,b) >= 0.5} whenever banding
    recall is 1.0 — which the recall pin (test_dedup) establishes and
    the all-pairs DuckDB oracle re-proves end-to-end every round. The
    oracle is the brute-force O(n²) formulation; the engine never
    materializes all pairs (banded LSH candidates only), which is the
    entire at-scale point. Exact-duplicate star edges (precluster) and
    the full pair set coincide here because the gate fixture has no
    duplicate texts; on corpora with exact dups the engine returns the
    linear star-edge representation by design."""
    return DD.minhash_lsh_pairs(
        _t(spark, sf, "documents"), num_hashes=32, bands=8, threshold=0.5
    )


def _simhash_md5_oracle(max_hamming: int = 3) -> str:
    """DuckDB SQL recomputing the md5-family simhash signature exactly
    (same token set, same first-64-md5-bits hash, same majority vote —
    see ``dedup._md5_token_hash``) and emitting hamming <= max_hamming
    pairs. The 64 per-bit vote terms are generated, not hand-written."""
    # the vote terms coalesce the empty-list sum (NULL in DuckDB) to 0,
    # so an empty token set votes every bit ON (2·0 >= 0) — matching the
    # engine's all-ones ``empty_sig`` for NULL/tokenless texts instead
    # of silently diverging to signature 0 on such rows
    bitsum = "\n      + ".join(
        f"(CASE WHEN 2*coalesce(list_sum(list_transform(hs, h -> ((h >> {j}) & 1)::BIGINT)), 0)"
        f" >= len(hs) THEN {1 << j}::UBIGINT ELSE 0::UBIGINT END)"
        for j in range(64)
    )
    return f"""WITH d AS (
  SELECT doc_id, coalesce(list_transform(list_distinct(string_split_regex(lower(text), '\\s+')),
         t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT), []) AS hs
  FROM documents),
sig AS (
  SELECT doc_id, ({bitsum}) AS sig FROM d)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.sig, b.sig))::INT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}"""


@_q("dedup_simhash", _simhash_md5_oracle(max_hamming=3))
def q_dedup_simhash(spark, sf):
    """B51: SimHash near-dup with pigeonhole banding (hamming <= 3).

    Token hashes are the portable md5 family, so the DuckDB oracle can
    recompute the IDENTICAL 64-bit signatures and hamming distances
    from the raw text — signature equality is pinned bit-for-bit in
    test_dedup_caps. The oracle is the brute-force all-pairs
    formulation; the engine only ever joins within pigeonhole chunk
    buckets (lossless for hamming < chunks), which is the scale path."""
    return DD.simhash_pairs(_t(spark, sf, "documents"), max_hamming=3)


@_q(
    "dedup_substring",
    """WITH spans AS (
  SELECT d.doc_id, substr(d.text, CAST(i.i AS INTEGER), 40) AS span
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 39, 1), 10)) AS i) i)
SELECT md5(span) AS span_md5, COUNT(DISTINCT doc_id) AS n_docs
FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2""",
)
def q_dedup_substring(spark, sf):
    """B51: cross-document repeated-substring spans (character-level
    verbatim duplication, Lee et al. 2021 shape) — sampled 40-char
    windows at stride 10, countDistinct aggregate, no self-join."""
    return DD.substring_spans(
        _t(spark, sf, "documents"), span_len=40, stride=10, min_docs=2
    )


@_q(
    "substring_dup_rate",
    """WITH spans AS (
  SELECT d.doc_id, substr(d.text, CAST(i.i AS INTEGER), 40) AS span
  FROM documents d,
       LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 39, 1), 10)) AS i) i),
hot AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2)
SELECT s.doc_id,
       COUNT(*) AS n_windows,
       CAST(COUNT(*) FILTER (WHERE s.span IN (SELECT span FROM hot)) AS BIGINT)
         AS n_dup_windows,
       ROUND(COUNT(*) FILTER (WHERE s.span IN (SELECT span FROM hot)) * 1.0
             / COUNT(*), 6) AS dup_rate
FROM spans s GROUP BY s.doc_id""",
)
def q_substring_dup_rate(spark, sf):
    """B51/B53: per-document verbatim-duplication rate — the curation
    filter over `dedup_substring`'s hot-span set (drop docs that are
    mostly shared boilerplate)."""
    return DD.substring_dup_rate(
        _t(spark, sf, "documents"), span_len=40, stride=10, min_docs=2
    )


@_q(
    "fingerprint_rolling",
    """SELECT doc_id,
       list_min(list_transform(
         list_transform(
           range(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 4, 1) + 1),
           i -> concat_ws(' ',
                string_split_regex(lower(text), '\\s+')[i],
                string_split_regex(lower(text), '\\s+')[i+1],
                string_split_regex(lower(text), '\\s+')[i+2],
                string_split_regex(lower(text), '\\s+')[i+3],
                string_split_regex(lower(text), '\\s+')[i+4])),
         s -> CASE WHEN ('0x' || substr(md5(s), 1, 16))::UBIGINT
                        >= 9223372036854775808::HUGEINT
                   THEN (('0x' || substr(md5(s), 1, 16))::UBIGINT::HUGEINT
                         - 18446744073709551616::HUGEINT)::BIGINT
                   ELSE ('0x' || substr(md5(s), 1, 16))::UBIGINT::BIGINT
              END)) AS rfp
FROM documents""",
)
def q_fingerprint_rolling(spark, sf):
    """B53: winnowing-style rolling fingerprint (min 5-gram hash).

    r8 promotion from rows-only: the hash family is md5-first-64-bits
    (``operators/dedup._md5_token_hash``'s signed fold — the one 64-bit
    family both engines share, already pinned bit-equal for simhash),
    so the min-over-windows fingerprint is recomputed independently by
    the DuckDB oracle."""
    from lookup_transform_spark.operators.dedup import _ensure_parallel

    d = _ensure_parallel(_t(spark, sf, "documents"), "doc_id")
    return d.select(
        "doc_id",
        TX.rolling_fingerprint("text", window=5).alias("rfp"),
    )


@_q("simsearch_lsh")
def q_simsearch_lsh(spark, sf):
    """B52 scale path: multi-band random-hyperplane LSH bucketing →
    candidate equi-join → exact re-score. Approximate: recall@10 = 0.84
    vs exact cosine on this fixture (pinned in test_similarity_guards)."""
    emb = _t(spark, sf, "embeddings")
    queries = ann_query_set(emb)
    return lsh_bucket_topk(emb, queries, k=10, n_planes=4, n_bands=16)


@_q("simsearch_ivf")
def q_simsearch_ivf(spark, sf):
    """B52 scale path: IVF-style centroid probing (approximate)."""
    emb = _t(spark, sf, "embeddings")
    queries = ann_query_set(emb)
    return ivf_topk(
        emb, queries, k=10, n_centroids=32, nprobe=8, refine_iters=5
    )


@_q("simsearch_ivf_pruned")
def q_simsearch_ivf_pruned(spark, sf):
    """B52 at-rest scale path: the corpus written partitioned by
    centroid cell (write_ivf_layout), then probed with a partition-
    pruned scan — only the nprobe cell directories are read. Same
    centroids/nprobe as simsearch_ivf → identical results (pinned by
    tests/test_similarity_guards.py); rows-only here (approximate by
    design, like the in-plan variant)."""
    from lookup_transform_spark.operators.similarity import (
        ivf_probe_topk,
        write_ivf_layout,
    )

    emb = _t(spark, sf, "embeddings")
    # cache key carries the layout parameters: a config change must
    # miss the cache, not silently probe an index built with the old
    # centroid count/refinement (the mtime gate only catches fixture
    # regeneration)
    path = scratch_path("ivf_layout", sf) + "_c32i5"
    # an IVF layout is write-once / probe-many: build only when absent
    # so repeated runs measure the steady-state probe, not the indexing.
    # Staleness gate: a regenerated fixture must invalidate the cached
    # index, else the pruned probe silently answers over the OLD corpus
    # (diverging from simsearch_ivf, which reads the fixture directly).
    if _stale_guard(
        spark, path, os.path.join(sf, "embeddings.parquet"),
        success=f"{path}/data/_SUCCESS",
    ):
        write_ivf_layout(emb, path, n_centroids=32, refine_iters=5)
    queries = ann_query_set(emb)
    return ivf_probe_topk(spark, path, queries, k=10, nprobe=8)


