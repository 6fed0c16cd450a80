"""Deduplication tier (SURVEY.md §2.2 B50/B51): exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale notes (the 100 TB story):
- exact dedup is a hash aggregate on the dedup key — one shuffle,
  map-side partial aggregation for the count variant; the deterministic-
  survivor variant uses min/max-by, still a single hash agg (NOT a
  window sort, which would force a full sort per key group).
- MinHash/SimHash candidate generation is banding + bucket equi-join:
  cost is O(docs × bands) rows shuffled on small keys, never O(docs²).
  Pair verification runs only on bucket-colliding candidates.
- All hashing is JVM-side (``F.hash``/``F.xxhash64`` + arithmetic) —
  no Python in the hot path, signatures deterministic across runs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from lookup_transform_spark.hadoopfs import fs_exists

# THE tokenization expression (split(lower(text), '\\s+')) — one copy,
# shared with every text stat: its byte-identical DuckDB
# string_split_regex contract is pinned in operators/text.py, and four
# local copies of the expression could silently drift from it (r8
# review). text.py imports dedup only inside functions, so this
# module-level import creates no cycle.
from lookup_transform_spark.operators.text import tokens as _tokens
from lookup_transform_spark.sqltext import sql_string

# Mersenne prime for universal-hash permutations h_i(x) = (a_i*x + b_i) mod p.
# 31-bit so that a*h + b stays < 2^63 (Spark 4 runs ANSI mode: long overflow
# is an error, so the modular arithmetic must provably fit in a long).
_PRIME = (1 << 31) - 1

#: The one MinHash-LSH parameter set. The in-plan operator, the at-rest
#: LSH index and its probe all shingle, sign and band with these, so an
#: index and the probe that reads it cannot disagree.
NUM_HASHES = 32
BANDS = 8
SHINGLE_N = 3
SEED = 42
#: verified near-dup cut on the 6-dp-rounded shingle Jaccard
JACCARD_THRESHOLD = 0.5
#: bucket count of the at-rest fingerprint and LSH tables; the catalog
#: re-attach after a session restart declares the same count
INDEX_BUCKETS = 16


def _validate_banding(num_hashes: int, bands: int) -> int:
    """rows-per-band, validated: ``bands`` must divide ``num_hashes``
    with >= 1 signature element per band. Silent acceptance is the
    failure mode this refuses — bands > num_hashes makes every band
    bucket the constant hash of an EMPTY element list (all docs
    collide; the size cap then drops every bucket and the operator
    returns no near-dup pairs at all), and a non-dividing count
    silently ignores the trailing signature elements."""
    rows_per_band = num_hashes // bands
    if bands < 1 or rows_per_band < 1 or num_hashes % bands != 0:
        raise ValueError(
            "bands must divide num_hashes with at least one signature "
            f"element per band; got num_hashes={num_hashes}, bands={bands}"
        )
    return rows_per_band


def dedup_exact(
    df: DataFrame, key_cols: list[str], tiebreak: str
) -> DataFrame:
    """Keep exactly one row per key, the one with the MIN tiebreak value
    (deterministic survivor — plain ``dropDuplicates`` keeps an arbitrary
    row, which can't be oracle-checked; SURVEY §7 decision log).

    Implemented as ONE packed-struct min aggregate (single hash
    aggregate with map-side combine, no per-group sort): the struct
    orders by tiebreak FIRST, then the remaining columns
    lexicographically — so rows TIED on the tiebreak still resolve to
    one deterministic survivor (a bare ``min_by`` keeps whichever tied
    row a task scans first, varying run to run). The same atomicity
    argument as asof_join's carry: all output fields come from exactly
    one input row, never a column-wise mix of tied rows. A ``tiebreak``
    listed in ``key_cols`` is constant per group and simply drops out
    of the packing (the old formulation emitted it twice and died on
    the duplicate column). Falls back to ``min_by`` when a payload type
    is non-orderable (maps) — ties are arbitrary there, documented.
    """
    from lookup_transform_spark.operators.asof import _orderable

    others = [
        c for c in df.columns if c not in key_cols and c != tiebreak
    ]
    payload = ([tiebreak] if tiebreak not in key_cols else []) + others
    if not payload:
        return df.select(*key_cols).distinct().select(*df.columns)
    if all(_orderable(df.schema[c].dataType) for c in payload):
        # Struct ordering sorts a NULL field BEFORE any value, so a bare
        # packed min would let a NULL tiebreak beat every real one —
        # inverting both ``min_by`` (which skips NULL ordering values)
        # and the oracle's ROW_NUMBER ... ORDER BY (DuckDB defaults to
        # NULLS LAST). A leading is-null flag (false < true) restores
        # NULLS-LAST for the tiebreak; all-NULL groups then resolve
        # deterministically on the remaining payload fields.
        lead = (
            [F.col(tiebreak).isNull().alias("__tb_null__")]
            if tiebreak not in key_cols
            else []
        )
        packed = F.min(
            F.struct(*lead, *[F.col(c) for c in payload])
        ).alias("__s__")
        out = df.groupBy(*key_cols).agg(packed)
        return out.select(
            *[
                F.col(c) if c in key_cols
                else F.col("__s__").getField(c).alias(c)
                for c in df.columns
            ]
        )
    # min_by fallback (non-orderable payload type): a tiebreak listed in
    # key_cols is already a grouping column — re-aggregating it would
    # emit the column twice and die on the ambiguous reference. The
    # ordering key is a STRUCT (is-null flag, tiebreak), never bare
    # tiebreak: min/min_by SKIP NULL ordering values, so an all-NULL
    # tiebreak group would fabricate a keys+all-NULL row that exists in
    # no input (r8 review) — the struct is non-null even when its
    # fields are, so some real row always wins (NULLS LAST, matching
    # the packed path). Ties remain arbitrary per column here,
    # documented.
    ord_key = F.struct(F.col(tiebreak).isNull(), F.col(tiebreak))
    aggs = (
        [F.min_by(tiebreak, ord_key).alias(tiebreak)]
        if tiebreak not in key_cols
        else []
    ) + [F.min_by(c, ord_key).alias(c) for c in others]
    out = df.groupBy(*key_cols).agg(*aggs)
    return out.select(*df.columns)  # restore original column order


def with_shingle_hashes(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word-n-gram shingle HASHES as the int64 array column
    ``__sh_arr__`` — the fast formulation of
    ``transform(text.shingles(text), xxhash64)`` and the ONE shingle
    builder of the MinHash signature, its Jaccard verify, the at-rest
    LSH index and the n-gram similarity join.

    Instead of building every n-gram as a STRING (slice + concat_ws per
    shingle — measured 5.7 s for the 32× corpus) each token is hashed
    once and consecutive token-hashes combine through the multi-arg
    ``xxhash64(h_i, …, h_{i+n-1})`` — 1.3 s for the same corpus, same
    distinct-set sizes. The token-hash array is materialized in its own
    projection step first: referencing it as a COLUMN keeps it
    evaluated once per row, whereas inlining the expression into the
    combine lambda re-evaluates the whole token-hash transform per
    shingle element (measured 12 s — worse than the strings).

    The hash family differs from ``xxhash64(string shingle)`` but maps
    the same distinct n-gram SETS through the same 2⁻⁶⁴ collision
    class, so Jaccard over these arrays equals Jaccard over the string
    shingles and minhash signatures built from them estimate the same
    similarity. ``F.get`` (0-based, null on out-of-range) keeps short
    documents ANSI-safe; nulls hash as skipped args, mirroring the
    string path's truncated final shingle; per document the two sets
    have equal sizes (pinned on the sf fixtures).

    The array is empty exactly when the text is NULL (``""`` still
    yields one shingle). Callers that drop empty sets filter
    ``text IS NOT NULL`` on the input, never ``size(arr) > 0`` on the
    output: Spark pushes a size filter (explicit, or inferred under a
    plain ``explode``) below the projection that built the array with
    the whole token-hash chain inlined, so every shingle is built
    twice, the first time in an uncompiled Filter in the scan stage,
    below any parallelizing repartition.
    """
    tokens = _tokens(text_col)
    step = df.withColumn(
        "__tokh__", F.transform(tokens, lambda t: F.xxhash64(t))
    )
    if n == 1:
        arr = F.array_distinct(F.col("__tokh__"))
    else:
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(F.col("__tokh__")) - n, F.lit(0))
        )
        arr = F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.get(F.col("__tokh__"), i + j) for j in range(n)]
                ),
            )
        )
    # NULL text → EMPTY shingle set, not [seed]: a NULL token array
    # slips through greatest(NULL-n, 0)=0 into one all-null-args
    # xxhash64 = the seed constant, which made every NULL-text doc
    # share shingle set {42} and verify against each other at
    # jaccard 1.0 (r8 review). An empty set has no banding buckets and
    # no Jaccard with anything — NULL-text docs simply never pair.
    arr = F.when(
        F.col("__tokh__").isNull(), F.array().cast("array<bigint>")
    ).otherwise(arr)
    return step.withColumn("__sh_arr__", arr).drop("__tokh__")


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod PRIME,
    drawn from ``SEED``."""
    params, state = [], SEED
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_PRIME - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _PRIME
        params.append((a, b))
    return params


def _ragged_chunks(lens: np.ndarray, max_elems: int, max_rows: int):
    """Yield (lo, hi) row-slices whose total flattened element count stays
    under ``max_elems`` (a single oversized row gets its own chunk).

    Bounds the vectorized permutation/vote matrix by MEMORY rather than
    row count: a fixed row chunk lets a batch of long documents (say
    1024 docs × 10k shingles × 32 hashes × 8 B ≈ 2.6 GB) OOM a Python
    worker, while short docs under-fill it. Element budgeting keeps the
    matrix ≈ max_elems × hashes regardless of document length mix.
    """
    n = len(lens)
    lo = 0
    while lo < n:
        hi = lo + 1
        total = int(lens[lo])
        while hi < n and hi - lo < max_rows and total + lens[hi] <= max_elems:
            total += int(lens[hi])
            hi += 1
        yield lo, hi
        lo = hi


def _make_perm_min(num_hashes: int):
    """Build the k-permutation-min pandas UDF behind
    ``minhash_signature_from_hashes``."""
    params = np.array(_perm_params(num_hashes), dtype=np.int64)
    a_vec, b_vec = params[:, 0], params[:, 1]

    @pandas_udf("array<long>")
    def _perm_min(hashes: pd.Series) -> pd.Series:
        # Vectorized ACROSS rows, not just within one: flatten the ragged
        # shingle-hash lists into one segment array, compute the
        # (num_hashes × total) permutation matrix in one shot, and
        # segment-min with np.minimum.reduceat — no per-row Python loop.
        # Chunking is by flattened ELEMENT count (not rows): the matrix is
        # bounded at ~num_hashes × 100k int64 ≈ 25 MB even when every doc
        # in the batch is long.
        out = np.empty(len(hashes), dtype=object)
        # NULL text ⇒ NULL shingle array: treat as empty — a crash
        # here would kill the job on one bad row
        arrs = [
            np.asarray(h, dtype=np.int64) if h is not None
            else np.empty(0, dtype=np.int64)
            for h in hashes
        ]
        empty_sig = np.full(num_hashes, _PRIME, dtype=np.int64)
        all_lens = np.array([a.size for a in arrs], dtype=np.int64)
        for lo, hi in _ragged_chunks(all_lens, 100_000, 4096):
            seg = arrs[lo:hi]
            lens = all_lens[lo:hi]
            nonempty = np.flatnonzero(lens)
            for i in np.flatnonzero(lens == 0):
                out[lo + i] = empty_sig
            if nonempty.size == 0:
                continue
            flat = np.concatenate([seg[i] for i in nonempty])
            # (a*h + b) % p fits in int64: a,h < 2^31 → product < 2^62
            sig = (a_vec[:, None] * flat[None, :] + b_vec[:, None]) % _PRIME
            starts = np.cumsum(lens[nonempty]) - lens[nonempty]
            mins = np.minimum.reduceat(sig, starts, axis=1)  # (H, n)
            for j, i in enumerate(nonempty):
                out[lo + i] = mins[:, j]
        return pd.Series(list(out))

    return _perm_min


def minhash_signature_from_hashes(
    arr_col: str | F.Column, num_hashes: int = NUM_HASHES
) -> F.Column:
    """Minhash signature over a precomputed shingle-hash array column
    (``with_shingle_hashes``): element i = min over shingles of
    (a_i * h + b_i) mod PRIME, vectorized in numpy over Arrow batches.
    The pipeline entry point that lets the signature and the
    Jaccard-verify stage share ONE shingle computation."""
    c = F.col(arr_col) if isinstance(arr_col, str) else arr_col
    base = F.transform(c, lambda h: F.pmod(h, F.lit(_PRIME)))
    return _make_perm_min(num_hashes)(base)


_ROW_GROUP_CACHE: dict[tuple[str, int, int], int] = {}


def _parquet_row_groups(path: str) -> int | None:
    """Row-group count of one parquet file (footer read, cached by
    (path, size, mtime) so regenerated fixtures re-read)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (path, st.st_size, st.st_mtime_ns)
    n = _ROW_GROUP_CACHE.get(key)
    if n is None:
        try:
            import pyarrow.parquet as pq

            n = pq.ParquetFile(path).metadata.num_row_groups
        except Exception:
            return None
        _ROW_GROUP_CACHE[key] = n
    return n


def _effective_input_slices(df: DataFrame) -> int | None:
    """Upper bound on how many scan tasks can actually PRODUCE rows.

    Spark assigns each parquet ROW GROUP to the one byte-range split
    containing its midpoint, so a single-row-group file yields rows in
    exactly one task no matter how many splits the planner cuts —
    ``getNumPartitions`` counts splits and says "wide" while every row
    sits in one task (measured at sf0.1: 32 splits, 1 task with rows,
    the whole signature stage serialized on one core). Driver-side
    footer reads, bounded and cached. ``None`` = undetermined
    (non-parquet source, many files, Spark Connect) — caller falls back
    to the split count.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    # many files are many independent tasks already; footer reads would
    # cost more than they inform
    if not files or len(files) > 64:
        return None
    total = 0
    for uri in files:
        if not uri.endswith(".parquet"):
            return None
        path = uri[len("file://"):] if uri.startswith("file://") else uri
        n = _parquet_row_groups(path)
        if n is None:
            return None
        total += n
    return total


def _ensure_parallel(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ONLY when the input arrives narrower than the
    cluster's parallelism (e.g. a small parquet read as one split) so a
    CPU-bound signature stage isn't serialized on one core. When the
    scan already has enough effective slices — the normal case on a
    real corpus, where files carry many ~128 MB row groups — this is a
    no-op: an unconditional repartition would be a gratuitous full
    shuffle of the corpus at 100 TB.

    Narrowness is judged by EFFECTIVE row-bearing slices (parquet row
    groups, see ``_effective_input_slices``), not byte-range splits:
    the split count of a single-row-group file says 32 while every row
    lands in one task (r12 — this check being split-based serialized
    the whole text/shingle tier on one core at bench scale).
    """
    try:
        n = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect exposes no sparkContext — let the planner keep
        # its own width rather than crash every dedup operator
        return df
    slices = _effective_input_slices(df)
    if slices is None:
        try:
            slices = df.rdd.getNumPartitions()
        except Exception:
            return df
    if slices >= n:
        return df
    return df.repartition(n, F.col(key_col))


def _cap_group_size(
    df: DataFrame, group_cols: list[str], cap: int | None
) -> DataFrame:
    """Drop every row of groups larger than ``cap`` (skew guard for
    candidate-generating equi-joins: a group of k rows self-joins into
    O(k²) candidate pairs, so one pathological bucket — k identical
    boilerplate docs — dominates the whole job at scale).

    One window count over the join's own partitioning (the exchange is
    reusable by the join that follows); no-op when ``cap`` is None.
    """
    if cap is None:
        return df
    w = Window.partitionBy(*[F.col(c) for c in group_cols])
    return (
        df.withColumn("__grp_n__", F.count(F.lit(1)).over(w))
        .filter(F.col("__grp_n__") <= cap)
        .drop("__grp_n__")
    )


def _exact_precluster(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate texts to one representative per group
    BEFORE candidate generation.

    Returns ``(reps, star)``: ``reps`` keeps one row (the min-id member)
    per distinct text; ``star`` is the (rep, member) edge list that keeps
    every collapsed group connected.

    Why: identical docs produce identical signatures, so a boilerplate
    cluster of k docs saturates EVERY band-bucket (and every simhash
    chunk) — the "another, sparser band rescues the pair" argument never
    applies to exact duplicates, and a bucket cap would silently drop
    ALL their pairs once k exceeds it. Pre-clustering makes the cap safe:
    exact duplicates can never be lost, oversized buckets can only
    contain *near*-identical (distinct-text) docs, and LSH runs on the
    smaller representative set.

    Star edges (k-1 per group) replace the k(k-1)/2 within-group pairs —
    linear output that preserves the connected components exactly (every
    member is one hop from its representative, and representatives carry
    the group's cross-cluster edges since identical texts have identical
    similarity to everything). Grouping is on ``xxhash64(text)`` — the
    same 2⁻⁶⁴ collision class as every other fingerprint use here.
    One window over the fingerprint shuffle, no join.

    The fingerprint exchange is an EXPLICIT width-pinned repartition
    (which the window's required distribution reuses — still exactly one
    shuffle) rather than the window's implicit one: AQE coalesces a
    small implicit window shuffle down to one partition, which then
    serializes every downstream signature/shingle UDF stage on a single
    core — measured 5.1 s vs 1.0 s for the whole minhash query at sf0.1
    (the round-4 dedup_minhash regression), and 2.44 s vs 2.65 s for
    simhash (interleaved min-of-4; the lighter its downstream UDF, the
    smaller the pin's margin). At cluster scale the shuffle is
    corpus-sized either way and AQE won't coalesce it — the pin only
    matters where the corpus is small relative to the executor count.
    """
    # NULL text gets a NULL fingerprint, never the hash seed: Spark's
    # hash functions SKIP null inputs, so a bare xxhash64(text) collapses
    # every NULL-text doc into one "exact duplicate" group and emits
    # unverified jaccard=1.0 star edges between them (r8 review) —
    # inconsistent with every other NULL-text path here (no tokens → no
    # pairs). NULL-fp rows become their own representatives below.
    fp = docs.withColumn(
        "__fp__",
        F.when(F.col("text").isNotNull(), F.xxhash64(F.col("text"))),
    )
    try:
        n = docs.sparkSession.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect exposes no sparkContext — same fallback as
        # _ensure_parallel: keep the planner's width rather than
        # crash the operator before it does any work
        n = None
    if n:
        fp = fp.repartition(n, F.col("__fp__"))
    w = Window.partitionBy("__fp__")
    tagged = fp.withColumn(
        "__rep__",
        F.when(
            F.col("__fp__").isNotNull(), F.min(F.col("doc_id")).over(w)
        ).otherwise(F.col("doc_id")),
    ).drop("__fp__")
    star = tagged.filter(F.col("doc_id") != F.col("__rep__")).select(
        F.col("__rep__").alias("doc_id_a"), F.col("doc_id").alias("doc_id_b")
    )
    reps = tagged.filter(F.col("doc_id") == F.col("__rep__")).drop("__rep__")
    return reps, star


def _band_explode(sig_col: str, bands: int, rows_per_band: int) -> F.Column:
    """Explode a minhash signature into (band, bucket) structs — shared
    by the in-plan pair generation and the at-rest LSH index so both
    bucket identically."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(sig_col, b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
    ).alias("__band__")


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket_size: int | None = 1000,
    precluster_exact: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verify.

    shingle → minhash → band → bucket-join (the scale path: candidates
    come from band-bucket collisions, O(docs·bands) shuffle rows), then
    candidates are verified with exact shingle-set Jaccard >= threshold.
    Output: (doc_id_a, doc_id_b, jaccard), a < b, deduplicated.

    ``precluster_exact`` (default on) collapses exact-duplicate texts to
    one representative before banding (see ``_exact_precluster``): the
    duplicate groups come back as (rep, member) star edges with jaccard
    1.0, so a boilerplate cluster larger than ``max_bucket_size`` is
    never silently dropped, and within-group pair output is linear
    rather than quadratic. Connected components of the result equal
    those of the full pair graph.

    ``max_bucket_size`` drops band-buckets holding more than that many
    docs before the self-join: k docs in one bucket emit k² candidate
    rows, so one degenerate bucket turns the join quadratic at corpus
    scale. With pre-clustering on, an oversized bucket can only hold
    near-identical-but-distinct texts; such pairs almost surely collide
    in another, sparser band, so the loss is bounded and the join stays
    O(docs·bands·cap). None disables the cap.
    """
    rows_per_band = _validate_banding(num_hashes, bands)
    star = None
    if precluster_exact:
        # the precluster's width-pinned fingerprint repartition already
        # spreads everything downstream — an _ensure_parallel exchange
        # in front of it would be a second, redundant shuffle (r12:
        # the row-group-aware narrowness check actually fires now)
        docs, star = _exact_precluster(docs)
    else:
        # spread signature computation across cores: a small parquet
        # arrives row-bearing in one task, but the per-doc hashing is
        # the expensive part. Gated — wide inputs pass through.
        docs = _ensure_parallel(docs, "doc_id")
    # empty shingle sets (NULL text) never band: their signature would
    # be the same constant for every such doc — one degenerate bucket —
    # and the verify's 0/0 Jaccard is NaN, which Spark sorts ABOVE the
    # threshold (NaN ≥ x is true), so unfiltered they'd all pair with
    # jaccard NaN (r8 review). Filtered on the text, not on the set's
    # size (with_shingle_hashes docstring says why).
    docs = docs.filter(F.col("text").isNotNull())
    # ONE shingle computation feeds both the signature and the verify
    # stage (they are the two scans of the corpus this operator makes);
    # the numeric combine is ~5× the string-shingle formulation
    # (with_shingle_hashes docstring has the measurements)
    base_df = with_shingle_hashes(docs, "text", SHINGLE_N)
    sig = base_df.select(
        F.col("doc_id").alias("__id__"),
        minhash_signature_from_hashes(
            F.col("__sh_arr__"), num_hashes
        ).alias("__sig__"),
    )
    # band on (id, bucket) ONLY — never carry document text through the
    # banding explode + self-join (that would shuffle each text 2×bands
    # times); hashed shingle sets rejoin by id for verification below,
    # so shuffle volume stays at ~2× the corpus regardless of band count.
    banded = sig.select(
        "__id__", _band_explode("__sig__", bands, rows_per_band)
    ).select("__id__", F.col("__band__.band"), F.col("__band__.bucket"))
    banded = _cap_group_size(banded, ["band", "bucket"], max_bucket_size)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("doc_id_a"),
            F.col("b.__id__").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )

    # verify against hashed shingle SETS computed ONCE per doc, not per
    # candidate pair: a doc in a dense near-dup family appears in many
    # pairs, and re-running the shingle expression chain (split +
    # n-gram transform + distinct) per pair row made the verify stage
    # O(pairs · text_len) CPU — the 32× probe's minhash timeout. Hashing
    # shingles to int64 first (xxhash64 — the same 2⁻⁶⁴ collision class
    # as the banding itself) also makes the per-pair intersect/union a
    # long-array op instead of a string-array op.
    sh_tbl = base_df.select(
        F.col("doc_id").alias("__sid__"),
        F.array_sort(F.col("__sh_arr__")).alias("__sh__"),
    )
    cand = (
        cand.join(sh_tbl.withColumnsRenamed({"__sid__": "__ta__", "__sh__": "__sh_a__"}),
                  cand["doc_id_a"] == F.col("__ta__"))
        .join(sh_tbl.withColumnsRenamed({"__sid__": "__tb__", "__sh__": "__sh_b__"}),
              F.col("doc_id_b") == F.col("__tb__"))
    )
    inter = F.size(F.array_intersect("__sh_a__", "__sh_b__"))
    union = F.size(F.array_union("__sh_a__", "__sh_b__"))
    out = (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )
    if star is not None:
        out = out.unionByName(
            star.withColumn("jaccard", F.lit(1.0).cast("double"))
        )
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str | None = "source",
    shingle_n: int = 3,
    threshold: float = 0.3,
    max_shingle_df: int | None = 1000,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram similarity for all pairs within a blocking key
    (B51's exact small-block variant; oracle-checkable in DuckDB).

    ``metric`` picks the score over the same |A∩B|/|A|/|B| counts:
    - ``"jaccard"`` (default): |A∩B| / |A∪B| — symmetric near-dup.
    - ``"containment"``: |A∩B| / min(|A|, |B|) — the overlap
      coefficient; scores a short doc fully contained in a long one at
      1.0 where Jaccard dilutes it by the length ratio. The shape
      contamination/subset detection wants (a quote-heavy doc, an eval
      item embedded in a crawl page). Output column is named after the
      metric.

    Formulated as explode → shingle equi-join → pair count aggregate
    (|A∩B| from matches, |A∪B| = |A|+|B|-|A∩B|), whose explode, join
    and aggregate run in whole-stage codegen and which shuffles on
    (block, shingle) — never materializing pairwise arrays. Pairs
    sharing zero shingles have jaccard 0 and are below any positive
    threshold, so the equi-join losing them is exact.

    Shingles are the int64 hashes of ``with_shingle_hashes`` (the
    MinHash verify's sets), so the join key is a long, not a string.
    Two distinct shingles merge only on an xxhash64 collision — the
    same 2⁻⁶⁴ class as the MinHash verify and the exact-duplicate
    precluster. The explode is an OUTER one plus a null filter on its
    output, because Spark infers ``size(arr) > 0`` under a plain
    ``explode`` and pushes it below the shingle projection with the
    chain inlined. Shingle hashes are never NULL, so exactly the plain
    explode's rows survive (NULL text's one NULL row is dropped).

    ``max_shingle_df`` excludes shingles whose document frequency within
    a block exceeds the cap from the INTERSECTION join only (denominators
    keep full shingle counts): a stop-shingle present in k docs emits k²
    join rows, quadratic on real web text. Exact whenever no shingle
    exceeds the cap; above it, jaccard is a lower bound that discounts
    only ultra-common (zero-signal) shingles. None disables the cap.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero-overlap pairs are pruned)")
    if metric not in ("jaccard", "containment"):
        raise ValueError(f"metric must be jaccard|containment, got {metric!r}")
    # parallelize shingle building when the scan arrives narrow (gated)
    docs = _ensure_parallel(docs, "doc_id")
    blk = F.col(block_col) if block_col else F.lit(1)
    sel = with_shingle_hashes(docs, "text", shingle_n).select(
        F.col("doc_id").alias("__id__"),
        blk.alias("__blk__"),
        F.size("__sh_arr__").alias("__n__"),
        F.explode_outer("__sh_arr__").alias("__s__"),
    ).filter(F.col("__s__").isNotNull())
    # shingles are distinct per doc, so rows per (block, shingle) = DF
    sel = _cap_group_size(sel, ["__blk__", "__s__"], max_shingle_df)
    a = sel.select(
        F.col("__id__").alias("doc_id_a"), F.col("__blk__").alias("__blk_a__"),
        F.col("__n__").alias("__na__"), F.col("__s__").alias("__sa__"),
    )
    b = sel.select(
        F.col("__id__").alias("doc_id_b"), F.col("__blk__").alias("__blk_b__"),
        F.col("__n__").alias("__nb__"), F.col("__s__").alias("__sb__"),
    )
    matches = a.join(
        b,
        (F.col("__sa__") == F.col("__sb__"))
        & (F.col("__blk_a__") == F.col("__blk_b__"))
        & (F.col("doc_id_a") < F.col("doc_id_b")),
    )
    pairs = matches.groupBy("doc_id_a", "doc_id_b").agg(
        F.count(F.lit(1)).alias("__common__"),
        F.first("__na__").alias("__na__"),
        F.first("__nb__").alias("__nb__"),
    )
    if metric == "containment":
        score = F.col("__common__") / F.least("__na__", "__nb__")
    else:
        score = F.col("__common__") / (
            F.col("__na__") + F.col("__nb__") - F.col("__common__")
        )
    return (
        pairs.select(
            "doc_id_a", "doc_id_b", F.round(score, 6).alias(metric)
        )
        .filter(F.col(metric) >= threshold)
    )


def _md5_token_hash(tok: F.Column) -> F.Column:
    """First 64 bits of md5(token) as a signed long, all JVM-side.

    The one portable 64-bit hash family both this engine and ANSI-SQL
    oracles share: ``conv(substr(md5(t),1,16),16,10)`` here equals
    ``('0x' || substr(md5(t),1,16))::UBIGINT`` in DuckDB bit-for-bit
    (pinned in test_dedup's md5-family test), which is what lets a
    simhash signature — and therefore hamming distance — be recomputed
    independently by the correctness oracle. ``conv`` yields the
    UNSIGNED decimal string, so values >= 2^63 are folded to the
    two's-complement long through decimal arithmetic (the literals are
    string-cast: a raw 2^63 int literal overflows py4j's long codec).
    """
    u = F.conv(F.substring(F.md5(tok), 1, 16), 16, 10).cast("decimal(20,0)")
    two63 = F.lit("9223372036854775808").cast("decimal(20,0)")
    two64 = F.lit("18446744073709551616").cast("decimal(21,0)")
    return F.when(u >= two63, u - two64).otherwise(u).cast("long")


def simhash_signature_text_pandas(text_col: str, bits: int = 64) -> F.Column:
    """SimHash over distinct word tokens: bit j of the signature is set
    when Σ_tokens (±1 by bit j of the token hash) >= 0. Token hashing
    runs JVM-side; the bit-vote accumulation is vectorized in numpy.

    Tokens hash to the first 64 md5 bits (``_md5_token_hash``) — the
    family an external SQL oracle can reproduce, so the exact
    signature, and every hamming distance, is oracle-checkable."""
    if bits % 8:
        raise ValueError(f"bits must be a multiple of 8, got {bits}")

    @pandas_udf("long")
    def _sig(hashes: pd.Series) -> pd.Series:
        # Vectorized ACROSS rows: flatten the ragged token-hash lists,
        # unpack the sign bits of the whole flat array with
        # np.unpackbits (uint8 bit matrix — 8× smaller than the previous
        # int32 formulation, so the element budget is 4× larger for the
        # same worker footprint), and segment-sum the votes with
        # np.add.reduceat — no per-row Python loop. Chunking is by
        # flattened ELEMENT count so the (tokens × bits) vote matrix
        # stays ~400k × bits ≈ 25 MB regardless of doc length mix.
        weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)
        n = len(hashes)
        out = np.zeros(n, dtype=np.int64)
        # NULL text ⇒ NULL token-hash array: treat as empty (all-zero
        # votes → empty_sig), never crash the task on one bad row
        arrs = [
            np.asarray(h, dtype=np.int64) if h is not None
            else np.empty(0, dtype=np.int64)
            for h in hashes
        ]
        # votes all 0 → every bit set (>= 0 rule). Signed fold must be
        # conditional: for bits < 64 the sum is < 2^63 and already a valid
        # int64 — unconditionally subtracting 2^64 underflows int64.
        _s = int(weights.sum(dtype=np.uint64))
        empty_sig = np.int64(_s - (1 << 64)) if _s >= (1 << 63) else np.int64(_s)
        all_lens = np.array([a.size for a in arrs], dtype=np.int64)
        nbytes = bits // 8
        for lo, hi in _ragged_chunks(all_lens, 400_000, 32768):
            seg = arrs[lo:hi]
            lens = all_lens[lo:hi]
            nonempty = np.flatnonzero(lens)
            out[lo + np.flatnonzero(lens == 0)] = empty_sig
            if nonempty.size == 0:
                continue
            # little-endian layout: byte 0 carries bits 0-7, so
            # bitorder="little" unpacks column j == bit j exactly
            # (astype("<u8", copy=False) is a no-op on LE platforms)
            flat = (
                np.concatenate([seg[i] for i in nonempty])
                .view(np.uint64)
                .astype("<u8", copy=False)
            )
            byte_view = flat.view(np.uint8).reshape(-1, 8)[:, :nbytes]
            bitm = np.unpackbits(byte_view, axis=1, bitorder="little")
            starts = np.cumsum(lens[nonempty]) - lens[nonempty]
            ones = np.add.reduceat(bitm, starts, axis=0, dtype=np.int64)
            # majority vote: ±1 votes sum >= 0  ⟺  2·ones >= token count
            maj = (2 * ones >= lens[nonempty][:, None]).astype(np.uint8)
            packed = np.zeros((maj.shape[0], 8), dtype=np.uint8)
            packed[:, :nbytes] = np.packbits(maj, axis=1, bitorder="little")
            sigs = packed.view(np.dtype("<u8")).ravel().astype(np.uint64)
            out[lo + nonempty] = sigs.view(np.int64)  # exact bit reinterpret
        return pd.Series(out, dtype="int64")

    tokens = F.array_distinct(_tokens(text_col))
    return _sig(F.transform(tokens, _md5_token_hash))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    chunks: int = 4,
    max_bucket_size: int | None = 1000,
    precluster_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance <= max_hamming.
    Signatures come from ``simhash_signature_text_pandas`` (md5 token
    hashes), so an independent SQL engine can recompute the identical
    signatures and hamming distances.

    Pigeonhole blocking: split the signature into ``chunks`` pieces; any
    pair within distance < chunks must agree on >= 1 chunk, so candidates
    come from chunk-value equi-joins (no cross product), then exact
    hamming verification via bit_count(xor).

    ``precluster_exact`` (default on): exact-duplicate texts collapse to
    one representative before blocking and come back as (rep, member)
    star edges with hamming 0 — see ``_exact_precluster``; without it a
    duplicate cluster larger than the cap saturates every chunk-bucket
    and loses ALL its pairs.

    ``max_bucket_size`` drops (chunk, val) buckets holding more docs than
    the cap before the self-join — same quadratic-bucket guard as
    ``minhash_lsh_pairs``; a (distinct-text) pair lost to one saturated
    chunk usually still agrees on another chunk. None disables the cap.
    """
    if max_hamming >= chunks:
        # the pigeonhole guarantee is hamming < chunks: a pair differing
        # in every chunk would collide in none and silently vanish from
        # an output that claims completeness up to max_hamming
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < chunks ({chunks}): "
            "pigeonhole blocking only guarantees candidates for pairs "
            "with hamming < chunks — raise chunks instead"
        )
    chunk_bits = bits // chunks
    star = None
    if precluster_exact:
        # precluster's width-pinned repartition spreads downstream work;
        # a prior _ensure_parallel exchange would be redundant (r12)
        docs, star = _exact_precluster(docs)
    else:
        docs = _ensure_parallel(docs, "doc_id")
    # NULL text never pairs (r8 review): its tokenless signature is the
    # constant all-ones empty_sig, so every NULL-text doc would collide
    # at hamming 0 with every other — an unverifiable "duplicate" claim
    # about missing content. (Empty STRING text keeps its one real
    # token hash and stays comparable.)
    sig = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("__id__"),
        simhash_signature_text_pandas("text", bits).alias("__sig__"),
    )
    # 64-bit chunk (chunks=1): (1 << 64) - 1 exceeds Long.MaxValue and
    # fails lit() conversion — the all-ones long is -1 in two's
    # complement (r8 review; a legal exact-match configuration)
    mask = -1 if chunk_bits == 64 else (1 << chunk_bits) - 1
    banded = sig.select(
        "__id__",
        "__sig__",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("__sig__", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("__c__"),
    ).select("__id__", "__sig__", "__c__.chunk", "__c__.val")
    banded = _cap_group_size(banded, ["chunk", "val"], max_bucket_size)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id__") < F.col("b.__id__")),
        )
        .select(
            F.col("a.__id__").alias("doc_id_a"),
            F.col("b.__id__").alias("doc_id_b"),
            F.col("a.__sig__").alias("__sa__"),
            F.col("b.__sig__").alias("__sb__"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    hamming = F.bit_count(F.col("__sa__").bitwiseXOR(F.col("__sb__")))
    out = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )
    if star is not None:
        out = out.unionByName(
            star.withColumn("hamming", F.lit(0).cast("int"))
        )
    return out


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    blocks: int = 8,
    max_rows: int = 2_000_000,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold (exact; oracle-checkable).

    ``max_rows`` is the scale-refusal guard (VERDICT r7 #4, mirroring
    ``cosine_topk.max_query_rows``): the operator is O(n²) FLOPs BY
    DESIGN — correct and tunable up to single-digit-million corpora,
    a cluster-killer beyond (2M rows ≈ 2·10¹² dot products). Above the
    bound it raises and names the sub-quadratic substitutes instead of
    silently launching an unbounded job; raise ``max_rows`` explicitly
    to override. The check uses free plan statistics, confirmed by a
    limit-bounded count when the estimate trips — or when statistics
    are unavailable entirely (unknown size must confirm, not allow).

    Fully distributed block-matmul — NOTHING is collected to the driver:

    1. Each vector is hash-assigned to one of ``blocks`` blocks.
    2. The (blocks·(blocks+1)/2)-row block-pair table (i <= j) is
       broadcast; vectors join it on their block id, so vector x lands
       in every group (i, j) where i or j is x's block (≈ blocks/2
       replicas per side — shuffle volume is O(blocks × corpus), tunable
       against group size).
    3. ``applyInPandas`` per (blk_a, blk_b) group computes that tile of
       the similarity matrix with one float64 matmul and emits only the
       >= threshold survivors, min-id first.

    Exact: every unordered pair falls in exactly one block pair
    (diagonal groups cover within-block pairs with id_a < id_b), and
    blocked matmul computes the identical per-pair dot product. Pick
    ``blocks`` so corpus/blocks fits executor memory (n/8 rows per tile
    side here); at 100 TB raise it — cost grows linearly in ``blocks``
    while tile memory shrinks linearly. O(n²) FLOPs are inherent to
    exact all-pairs; the scale path is LSH prefiltering
    (``simhash``/``lsh_bucket_topk``) before the exact re-score.
    """
    from lookup_transform_spark.plans.lookup import _estimated_rows

    # Refusal guards must treat UNKNOWN size as "confirm", never as
    # "allow": when plan statistics are unavailable (Spark Connect, a
    # stats outage) `est is None`, and skipping the check there would
    # silently launch the exact cluster-killer the guard exists to
    # refuse. The confirmation count is limit-bounded — it scans at
    # most max_rows+1 rows, not the corpus.
    est = _estimated_rows(emb)
    if est is None or est > max_rows:
        actual = emb.limit(max_rows + 1).count()
        if actual > max_rows:
            raise ValueError(
                f"embedding_near_dup_pairs is exact all-pairs (O(n²)); the "
                f"corpus has > max_rows={max_rows} rows. Use "
                f"minhash_lsh_pairs / semantic_dedup / lsh_bucket_topk "
                f"(sub-quadratic) or raise max_rows explicitly."
            )
    sel = emb.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("vec"))
    tagged = sel.withColumn(
        "__blk__", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(blocks)).cast("int")
    )
    spark = emb.sparkSession
    bp = spark.createDataFrame(
        [(i, j) for i in range(blocks) for j in range(i, blocks)],
        "blk_a int, blk_b int",
    )
    left = tagged.join(F.broadcast(bp), tagged["__blk__"] == bp["blk_a"]).select(
        "blk_a", "blk_b", F.lit(0).alias("__side__"), "vec_id", "vec"
    )
    offdiag = bp.filter(F.col("blk_a") != F.col("blk_b"))
    right = (
        tagged.join(
            F.broadcast(offdiag), tagged["__blk__"] == offdiag["blk_b"]
        )
        .select("blk_a", "blk_b", F.lit(1).alias("__side__"), "vec_id", "vec")
    )
    both = left.unionByName(right)

    def tile_sims(key, pdf):
        a_pdf = pdf[pdf["__side__"] == 0]
        b_pdf = a_pdf if key[0] == key[1] else pdf[pdf["__side__"] == 1]
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame(
                {
                    "vec_id_a": pd.Series(dtype="int64"),
                    "vec_id_b": pd.Series(dtype="int64"),
                    "sim": pd.Series(dtype="float64"),
                }
            )
        a = np.stack(a_pdf["vec"].to_numpy()).astype(np.float64)
        b = np.stack(b_pdf["vec"].to_numpy()).astype(np.float64)
        an = np.sqrt((a * a).sum(axis=1))
        bn = np.sqrt((b * b).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.round((a @ b.T) / np.outer(an, bn), 6)
        aid = a_pdf["vec_id"].to_numpy()
        bid = b_pdf["vec_id"].to_numpy()
        keep = (aid[:, None] != bid[None, :]) & (sims >= threshold)
        ai, bj = np.nonzero(keep)
        lo = np.minimum(aid[ai], bid[bj])
        hi = np.maximum(aid[ai], bid[bj])
        out = pd.DataFrame({"vec_id_a": lo, "vec_id_b": hi, "sim": sims[ai, bj]})
        # diagonal tiles see each unordered pair twice (both orientations)
        if key[0] == key[1]:
            out = out[aid[ai] < bid[bj]]
        return out

    return both.groupBy("blk_a", "blk_b").applyInPandas(
        tile_sims, "vec_id_a long, vec_id_b long, sim double"
    )


def substring_spans(
    docs: DataFrame,
    span_len: int = 40,
    stride: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection — the character-level
    dedup signal of training-data curation (long verbatim spans shared
    across documents mark boilerplate/templated text that n-gram-set
    Jaccard underweights, cf. "Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2021).

    Samples ``span_len``-char windows at ``stride`` offsets, groups by
    the span, and emits spans appearing in >= ``min_docs`` DISTINCT
    documents: (span_md5, n_docs). Exact and oracle-checkable (substr +
    group-by is engine-portable; md5 keeps output rows small).

    Scale shape: explode factor is len/stride per doc, and the reduction
    is a countDistinct AGGREGATE on the span — there is no self-join, so
    a boilerplate span shared by a million docs costs one hash-agg group
    (map-side combined), never a quadratic candidate set. At 100 TB,
    stride trades recall for cost linearly; winnowing
    (``fingerprint_rolling``) is the content-defined variant of the same
    sampling.
    """
    # explode+substring at compute width (gated, r12): a single-row-
    # group input runs the whole window-sampling pass in one scan task
    docs = _ensure_parallel(docs, "doc_id")
    pos = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.length(F.col("text")) - (span_len - 1), F.lit(1)),
            F.lit(stride),
        )
    ).alias("__pos__")
    spans = docs.select(F.col("doc_id"), F.col("text"), pos).select(
        F.col("doc_id"),
        F.expr(f"substring(text, __pos__, {span_len})").alias("__span__"),
    )
    return (
        spans.groupBy("__span__")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.md5("__span__").alias("span_md5"), "n_docs")
    )


def substring_dup_rate(
    docs: DataFrame,
    span_len: int = 40,
    stride: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document verbatim-duplication rate: the fraction of a doc's
    sampled ``span_len``-char windows that also appear in >= ``min_docs``
    distinct documents — the curation filter built on
    ``substring_spans`` (drop or down-weight docs whose content is
    mostly shared boilerplate).

    Output: (doc_id, n_windows, n_dup_windows, dup_rate). Exact and
    oracle-checkable.

    Scale shape (r7 rework, VERDICT r6 #3): the explode+substring pass
    runs ONCE — the old formulation evaluated the span subtree three
    times (hot-set aggregate, per-doc totals, semi-join probe) and paid
    a join. Now: (1) reduce windows to distinct (doc, span) pairs with
    multiplicities — one map-side-combined aggregate, spans carried as
    md5 so shuffle rows are fixed-width; (2) a per-span window count
    over those DISTINCT pairs *is* the document frequency (no
    count_distinct, no join back); (3) one per-doc aggregate sums total
    and hot-window multiplicities. No self-join, no re-explode; a
    boilerplate span shared by a million docs is one window partition
    of 1M fixed-width rows, never a candidate pair set.
    """
    # explode+substring+hash at compute width (gated, r12 — same
    # single-row-group argument as substring_spans)
    docs = _ensure_parallel(docs, "doc_id")
    pos = F.explode(
        F.sequence(
            F.lit(1),
            F.greatest(F.length(F.col("text")) - (span_len - 1), F.lit(1)),
            F.lit(stride),
        )
    ).alias("__pos__")
    pairs = (
        docs.select(F.col("doc_id"), F.col("text"), pos)
        .select(
            F.col("doc_id"),
            # the span hash is INTERNAL here (never output, unlike
            # substring_spans' span_md5): xxhash64 is both cheaper per
            # window and an 8-byte shuffle key where the md5 hex string
            # was 32 chars (r11, ~19% at the 32× probe). A 64-bit
            # collision would merge two spans' counts — ~n²/2⁶⁵,
            # negligible against the dup-rate's own sampling noise.
            F.xxhash64(
                F.expr(f"substring(text, __pos__, {span_len})")
            ).alias("__h__"),
        )
        .groupBy("doc_id", "__h__")
        .agg(F.count(F.lit(1)).alias("__w__"))
    )
    # rows are distinct (doc, span): a plain COUNT per span == the
    # number of DISTINCT docs containing it
    n_docs_w = F.count(F.lit(1)).over(Window.partitionBy("__h__"))
    return (
        pairs.select(
            F.col("doc_id"),
            F.col("__w__"),
            (n_docs_w >= F.lit(min_docs)).alias("__hot__"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("__w__").alias("n_windows"),
            F.sum(
                F.when(F.col("__hot__"), F.col("__w__")).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.round(
                F.col("n_dup_windows") / F.col("n_windows"), 6
            ).alias("dup_rate"),
        )
    )


# ---------------------------------------------------------------------------
# At-rest fingerprint index for continuous-ingest dedup (B50 incremental)
# ---------------------------------------------------------------------------


def write_fingerprint_index(
    spark, docs: DataFrame, table: str, path: str
) -> None:
    """Materialize the standing corpus's normalized-content fingerprints
    as a BUCKETED table (bucketed + sorted by fingerprint) — the at-rest
    half of incremental dedup.

    This is the `dedup_incremental` docstring's 100 TB story made real
    (the IVF at-rest layout's pattern applied to dedup): fingerprints
    are computed ONCE at ingest time and laid out so that every
    subsequent ingest's anti-join co-locates WITHOUT reshuffling — or
    even recomputing — the history side. ``ensure_bucketed`` makes the
    write idempotent: an existing layout is re-attached to the catalog
    (bucket metadata lives there), never rewritten.
    """
    from lookup_transform_spark.operators.bucketing import ensure_bucketed
    from lookup_transform_spark.operators.text import content_fingerprint

    fp = docs.select("doc_id", content_fingerprint("text").alias("f"))
    ensure_bucketed(spark, fp, table, "f", INDEX_BUCKETS, path)


def incremental_probe(spark, new_docs: DataFrame, table: str) -> DataFrame:
    """Surviving doc ids of a new ingest batch: anti-join the batch's
    fingerprints against the standing ``write_fingerprint_index`` table.

    Only the NEW batch is fingerprinted and shuffled (into the index's
    bucket count); the standing side is read in place with no Exchange —
    pinned in ``tests/test_plans.py``. Per-ingest cost is O(batch), not
    O(corpus): the property that keeps continuous ingest viable when the
    standing corpus is 100 TB. After a batch is accepted, its surviving
    fingerprints are appended to the index (same bucketing spec) so the
    next ingest sees them.
    """
    from lookup_transform_spark.operators.text import content_fingerprint

    idx = spark.table(table).select("f")
    new = new_docs.select("doc_id", content_fingerprint("text").alias("f"))
    return new.join(idx, "f", "left_anti").select("doc_id")


def _lsh_signatures(docs: DataFrame, id_alias: str) -> DataFrame:
    """(``id_alias``, ``__sh_arr__``, ``__sig__``): each doc's id, its
    shingle-hash array and its MinHash signature. With ``_lsh_band_keys``
    this is the ONE shingle → signature → band chain behind the index
    writes and the probe, so a probe bands exactly as the index did."""
    base = with_shingle_hashes(
        _ensure_parallel(docs, "doc_id"), "text", SHINGLE_N
    )
    return base.select(
        F.col("doc_id").alias(id_alias),
        F.col("__sh_arr__"),
        minhash_signature_from_hashes(F.col("__sh_arr__")).alias("__sig__"),
    )


def _lsh_band_keys(sig: DataFrame, id_col: str) -> DataFrame:
    """(``id_col``, ``__bb__``): one row per band of each signature,
    keyed by the ONE column ``__bb__`` = xxhash64(band, bucket).
    Storing band/bucket separately and joining on the pair would make
    Spark hash-partition on the triple (re-shuffling the index); the
    single-column key keeps probes co-located with the bucketed layout.
    A cross-(band,bucket) __bb__ collision is the same 2^-64 class as
    every fingerprint here, and harmless anyway: candidates only ever
    ADD pairs, and the exact Jaccard verify removes them."""
    return sig.select(
        id_col, _band_explode("__sig__", BANDS, NUM_HASHES // BANDS)
    ).select(
        id_col,
        F.xxhash64("__band__.band", "__band__.bucket").alias("__bb__"),
    )


def _lsh_bands_and_store(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(banded, store)`` for ``write_lsh_index`` and
    ``append_to_lsh_index``: the band keys (doc_id, __bb__) and the
    verify stage's side of the Jaccard check (doc_id, sorted
    shingle-hash array)."""
    # materialize ONCE: the caller writes banded and store as two
    # separate actions, and without this each write re-runs the whole
    # shingle+minhash UDF pipeline — the dominant cost — doubling every
    # index build and every ingest append (r8 review). Lazy checkpoint:
    # computed on the first write, reused by the second.
    sig = _lsh_signatures(docs, "doc_id").localCheckpoint(eager=False)
    store = sig.select("doc_id", F.array_sort("__sh_arr__").alias("__sh__"))
    return _lsh_band_keys(sig, "doc_id"), store


def _lsh_current_location(spark, default_path: str) -> str:
    """Resolve a standing-table location to its newest committed
    generation.

    ``compact_lsh_index`` swaps each table onto a new sibling location
    (``...__gN``). Rather than a pointer file (driver-local writes
    break on any non-local table filesystem, and a pointer can go
    stale), the CURRENT generation is resolved structurally: the
    highest-numbered ``<default>__gN`` sibling whose ``_SUCCESS`` has
    landed, else the original location. Listing goes through the
    location's own Hadoop FileSystem, so the rule holds on HDFS/object
    stores exactly as on local disk. A completed generation that never
    got ALTERed in (crash between the write and the swap) is safe to
    choose: it is the dedupe of everything committed at fold time, and
    the crashed batch replays its appends on retry."""
    import re as _re

    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    pattern = jvm.org.apache.hadoop.fs.Path(default_path + "__g*")
    fs = pattern.getFileSystem(jconf)
    gen_re = _re.compile(r"__g(\d+)$")
    best, best_gen = default_path, -1
    statuses = fs.globStatus(pattern)
    for st in statuses or []:
        if not st.isDirectory():
            continue
        p = st.getPath()
        m = gen_re.search(p.getName())
        if not m:
            continue
        if not fs.exists(jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")):
            continue
        g = int(m.group(1))
        if g > best_gen:
            # full location string, scheme/authority INTACT: stripping
            # to urlparse().path loses the s3a/hdfs bucket+host and
            # every consumer would resolve a nonexistent default-FS
            # path (Spark reads and CREATE ... LOCATION accept URIs)
            best_gen, best = g, p.toString()
    return best


def lsh_index_ready(spark, table_prefix: str, path: str) -> bool:
    """True when the standing LSH index exists and its catalog entries
    are usable (re-attaching external DDL from disk when a fresh
    session's in-memory catalog lost them); False when no index has
    been written yet. The ingest's has-index probe: a bare
    directory-exists check breaks after compaction moves the tables to
    a new generation location, and treating a momentarily-unattached
    index as absent would silently skip the near-dup probe. Bucket
    metadata lives only in the catalog, so the re-attach declares
    ``INDEX_BUCKETS``, the count every index is written with."""
    from lookup_transform_spark.operators.bucketing import (
        attach_external_bucketed,
    )

    ok = True
    for sub, bucket_col in (("bands", "__bb__"), ("docs", "doc_id")):
        table = f"{table_prefix}_{sub}"
        if spark.catalog.tableExists(table):
            continue
        loc = _lsh_current_location(spark, f"{path}/{sub}")
        if not fs_exists(spark, loc + "/_SUCCESS"):
            ok = False
            continue
        schema = spark.read.parquet(loc).schema
        attach_external_bucketed(
            spark, table, loc, bucket_col, INDEX_BUCKETS, schema
        )
    return ok


def write_lsh_index(
    spark, docs: DataFrame, table_prefix: str, path: str
) -> None:
    """At-rest LSH index: the NEAR-dup analog of ``write_fingerprint_index``
    — the missing half of continuous ingest (exact incremental dedup
    catches byte-duplicates; this catches near-duplicates of anything
    already accepted, without re-banding the corpus per batch).

    Two bucketed tables, both computed in one pass over the corpus:
    - ``{prefix}_bands`` (band, bucket, __bb__, doc_id), bucketed by
      ``__bb__`` = xxhash64(band, bucket) — a new batch's banding probes
      it co-located, so only the batch shuffles;
    - ``{prefix}_docs`` (doc_id, sorted shingle-hash array), bucketed by
      doc_id — the verify stage's side of the Jaccard check, read
      co-located by candidate doc_id.

    Banding/shingle hashing is byte-identical to ``minhash_lsh_pairs``
    (shared ``_band_explode`` / ``with_shingle_hashes``), so an index
    probe generates exactly the candidates the in-plan operator would.
    """
    from lookup_transform_spark.operators.bucketing import ensure_bucketed

    banded, store = _lsh_bands_and_store(docs)
    # locations resolve to the newest committed generation so a
    # re-create after compaction moved the tables attaches the LIVE one
    ensure_bucketed(
        spark, banded, f"{table_prefix}_bands", "__bb__", INDEX_BUCKETS,
        _lsh_current_location(spark, f"{path}/bands"),
    )
    ensure_bucketed(
        spark, store, f"{table_prefix}_docs", "doc_id", INDEX_BUCKETS,
        _lsh_current_location(spark, f"{path}/docs"),
    )


def append_to_lsh_index(
    spark, accepted_docs: DataFrame, table_prefix: str
) -> None:
    """Append an accepted batch to the standing LSH index — the write
    half of continuous NEAR-dup ingest (VERDICT r5 #2: without it,
    batch N+1 could not near-dup against batch N's survivors).

    The batch is shingled/signed/banded by the same chain as the index
    (byte-identical hashing, shared helpers) and ``insertInto`` both
    bucketed tables: each append writes its own bucket files under the
    same spec, so the layout property the probe relies on (co-located
    ``__bb__`` / ``doc_id`` reads, standing side never re-shuffled)
    survives any number of appends. Cost per append is O(batch) — the
    existing index is neither read nor rewritten.

    Caller contract (same as the exact-fingerprint index): append only
    PROBE SURVIVORS (or otherwise novel docs) — appending a doc twice
    just costs duplicate candidates, which the verify stage re-filters,
    but appending un-probed near-dups makes them part of the standing
    corpus. Probe-after-append equivalence with a from-scratch re-band
    is pinned in tests/test_dedup_caps.py.
    """
    banded, store = _lsh_bands_and_store(accepted_docs)
    banded.write.insertInto(f"{table_prefix}_bands")
    store.write.insertInto(f"{table_prefix}_docs")


def _table_meta(spark, table: str) -> tuple[str, int]:
    """(location, bucket count) of a catalog table, from DESC EXTENDED."""
    loc, buckets = None, None
    for row in spark.sql(f"DESC EXTENDED {table}").collect():
        if row["col_name"] == "Location":
            loc = row["data_type"]
        elif row["col_name"] == "Num Buckets":
            buckets = int(row["data_type"])
    if loc is None or buckets is None:
        raise ValueError(f"{table}: not a path-backed bucketed table")
    return loc, buckets


def compact_lsh_index(spark, table_prefix: str) -> None:
    """Dedupe-rewrite the standing LSH tables (ADVICE r7), crash-safe.

    ``append_to_lsh_index`` is append-only, so an at-least-once
    redelivery that replays an append leaves a second copy of that
    batch's band/doc rows: results stay correct (the exact-Jaccard
    verify re-filters the duplicate candidates) but probe cost grows
    monotonically with every retry. This maintenance op drops exact
    duplicate rows and rewrites each table under its own bucket spec.

    The rewrite is a GENERATION SWAP, never in-place: an in-place
    ``mode("overwrite").saveAsTable`` from ``localCheckpoint`` blocks
    truncates the only copy of the standing index before the new one
    is durable — a driver or executor loss mid-rewrite (and compaction
    runs on retry detection, i.e. exactly when the cluster is already
    unhealthy) would leave every subsequent batch near-deduping against
    an empty or partial index, silently accepting duplicates. Instead
    the deduped rows are written bucketed to a NEW sibling location
    (``...__gN``) under a temp catalog entry, then the live table is
    pointed at it with a single ``ALTER TABLE SET LOCATION`` metadata
    op. The live table is readable and complete at EVERY instant:
    a crash before the ALTER leaves it on the old location untouched;
    after, on the new complete one. Fresh sessions resolve the live
    generation structurally (``_lsh_current_location``: newest
    ``_SUCCESS``-gated ``__gN`` sibling), so no pointer state can go
    stale or get lost. Leftover dirs/entries from a crashed attempt
    are swept HERE, before reuse — a retry must not trip CTAS's
    non-empty-location refusal on its own debris. O(index) cost: run
    it on retry detection or a maintenance cadence, not per batch."""
    import re as _re

    from lookup_transform_spark.operators.bucketing import write_bucketed

    gen_re = _re.compile(r"__g(\d+)$")
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    for table, bucket_col in (
        (f"{table_prefix}_bands", "__bb__"),
        (f"{table_prefix}_docs", "doc_id"),
    ):
        loc, n_buckets = _table_meta(spark, table)
        loc = loc.rstrip("/")
        m = gen_re.search(loc)
        base, gen = (loc[: m.start()], int(m.group(1))) if m else (loc, 0)
        next_loc = f"{base}__g{gen + 1}"
        tmp_table = f"{table}__compact"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # crashed attempt
        # a crashed attempt may also have left data files at next_loc
        # (no ALTER ran, so the live table still reads the old
        # location); sweep them or the retry's CREATE TABLE AS SELECT
        # refuses the non-empty location and compaction wedges forever
        jnext = jvm.org.apache.hadoop.fs.Path(next_loc)
        fs = jnext.getFileSystem(jconf)
        fs.delete(jnext, True)
        deduped = spark.table(table).dropDuplicates()
        # durable full copy at the new location FIRST (the temp entry
        # exists only because bucketed layout requires saveAsTable)
        write_bucketed(deduped, tmp_table, bucket_col, n_buckets,
                       path=next_loc)
        # single metadata op: the swap. Readers never see a partial
        # table — old location until here, new complete one after.
        spark.sql(f"ALTER TABLE {table} SET LOCATION {sql_string(next_loc)}")
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")  # entry only: external
        # sweep the previous generation's data files (best-effort: an
        # orphan dir from a crash here is storage, not correctness —
        # and generation resolution always prefers the newest commit)
        jold = jvm.org.apache.hadoop.fs.Path(loc)
        fs.delete(jold, True)


def incremental_minhash_probe(
    spark, new_docs: DataFrame, table_prefix: str
) -> DataFrame:
    """Ids of new-batch docs with NO verified near-dup in the standing
    LSH index (the novel docs an ingest should accept).

    Only the new batch is shingled, signed, and shuffled — into the
    index's bucket layout for the banding probe, then by candidate
    doc_id for the verify join; both standing tables are read bucketed,
    co-located, never re-shuffled or recomputed. Per-ingest cost is
    O(batch + collisions), not O(corpus). Unlike the index writes, the
    probe's signatures are not checkpointed: they feed one plan.
    """
    sig = _lsh_signatures(new_docs, "__nid__")
    new_banded = _lsh_band_keys(sig, "__nid__")
    idx = spark.table(f"{table_prefix}_bands")
    # single-key join on __bb__ — matches the index's bucket layout, so
    # the standing side is read co-located (see write_lsh_index)
    cand = (
        new_banded.join(idx, new_banded["__bb__"] == idx["__bb__"])
        .select("__nid__", F.col("doc_id").alias("__sid__"))
        # a doc is never its own near-dup: self-candidates appear when
        # a probe re-runs against an index its own batch already reached
        # (foreachBatch retry after a partial append) — without this
        # filter every retried doc would reject itself and the batch
        # would be silently lost
        .filter(F.col("__nid__") != F.col("__sid__"))
        .dropDuplicates(["__nid__", "__sid__"])
    )
    store = spark.table(f"{table_prefix}_docs")
    new_sets = sig.select(
        F.col("__nid__").alias("__na__"),
        F.array_sort("__sh_arr__").alias("__sh_new__"),
    )
    verified = (
        cand.join(store, cand["__sid__"] == store["doc_id"])
        .join(new_sets, cand["__nid__"] == F.col("__na__"))
    )
    inter = F.size(F.array_intersect("__sh_new__", "__sh__"))
    union = F.size(F.array_union("__sh_new__", "__sh__"))
    # round(…, 6) BEFORE the threshold compare — the same form as
    # minhash_lsh_pairs' verify, so a boundary-value pair (e.g. exact
    # jaccard 0.4999996 vs threshold 0.5) gets the same accept/reject
    # decision on the ingest path as on the in-plan operator
    dup_ids = (
        verified.filter(F.round(inter / union, 6) >= JACCARD_THRESHOLD)
        .select(F.col("__nid__").alias("doc_id"))
        .distinct()
    )
    return (
        new_docs.select(F.col("doc_id"))
        .join(dup_ids, on="doc_id", how="left_anti")
    )
