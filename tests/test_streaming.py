"""Streaming tier semantics: stream results must equal their batch twins
(the correctness contract for B60-B63, since streaming execution itself
can't be DuckDB-checked)."""

from __future__ import annotations

import contextlib
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from lookup_transform_spark import LookupSpec, registry
from lookup_transform_spark.session import scoped_confs
from lookup_transform_spark.streaming import (
    read_events_stream,
    run_to_memory,
    stream_dedup_within_watermark,
    stream_tumbling_window,
)

SF = "/root/testdata/sf0.001"


def test_stream_static_lookup_equals_batch(spark):
    ev = read_events_stream(spark, SF).select("event_id", "user_id")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    spec = LookupSpec("customer", "user_id", "c_custkey", "c_mktsegment", "segment")
    got = run_to_memory(spec.apply(ev, cust), "t_sl")

    batch_ev = registry._events(spark, SF).select("event_id", "user_id")
    want = spec.apply(batch_ev, cust)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_tumbling_equals_batch_twin(spark):
    ev = read_events_stream(spark, SF)
    got = run_to_memory(
        stream_tumbling_window(ev), "t_tw", output_mode="complete"
    ).select("w_start", "event_type", "n_events")
    want = registry.QUERIES["window_tumbling"](spark, SF).select(
        "w_start", "event_type", "n_events"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_stream_dedup_one_row_per_key(spark):
    ev = read_events_stream(spark, SF).select("event_id", "user_id", "ts")
    got = run_to_memory(stream_dedup_within_watermark(ev, ["user_id"]), "t_dd")
    n_users = (
        registry._events(spark, SF).select("user_id").distinct().count()
    )
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users


def test_stream_session_windows_merge(spark):
    from lookup_transform_spark.streaming import stream_session_window

    ev = read_events_stream(spark, SF)
    got = run_to_memory(
        stream_session_window(ev), "t_sw", output_mode="complete"
    )
    # session count must equal the batch sessionize twin's session count
    want = registry.QUERIES["session_window_agg"](spark, SF)
    assert got.count() == want.count()
    # every session holds >= 1 event and ends after it starts
    bad = got.filter(
        (F.col("n_events") < 1) | (F.col("session_end") <= F.col("session_start"))
    )
    assert bad.count() == 0


def test_watermark_drops_late_data(spark, tmp_path):
    """B62: events arriving far behind the watermark are dropped by the
    stateful aggregation. Spark's late-row filter uses the watermark as
    of the batch before the previous one, so the late file is staged as
    the THIRD micro-batch behind two on-time batches."""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    base = registry._events(spark, SF).select("event_id", "ts", "event_type")
    newest = base.orderBy(F.col("ts").desc()).limit(300)
    b0 = newest.orderBy(F.col("ts").asc()).limit(150)
    b1 = newest.orderBy(F.col("ts").desc()).limit(150)
    late = base.orderBy(F.col("ts").asc()).limit(100)

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # distinct mtimes order the files into separate micro-batches
    for i, part in enumerate([b0, b1, late]):
        stage = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        (pfile,) = glob.glob(f"{stage}/part-*.parquet")
        shutil.copy(pfile, f"{src}/batch{i}.parquet")
        now = time.time() + i * 10
        os.utime(f"{src}/batch{i}.parquet", (now, now))

    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("w_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
         if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    assert dropped >= 90, f"expected most of the 100 late rows dropped, got {dropped}"
    assert spark.table("t_late").count() > 0


def test_sessionize_ntz_timestamp_and_type_refusal(spark):
    """r8 review: an NTZ ts column fell into the numeric branch and
    crashed at analysis (NTZ refuses cast('long')); it must sessionize
    identically to the same instants as TIMESTAMP, and a non-time type
    must be refused loudly rather than mis-read as epoch numbers."""
    import pytest
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sessionize import sessionize

    rows = [
        (1, 1, "2024-01-01 00:00:00"),
        (1, 2, "2024-01-01 00:10:00"),   # in-gap: same session
        (1, 3, "2024-01-01 01:00:00"),   # >30min gap: new session
        (2, 4, "2024-01-01 00:00:00"),
    ]
    base = spark.createDataFrame(rows, "user_id long, event_id long, s string")
    tz = base.withColumn("ts", F.col("s").cast("timestamp"))
    ntz = base.withColumn("ts", F.col("s").cast("timestamp_ntz"))
    assert ntz.schema["ts"].dataType.typeName() == "timestamp_ntz"
    key = ["user_id", "event_id", "session_id"]
    got_tz = sorted(
        tuple(r) for r in sessionize(tz, gap_seconds=1800).select(*key).collect()
    )
    got_ntz = sorted(
        tuple(r) for r in sessionize(ntz, gap_seconds=1800).select(*key).collect()
    )
    assert got_tz == got_ntz == [(1, 1, 1), (1, 2, 1), (1, 3, 2), (2, 4, 1)]
    with pytest.raises(TypeError, match="sessionize"):
        sessionize(base.withColumn("ts", F.col("s")), gap_seconds=1800)


def test_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState session tracker: closed sessions must
    agree with the batch sessionize twin (sessions that are still open
    when the stream drains are withheld, pending the state timeout)."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sessionize import sessionize
    from lookup_transform_spark.streaming import read_events_stream
    from lookup_transform_spark.streaming.stateful import (
        stream_sessionize_stateful,
    )

    ev = read_events_stream(spark, SF).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    q = (
        stream_sessionize_stateful(ev, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("t_state_sess")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_state_sess")

    batch_ev = registry._events(spark, SF).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    want = (
        sessionize(batch_ev, key="user_id", ts="ts_us",
                   gap_seconds=1800 * 1_000_000, order_tiebreak="event_id")
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    got_rows = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
        for r in got.collect()
    }
    want_rows = {
        (r.user_id, r.session_start_us): (r.session_end_us, r.n_events)
        for r in want.collect()
    }
    # every emitted (closed) session matches the batch result exactly
    assert got_rows, "no sessions closed"
    for k, v in got_rows.items():
        assert want_rows.get(k) == v, (k, v, want_rows.get(k))
    # the only sessions withheld are each user's LAST (possibly open) one
    missing = set(want_rows) - set(got_rows)
    last_per_user = {}
    for (u, start), _ in want_rows.items():
        last_per_user[u] = max(last_per_user.get(u, 0), start)
    assert all(start == last_per_user[u] for u, start in missing)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Exactly-once file sink: drain batch A with a checkpoint, add file
    B, drain again with the SAME checkpoint — output holds every event
    exactly once (offsets resume; nothing reprocessed)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    base = registry._events(spark, SF).select("event_id", "user_id")
    half_a = base.filter(F.col("event_id") % 2 == 0)
    half_b = base.filter(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def stage(df, name):
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (pfile,) = glob.glob(f"{tmp}/part-*.parquet")
        shutil.copy(pfile, f"{src}/{name}.parquet")

    def drain():
        stream = spark.readStream.schema(half_a.schema).parquet(src)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(half_a, "a")
    drain()
    n_after_a = spark.read.parquet(out).count()
    assert n_after_a == half_a.count()

    stage(half_b, "b")
    drain()  # same checkpoint: must pick up ONLY file b
    final = spark.read.parquet(out)
    assert final.count() == base.count()
    # exactly once: no event id appears twice
    assert final.select("event_id").distinct().count() == base.count()


def test_stream_stream_interval_join_equals_batch(spark):
    """Stream-stream interval join (purchases x preceding clicks within
    1h per user) must equal the equivalent batch range join."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.streaming import read_events_stream
    from lookup_transform_spark.streaming.lookup_stream import run_to_memory
    from lookup_transform_spark.streaming.stream_stream import (
        stream_stream_interval_join,
    )

    ev = read_events_stream(spark, SF)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = stream_stream_interval_join(
        purchases.withColumnRenamed("p_user", "user_id"),
        clicks.withColumnRenamed("c_user", "user_id"),
        key="user_id", left_ts="p_ts", right_ts="c_ts", lookback="1 hour",
    ).select("p_id", "c_id")
    got = run_to_memory(joined, "t_ss")

    bev = registry._events(spark, SF)
    bp = bev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    bc = bev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    want = bp.join(
        bc,
        (bp["user_id"] == bc["c_user"])
        & (bc["c_ts"] >= bp["p_ts"] - F.expr("INTERVAL 1 hour"))
        & (bc["c_ts"] <= bp["p_ts"]),
    ).select("p_id", "c_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_lifetime_stats_equals_batch(spark):
    """The applyInPandasWithState running totals equal a batch
    aggregate over the same events."""
    import pytest

    from lookup_transform_spark.streaming.stateful import stream_lifetime_stats

    ev = read_events_stream(spark, SF).select("user_id", "value")
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in run_to_memory(stream_lifetime_stats(ev), "t_lt").collect()
    }
    want = {
        r["user_id"]: (r["n"], r["sv"])
        for r in registry._events(spark, SF)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, sv) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(sv, rel=1e-9)


def test_stream_ingest_dedup_matches_batch_replay(spark, sf_dir, tmp_path):
    """Continuous-ingest dedup (streaming/ingest.py): the corpus built by
    the foreachBatch stream equals (a) a batch replay of the same
    arrival files in order, and (b) global min-id-per-fingerprint dedup
    over everything that arrived — i.e. batching boundaries are
    invisible in the result."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.text import content_fingerprint
    from lookup_transform_spark.streaming.ingest import stream_ingest_dedup

    work = str(tmp_path / "ingest")
    corpus = stream_ingest_dedup(spark, sf_dir, work, n_files=4)
    got = {(r["f"], r["doc_id"]) for r in corpus.collect()}

    # global min-id dedup over every staged arrival row
    arrivals = spark.read.parquet(f"{work}/arrivals/batch_*")
    want_df = (
        arrivals.select("doc_id", content_fingerprint("text").alias("f"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    want = {(r["f"], r["doc_id"]) for r in want_df.collect()}
    assert got == want and len(got) > 0

    # duplicates were actually injected AND actually dropped
    n_arrived = arrivals.count()
    assert n_arrived > len(got)

    # re-running the finished stream is a no-op (checkpoint: batches
    # already committed), so the corpus is stable across restarts
    again = stream_ingest_dedup(spark, sf_dir, work, n_files=4)
    assert {(r["f"], r["doc_id"]) for r in again.collect()} == got


@pytest.mark.parametrize(
    "entry",
    ["stream_ingest_dedup", "stream_ingest_neardedup", "stream_sketch_rollup"],
)
def test_stream_ingest_invalidates_on_fixture_regeneration(
    spark, sf_dir, tmp_path, entry
):
    """A regenerated fixture (newer mtime than the staging marker) must
    wipe the work dir of every continuous-ingest entry point — staged
    arrivals, corpus or leaves, the LSH catalog tables AND the stream
    checkpoint — so the stream re-processes instead of silently
    returning the stale result."""
    import os
    import shutil

    from lookup_transform_spark.streaming.ingest import (
        _lsh_tables,
        stream_ingest_dedup,
        stream_ingest_neardedup,
    )
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_sketch_rollup,
    )

    # copy the fixture so its mtime can be touched without writing to
    # the read-only testdata tree
    fx = tmp_path / "fx"
    fx.mkdir()
    shutil.copyfile(
        f"{sf_dir}/documents.parquet", fx / "documents.parquet"
    )
    work = str(tmp_path / "work")
    run = {
        f.__name__: f
        for f in (stream_ingest_dedup, stream_ingest_neardedup,
                  stream_sketch_rollup)
    }[entry]
    first = sorted(run(spark, str(fx), work, n_files=2).collect())
    ckpt_before = os.path.getmtime(f"{work}/ckpt")
    spec = f"{work}/lsh_index/bands/_BUCKET_SPEC.json"
    spec_before = os.path.getmtime(spec) if os.path.exists(spec) else None

    os.utime(fx / "documents.parquet")  # "regenerate" the fixture
    second = sorted(run(spark, str(fx), work, n_files=2).collect())
    assert second == first  # same data → same result
    # but the run really started over: fresh checkpoint dir
    assert os.path.getmtime(f"{work}/ckpt") > ckpt_before
    if entry == "stream_ingest_neardedup":
        # only write_lsh_index writes the spec sidecar, and batch 0 only
        # calls it when the catalog no longer holds the tables: a fresh
        # sidecar means the tables were dropped and rebuilt
        assert os.path.getmtime(spec) > spec_before
        assert all(spark.catalog.tableExists(t) for t in _lsh_tables(work))
    for t in _lsh_tables(work):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reset_ingest_state_forces_full_replay(spark, sf_dir, tmp_path):
    """r8 review: a checkpointed ingest rerun is an exactly-once no-op,
    so timing unreset repeats published the read-back floor as the cost
    of a full ingest. ``reset_ingest_state`` (the bench's pre-repeat
    hook) must wipe the work dir AND the standing LSH catalog tables so
    the next call replays every batch from scratch."""
    import os

    from lookup_transform_spark.streaming.ingest import (
        _lsh_table_prefix,
        reset_ingest_state,
        stream_ingest_neardedup,
    )

    work = str(tmp_path / "reset_work")
    first = stream_ingest_neardedup(spark, sf_dir, work, n_files=2)
    got1 = {(r["f"], r["doc_id"]) for r in first.collect()}
    prefix = _lsh_table_prefix(work)
    assert spark.catalog.tableExists(f"{prefix}_bands")
    ckpt_before = os.path.getmtime(f"{work}/ckpt")

    reset_ingest_state(spark, work)
    assert not os.path.exists(work)
    assert not spark.catalog.tableExists(f"{prefix}_bands")
    assert not spark.catalog.tableExists(f"{prefix}_docs")

    second = stream_ingest_neardedup(spark, sf_dir, work, n_files=2)
    assert {(r["f"], r["doc_id"]) for r in second.collect()} == got1
    assert os.path.getmtime(f"{work}/ckpt") > ckpt_before  # real replay


def test_stream_ingest_neardedup_matches_batch_replay(spark, sf_dir, tmp_path):
    """Continuous NEAR-dup ingest (r7, VERDICT r6 #2): the corpus built
    by the foreachBatch stream equals a batch replay of the same
    arrival files in order through the SAME ingest step — and the
    injected near-duplicates (suffix-edited re-sends, invisible to the
    exact fingerprint) are actually dropped by the LSH tier."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.streaming.ingest import (
        ingest_batch_neardedup,
        stream_ingest_neardedup,
    )

    work = str(tmp_path / "ingest_near")
    corpus = stream_ingest_neardedup(spark, sf_dir, work, n_files=3)
    got = {(r["f"], r["doc_id"]) for r in corpus.collect()}
    assert got

    arrivals = spark.read.parquet(f"{work}/arrivals/batch_*")
    n_arrived = arrivals.count()
    # exact dups dropped: distinct fingerprints only
    assert len(got) == len({f for f, _ in got})
    # NEAR dups dropped: the 100M-offset suffix-edited re-sends have
    # unique fingerprints, so only the LSH tier can reject them (the
    # offset range is disjoint from the 10M-offset EXACT re-sends,
    # whose acceptance is legitimately possible when their batch-0
    # original was itself dropped by the near tier — r7 review)
    near_ids = {
        r["doc_id"]
        for r in arrivals.filter("doc_id >= 100000000").collect()
    }
    assert near_ids, "staging must inject near-dups"
    accepted_ids = {d for _, d in got}
    assert not (near_ids & accepted_ids), "near-dups must be rejected"
    assert n_arrived > len(got)

    # batch replay: the same arrival files, in order, through the SAME
    # shared ingest step -> identical corpus
    import os

    replay = str(tmp_path / "replay_near")
    lsh_table = "lsh_replay_near_test"
    spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_bands")
    spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_docs")
    os.makedirs(os.path.join(replay, "corpus"), exist_ok=True)
    batch_dirs = sorted(
        p for p in os.listdir(f"{work}/arrivals") if p.startswith("batch_")
    )
    try:
        for bid, b in enumerate(batch_dirs):
            ingest_batch_neardedup(
                spark.read.parquet(f"{work}/arrivals/{b}"),
                bid,
                os.path.join(replay, "corpus"),
                lsh_table,
                os.path.join(replay, "lsh_index"),
            )
        replay_got = {
            (r["f"], r["doc_id"])
            for r in spark.read.parquet(
                os.path.join(replay, "corpus", "batch_*")
            ).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_docs")
    assert replay_got == got

    # re-running the finished stream is a no-op (checkpoint commit)
    again = stream_ingest_neardedup(spark, sf_dir, work, n_files=3)
    assert {(r["f"], r["doc_id"]) for r in again.collect()} == got

    # at-least-once retry: RE-delivering the last replay batch with the
    # same batch_id (a foreachBatch redelivery after a partial failure)
    # must reproduce identical outputs — per-batch dirs overwrite, the
    # LSH self-candidate filter keeps the batch from rejecting itself
    last = len(batch_dirs) - 1
    spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_bands")
    spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_docs")
    try:
        for bid, b in enumerate(batch_dirs):
            ingest_batch_neardedup(
                spark.read.parquet(f"{work}/arrivals/{b}"), bid,
                os.path.join(replay, "corpus2"),
                lsh_table, os.path.join(replay, "lsh_index2"),
            )
        ingest_batch_neardedup(  # redelivery of the final batch
            spark.read.parquet(f"{work}/arrivals/{batch_dirs[last]}"), last,
            os.path.join(replay, "corpus2"),
            lsh_table, os.path.join(replay, "lsh_index2"),
        )
        retried = {
            (r["f"], r["doc_id"])
            for r in spark.read.parquet(
                os.path.join(replay, "corpus2", "batch_*")
            ).collect()
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_docs")
    assert retried == got


def test_ingest_state_compaction_bounds_reads(spark, sf_dir, tmp_path):
    """VERDICT r7 #3: a long-running ingest must not degrade linearly in
    batch count. Run 20 micro-batches with compact_every=4 and pin:
    (a) the state read opens a BOUNDED number of directories (one base
    generation + at most compact_every live batch dirs), and (b) the
    compacted corpus still equals global min-id dedup — compaction is
    invisible in the result."""
    import os

    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.text import content_fingerprint
    from lookup_transform_spark.streaming.ingest import (
        _state_dirs,
        stream_ingest_dedup,
    )

    work = str(tmp_path / "ingest20")
    corpus = stream_ingest_dedup(
        spark, sf_dir, work, n_files=20, compact_every=4
    )
    got = {(r["f"], r["doc_id"]) for r in corpus.collect()}

    # the corpus is the ONLY state table since the r10 write fusion
    # (the fingerprint index is a column-pruned read of it) — pin both
    # the read bound and the absence of the old fp_index tree
    dirs = _state_dirs(os.path.join(work, "corpus"))
    names = sorted(os.path.basename(d) for d in dirs)
    # O(log batches + compact_every): 20 batches / compact_every=4
    # collapse to one seg_00000_00016 (binary-counter merges at 8
    # and 16) + 4 live batch dirs
    assert len(dirs) <= 6, names
    assert any(n.startswith(("seg_", "base_")) for n in names), names
    assert not os.path.isdir(os.path.join(work, "fp_index"))

    arrivals = spark.read.parquet(f"{work}/arrivals/batch_*")
    want_df = (
        arrivals.select("doc_id", content_fingerprint("text").alias("f"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    want = {(r["f"], r["doc_id"]) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_ingest_retry_after_compaction_idempotent(spark, sf_dir, tmp_path):
    """Retry-idempotency must survive compaction: redelivering the
    final batch AFTER its trigger already compacted state (a) leaves
    the corpus identical, and (b) the retry-triggered
    ``compact_lsh_index`` returns the standing LSH tables to their
    exactly-once row counts — redeliveries never permanently inflate
    probe cost (ADVICE r7)."""
    import os

    from lookup_transform_spark.streaming.ingest import (
        ingest_batch_neardedup,
        stage_document_batches,
    )

    stage = str(tmp_path / "arrivals7")
    stage_document_batches(
        spark, sf_dir, stage, n_files=7, dup_per_file=10, near_per_file=10
    )
    batch_dirs = sorted(
        p for p in os.listdir(stage) if p.startswith("batch_")
    )
    assert len(batch_dirs) == 7

    def run(root, lsh_table, redeliver_last):
        corpus = os.path.join(root, "corpus")
        lsh_path = os.path.join(root, "lsh_index")
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {lsh_table}_docs")
        os.makedirs(corpus, exist_ok=True)
        for bid, b in enumerate(batch_dirs):
            ingest_batch_neardedup(
                spark.read.parquet(os.path.join(stage, b)), bid,
                corpus, lsh_table, lsh_path, compact_every=3,
            )
        if redeliver_last:
            last = len(batch_dirs) - 1
            ingest_batch_neardedup(
                spark.read.parquet(os.path.join(stage, batch_dirs[last])),
                last, corpus, lsh_table, lsh_path, compact_every=3,
            )
        from lookup_transform_spark.streaming.ingest import _read_batches

        rows = {
            (r["f"], r["doc_id"])
            for r in _read_batches(spark, corpus).collect()
        }
        counts = (
            spark.table(f"{lsh_table}_bands").count(),
            spark.table(f"{lsh_table}_docs").count(),
        )
        return rows, counts

    try:
        clean_rows, clean_counts = run(
            str(tmp_path / "clean"), "lsh_compact_clean", False
        )
        retry_rows, retry_counts = run(
            str(tmp_path / "retry"), "lsh_compact_retry", True
        )
    finally:
        for t in ("lsh_compact_clean", "lsh_compact_retry"):
            spark.sql(f"DROP TABLE IF EXISTS {t}_bands")
            spark.sql(f"DROP TABLE IF EXISTS {t}_docs")

    # batches 0..2 folded at the batch-3 trigger; at batch 6 seg_3_6
    # folds and binary-counter-merges with seg_0_3 into seg_0_6; the
    # redelivered batch 6 saw exactly the < 6 state — identical
    assert retry_rows == clean_rows and clean_rows
    # LSH tables back to exactly-once row counts after the retry compact
    assert retry_counts == clean_counts


def test_batch_dirs_ignore_stray_entries(tmp_path):
    """ADVICE r7: a leftover temp entry (``batch_tmp``,
    ``batch_00001_old``, a plain FILE named like a batch) must neither
    crash the listing nor misorder/duplicate state reads."""
    import os

    from lookup_transform_spark.streaming.ingest import (
        _batch_dirs,
        _state_dirs,
    )

    root = str(tmp_path / "state")
    os.makedirs(os.path.join(root, "batch_00001"))
    os.makedirs(os.path.join(root, "batch_00003"))
    os.makedirs(os.path.join(root, "batch_tmp"))
    os.makedirs(os.path.join(root, "batch_00001_old"))
    open(os.path.join(root, "batch_00002"), "w").write("not a dir")
    # crashed fold: no _SUCCESS -> invisible
    os.makedirs(os.path.join(root, "seg_00000_00003"))

    got = [os.path.basename(d) for d in _batch_dirs(root)]
    assert got == ["batch_00001", "batch_00003"]
    assert _batch_dirs(root, before=3) == [os.path.join(root, "batch_00001")]
    assert [os.path.basename(d) for d in _state_dirs(root)] == [
        "batch_00001",
        "batch_00003",
    ]
    # committed fold shadows older batches
    open(os.path.join(root, "seg_00000_00003", "_SUCCESS"), "w").write("")
    assert [os.path.basename(d) for d in _state_dirs(root)] == [
        "seg_00000_00003",
        "batch_00003",
    ]


def test_ingest_compaction_is_leveled_not_full_rewrite(spark, tmp_path):
    """r8 review: the fold schedule must be LSM-leveled. A compaction
    folds only the FRESH batch dirs into a new segment and merges
    segments geometrically (binary counter on batch-range width), so
    total rewrite work over a stream's lifetime is O(n log n) — the
    previous fold-everything-into-one-base schedule rewrote the whole
    corpus every compact_every batches, O(n²/compact_every). The
    amortization pin: a compaction that triggers no merge leaves prior
    segments byte-for-byte untouched."""
    import os

    from lookup_transform_spark.streaming.ingest import (
        _read_batches,
        _segment_chain,
        compact_ingest_state,
    )

    root = str(tmp_path / "lsm")
    os.makedirs(root)

    def write_batch(bid):
        (
            spark.range(bid * 10, bid * 10 + 10).toDF("doc_id").coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(root, f"batch_{bid:05d}"))
        )

    def ranges():
        return [(lo, hi) for lo, hi, _ in _segment_chain(root)]

    def snapshot(seg):
        d = os.path.join(root, seg)
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)
        }

    for b in range(4):
        write_batch(b)
    compact_ingest_state(spark, root, 4)
    assert ranges() == [(0, 4)]

    for b in range(4, 8):
        write_batch(b)
    compact_ingest_state(spark, root, 8)
    # binary counter: seg_4_8 (width 4) merges seg_0_4 (width 4) → 0_8
    assert ranges() == [(0, 8)]
    snap_0_8 = snapshot("seg_00000_00008")

    for b in range(8, 12):
        write_batch(b)
    compact_ingest_state(spark, root, 12)
    # width 4 < width 8: NO merge — and seg_0_8 byte-for-byte untouched
    assert ranges() == [(0, 8), (8, 12)]
    assert snapshot("seg_00000_00008") == snap_0_8

    for b in range(12, 16):
        write_batch(b)
    compact_ingest_state(spark, root, 16)
    # 12_16 merges 8_12 → 8_16 (width 8), which merges 0_8 → 0_16
    assert ranges() == [(0, 16)]

    # contents survived every fold: all 160 ids, exactly once
    got = sorted(r["doc_id"] for r in _read_batches(spark, root).collect())
    assert got == list(range(160))
    # shadowed inputs swept
    names = set(os.listdir(root))
    assert not names & {"seg_00000_00008", "seg_00008_00012",
                        "seg_00008_00016", "seg_00012_00016"}
    assert not any(n.startswith("batch_") for n in names)


def test_stateful_sessionizer_survives_cross_batch_disorder():
    """r8 review: a late event arriving in a LATER micro-batch used to
    regress the open session's `last`, corrupting gap decisions and
    emitting inverted sessions (end < start). Contract now: in-gap late
    rows extend the session backward only; rows late beyond the open
    session's reach are dropped (Spark's watermarked session_window
    contract). Driven directly through the applyInPandasWithState
    tracker with a fake state handle."""
    import pandas as pd

    from lookup_transform_spark.streaming.stateful import (
        _track_sessions_factory,
    )

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    gap_us = 30 * 60 * 1_000_000
    track = _track_sessions_factory(gap_us)
    state = FakeState()
    h = 60 * 60 * 1_000_000  # one hour in µs

    def feed(rows):
        pdf = pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": range(len(rows)),
                "value": [r[1] for r in rows],
            }
        )
        return list(track((7,), [pdf], state))

    assert feed([(10 * h, 1.0)]) == []          # open session at 10:00
    assert feed([(9 * h, 5.0)]) == []           # late beyond reach: drop
    start, last, n, sv = state.get
    assert (start, last, n) == (10 * h, 10 * h, 1)
    # in-gap late row extends BACKWARD, never regresses the end
    assert feed([(10 * h - 10 * 60 * 1_000_000, 2.0)]) == []
    start, last, n, sv = state.get
    assert start == 10 * h - 10 * 60 * 1_000_000 and last == 10 * h
    # next on-time row past the gap closes a VALID (start <= end) session
    out = feed([(12 * h, 3.0)])
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["session_start_us"] <= row["session_end_us"]
    assert (row["session_start_us"], row["session_end_us"], row["n_events"]) == (
        10 * h - 10 * 60 * 1_000_000, 10 * h, 2,
    )


def test_stream_stage_not_keyed_by_basename(spark, tmp_path):
    """r8 review: the file-source stage dir was keyed by the sf_dir's
    BASENAME, so two fixture dirs sharing a basename streamed the first
    one's data; a dangling link (old tree deleted) wedged with
    FileExistsError. Stage is now keyed by the full path and re-linked
    when dangling or retargeted."""
    import glob as _glob
    import shutil

    from lookup_transform_spark.streaming.lookup_stream import (
        read_events_stream,
        run_to_memory,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    d1 = tmp_path / "v1" / "data"
    d2 = tmp_path / "v2" / "data"
    d1.mkdir(parents=True)
    d2.mkdir(parents=True)
    shutil.copy(src, d1 / "events.parquet")
    spark.read.parquet(src).limit(100).coalesce(1).write.parquet(
        str(tmp_path / "small")
    )
    (small,) = _glob.glob(str(tmp_path / "small" / "part-*.parquet"))
    shutil.copy(small, d2 / "events.parquet")

    n1 = run_to_memory(read_events_stream(spark, str(d1))).count()
    n2 = run_to_memory(read_events_stream(spark, str(d2))).count()
    assert n2 == 100 and n1 > n2  # same-basename dirs stream their OWN data


def test_events_directory_fixture_streams_every_row(spark, tmp_path):
    """A fixture whose events.parquet is a directory of part files, as
    the derived scale fixtures write it, streams all of its rows."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/events.parquet")
    d = tmp_path / "data" / "events.parquet"
    d.mkdir(parents=True)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), str(d / "part-0.parquet"))
    pq.write_table(t.slice(half), str(d / "part-1.parquet"))
    ev = read_events_stream(spark, str(tmp_path / "data"))
    assert run_to_memory(ev).count() == t.num_rows


class _StateWidths(StreamingQueryListener):
    """The ``numShufflePartitions`` of every stateful operator in the
    progress of the streams run while it listens: what the run executed
    with, not what a helper computed."""

    def __init__(self):
        self.widths: list[int] = []
        self.ended = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.widths += [s.numShufflePartitions for s in event.progress.stateOperators]

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.ended.set()


@contextlib.contextmanager
def _state_widths(spark):
    rec = _StateWidths()
    spark.streams.addListener(rec)
    try:
        yield rec.widths
    finally:
        # listener events arrive asynchronously, progress before the end
        rec.ended.wait(30)
        spark.streams.removeListener(rec)


def _tumbling_state_widths(spark, confs: dict[str, str]) -> list[int]:
    with scoped_confs(spark, confs), _state_widths(spark) as widths:
        run_to_memory(
            stream_tumbling_window(read_events_stream(spark, SF)),
            output_mode="complete",
        ).count()
    return widths


def test_events_stream_runs_with_one_state_partition(spark):
    """The sf0.001 events file is far below one file split, so the
    stream's state lives in one store whatever the session's width."""
    assert _tumbling_state_widths(
        spark, {"spark.sql.shuffle.partitions": "5"}
    ) == [1]


@pytest.mark.parametrize("splits, want", [(3, 3), (27, 5)])
def test_state_width_is_split_count_capped_at_session_width(
    spark, splits, want
):
    import os

    size = os.path.getsize(f"{SF}/events.parquet")
    split_bytes = -(-size // splits)
    assert -(-size // split_bytes) == splits
    assert _tumbling_state_widths(spark, {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.files.maxPartitionBytes": str(split_bytes),
    }) == [want]


def test_state_width_is_file_scan_partition_count(spark):
    """Spark's scan sizes its splits from the open cost and the leaf
    parallelism too (``FilePartition.maxSplitBytes``); with a 1-byte
    open cost the file is cut into about one split per leaf core, and
    the run's width is the partition count of Spark's own batch scan of
    the file."""
    confs = {
        "spark.sql.shuffle.partitions": "5",
        "spark.sql.files.openCostInBytes": "1",
        "spark.sql.leafNodeDefaultParallelism": "3",
    }
    with scoped_confs(spark, confs):
        scan = spark.read.parquet(f"{SF}/events.parquet").rdd.getNumPartitions()
    assert 1 < scan < 5
    assert _tumbling_state_widths(spark, confs) == [scan]


def test_non_file_source_keeps_session_width(spark):
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 20)
        .load()
    )
    counts = src.groupBy((F.col("value") % 3).alias("k")).count()
    with (
        scoped_confs(spark, {"spark.sql.shuffle.partitions": "3"}),
        _state_widths(spark) as widths,
    ):
        assert run_to_memory(counts, output_mode="complete").count() == 3
    assert widths and set(widths) == {3}


def test_events_schema_is_inferred_once_per_file_version(spark, tmp_path):
    """Building the events stream runs no Spark job while its fixture
    file is unchanged; a rewritten file is read again."""
    import shutil

    import pyarrow.parquet as pq

    sc = spark.sparkContext
    d = tmp_path / "data"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events.parquet")

    def build_jobs(group: str) -> tuple[int, list]:
        sc.setJobGroup(group, group)
        try:
            dtypes = read_events_stream(spark, str(d)).dtypes
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), dtypes

    first, dtypes = build_jobs("t_schema_first")
    assert first >= 1
    assert build_jobs("t_schema_again") == (0, dtypes)
    pq.write_table(
        pq.read_table(f"{SF}/events.parquet").slice(0, 100),
        str(d / "events.parquet"),
    )
    rewritten, rewritten_dtypes = build_jobs("t_schema_rewritten")
    assert rewritten >= 1 and rewritten_dtypes == dtypes


def test_lsh_table_prefix_no_suffix_collision(tmp_path):
    """VERDICT r8 #3: the old last-48-chars sanitization mapped two
    deep work dirs sharing a 48-char suffix to the SAME catalog
    tables, cross-wiring their standing LSH indexes. The path-hash
    scheme keys each absolute path uniquely."""
    from lookup_transform_spark.streaming.ingest import _lsh_table_prefix

    deep = "x" * 60  # shared leaf far longer than the old 48-char window
    a = str(tmp_path / "rootA" / deep)
    b = str(tmp_path / "rootB" / deep)
    assert _lsh_table_prefix(a) != _lsh_table_prefix(b)
    # stable for the same path, and a valid SQL identifier
    p = _lsh_table_prefix(a)
    assert p == _lsh_table_prefix(a)
    assert p.replace("_", "").isalnum()


def test_ingest_batch_compute_not_serialized(spark):
    """VERDICT r8 #1 + the r9 32x A/B: the per-batch dedup output used
    to be an unconditional ``coalesce(1).localCheckpoint()`` — a
    narrow dependency that collapsed the WHOLE upstream anti-join of
    the micro-batch into one task at every scale. The adaptive rule
    scales compute to the batch's INPUT partitioning: a multi-split
    arrival keeps its parallelism (the 100 TB case), a one-file
    fixture batch keeps the measured-faster single-task path, and the
    WRITE fan-in scales by row count."""
    from lookup_transform_spark.streaming.ingest import (
        _ROWS_PER_OUTPUT_FILE,
        _materialize_batch,
    )

    df = spark.range(10_000).repartition(8).selectExpr(
        "id as doc_id", "cast(id as string) as f"
    )
    out, files = _materialize_batch(df, input_parts=8)
    assert out.rdd.getNumPartitions() == 8  # compute ran on all 8 tasks
    assert files == 1  # small batch keeps the single-file layout
    assert out.count() == 10_000
    # a one-input-partition batch collapses to the single-task path
    narrow, nfiles = _materialize_batch(df, input_parts=1)
    assert narrow.rdd.getNumPartitions() == 1 and nfiles == 1
    # a batch past the per-file target fans its write out
    big = spark.range(2 * _ROWS_PER_OUTPUT_FILE).repartition(8).selectExpr(
        "id as doc_id", "cast(id as string) as f"
    )
    _, big_files = _materialize_batch(big, input_parts=8)
    assert big_files > 1


def test_bucket_spec_corrupt_sidecar_falls_back(spark, tmp_path):
    """ADVICE r8: a truncated _BUCKET_SPEC.json (pre-atomic-write
    crash) must degrade to the legacy no-sidecar path with a warning,
    not crash every future attach with a JSON error; and
    ensure_bucketed treats a DIFFERENT declared spec as a re-tune —
    rebuilding the layout rather than dead-ending."""
    import warnings

    from lookup_transform_spark.operators.bucketing import (
        _SPEC_FILE,
        _read_spec,
        ensure_bucketed,
        write_bucketed,
    )

    path = str(tmp_path / "bucketed")
    df = spark.range(100).selectExpr("id as k", "id * 2 as v")
    write_bucketed(df, "t_spec_corrupt", "k", n_buckets=4, path=path)
    spec = _read_spec(spark, path)
    assert spec == {"bucket_col": "k", "n_buckets": 4}
    # corrupt the sidecar in place
    with open(f"{path}/{_SPEC_FILE}", "w") as fh:
        fh.write('{"bucket_col": "k", "n_bu')
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _read_spec(spark, path) is None
        assert any("legacy layout" in str(x.message) for x in w)
    spark.sql("DROP TABLE IF EXISTS t_spec_corrupt")
    # re-tune: ensure under a different bucket count rebuilds the layout
    write_bucketed(df, "t_spec_retune", "k", n_buckets=4, path=path)
    spark.sql("DROP TABLE IF EXISTS t_spec_retune")
    ensure_bucketed(spark, df, "t_spec_retune", "k", n_buckets=8, path=path)
    assert _read_spec(spark, path) == {"bucket_col": "k", "n_buckets": 8}
    assert spark.table("t_spec_retune").count() == 100
    spark.sql("DROP TABLE IF EXISTS t_spec_retune")


def test_stream_sketch_rollup_decomposition_independent(
    spark, sf_dir, tmp_path
):
    """r10: the streaming sketch rollup's oracle-exactness rests on
    trigger-decomposition independence (per-bucket MAX is associative
    and commutative over integer-exact registers). Pin all of it:
    (a) 2-batch and 4-batch ingests produce IDENTICAL (group, estimate,
    n_rows) rows, (b) both equal the direct single-pass batch sketch of
    the fixture, (c) a full redelivery (checkpoint wiped, leaves kept)
    overwrites every batch dir and still returns the same answer — the
    per-batch-dir overwrite retry contract."""
    import os
    import shutil

    from lookup_transform_spark.operators.sketches import (
        hll_portable_distinct,
    )
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_sketch_rollup,
    )

    def rows(df):
        return sorted(
            (r["lang"], r["approx_distinct"], r["n_rows"])
            for r in df.collect()
        )

    got4 = rows(stream_sketch_rollup(
        spark, sf_dir, str(tmp_path / "w4"), n_files=4
    ))
    got2 = rows(stream_sketch_rollup(
        spark, sf_dir, str(tmp_path / "w2"), n_files=2
    ))
    assert got4 == got2 and got4

    direct = rows(hll_portable_distinct(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        ["lang"], "doc_id",
    ))
    assert got4 == direct

    # redelivery: wipe ONLY the checkpoint — the stream replays every
    # batch and overwrites the existing leaf dirs in place
    shutil.rmtree(str(tmp_path / "w4" / "ckpt"))
    again = rows(stream_sketch_rollup(
        spark, sf_dir, str(tmp_path / "w4"), n_files=4
    ))
    assert again == got4
    leaf_dirs = [
        d for d in os.listdir(str(tmp_path / "w4" / "leaves"))
        if d.startswith("batch_")
    ]
    assert len(leaf_dirs) == 4


def test_stream_sketch_rollup_compaction_invisible(spark, sf_dir, tmp_path):
    """r10: the sketch leaves fold on the ingest corpus's leveled
    schedule — a 20-trigger stream opens a BOUNDED number of state
    dirs and the folded answer equals the unfolded 4-batch run."""
    import os

    from lookup_transform_spark.streaming.ingest import _state_dirs
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_sketch_rollup,
    )

    def rows(df):
        return sorted(
            (r["lang"], r["approx_distinct"], r["n_rows"])
            for r in df.collect()
        )

    got20 = rows(stream_sketch_rollup(
        spark, sf_dir, str(tmp_path / "w20"), n_files=20, compact_every=4
    ))
    got4 = rows(stream_sketch_rollup(
        spark, sf_dir, str(tmp_path / "wplain"), n_files=4
    ))
    assert got20 == got4 and got20

    dirs = _state_dirs(os.path.join(str(tmp_path / "w20"), "leaves"))
    names = sorted(os.path.basename(d) for d in dirs)
    assert len(dirs) <= 6, names
    assert any(n.startswith(("seg_", "base_")) for n in names), names


def test_stream_quantile_rollup_decomposition_independent(
    spark, sf_dir, tmp_path
):
    """r10: the quantile twin of the streaming-sketch independence pin —
    integer bucket counts under an associative+commutative SUM make the
    merged percentiles a pure function of the arrived value multiset:
    2-batch ≡ 4-batch ≡ direct single-pass sketch."""
    from pyspark.sql import functions as F

    from lookup_transform_spark.operators.sketches import (
        qsketch,
        qsketch_quantiles,
    )
    from lookup_transform_spark.streaming.sketch_rollup import (
        stream_quantile_rollup,
    )

    def rows(df):
        return sorted(
            (r["lang"], r["n_rows"], r["p50"], r["p95"], r["p99"])
            for r in df.collect()
        )

    got4 = rows(stream_quantile_rollup(
        spark, sf_dir, str(tmp_path / "q4"), n_files=4
    ))
    got2 = rows(stream_quantile_rollup(
        spark, sf_dir, str(tmp_path / "q2"), n_files=2
    ))
    assert got4 == got2 and got4

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_chars", F.col("n_chars").cast("double")
    )
    direct = qsketch_quantiles(
        qsketch(docs, ["lang"], "n_chars"), ["lang"], [0.5, 0.95, 0.99]
    ).select(
        "lang", "n_rows",
        *[F.round(c, 6).alias(c) for c in ("p50", "p95", "p99")],
    )
    assert got4 == rows(direct)
