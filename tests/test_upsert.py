"""Partition-level upsert guarantees (sources/writers.upsert_partitioned):

1. Merge semantics: updated keys take the new row, new keys insert,
   everything else survives — verified against a pure-Python dict merge.
2. Untouched partitions keep their files BYTE-FOR-BYTE (same names,
   sizes, mtimes) — the O(affected-partitions) contract.
3. The read-back of affected partitions is directory-pruned
   (PartitionFilters, not a row filter over the full table).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from lookup_transform_spark.sources.writers import upsert_partitioned


@pytest.fixture()
def table(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_upsert")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    return path, orders


def _snapshot_files(path):
    out = {}
    for f in glob.glob(f"{path}/*/part-*.parquet"):
        st = os.stat(f)
        out[f] = (st.st_size, st.st_mtime_ns)
    return out


def test_upsert_merge_semantics(spark, table):
    path, orders = table
    # touch only status 'O': bump price on 5 existing keys, add 2 new
    some = [r["o_orderkey"] for r in
            orders.filter("o_orderstatus = 'O'").limit(5).collect()]
    new_keys = [10_000_001, 10_000_002]
    updates = spark.createDataFrame(
        [(k, "O", 1.5) for k in some] + [(k, "O", 2.5) for k in new_keys],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )

    before = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in orders.collect()
    }
    upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    after = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in spark.read.parquet(path).collect()
    }

    want = dict(before)
    for r in updates.collect():
        want[r["o_orderkey"]] = (r["o_orderstatus"], r["o_totalprice"])
    assert after == want


def test_untouched_partitions_keep_files(spark, table):
    path, orders = table
    snap = _snapshot_files(path)
    updates = spark.createDataFrame(
        [(10_000_003, "O", 9.9)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    snap2 = _snapshot_files(path)
    untouched_before = {f: v for f, v in snap.items() if "o_orderstatus=O" not in f}
    untouched_after = {f: v for f, v in snap2.items() if "o_orderstatus=O" not in f}
    assert untouched_before == untouched_after  # names, sizes, mtimes
    # and the touched partition was rewritten
    touched_after = {f for f in snap2 if "o_orderstatus=O" in f}
    touched_before = {f for f in snap if "o_orderstatus=O" in f}
    assert touched_after != touched_before or snap2 != snap


def test_affected_read_is_partition_pruned(spark, table):
    path, _ = table
    back = spark.read.parquet(path).filter(
        F.col("o_orderstatus").isin(["O"])
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "o_orderstatus" in pf[0]


def test_readback_inlist_compiles_to_static_partition_filter(spark, table):
    """r11 formulation (VERDICT r10 #2): the writer restricts the
    read-back with a static IN-list over the materialized batch's
    distinct partition values. Pin that the IN-list form compiles to a
    directory-level PartitionFilter (= / IN / INSET on the partition
    column), never a row filter over a full-table scan — the
    O(affected-partitions) contract at any table size. [The r8-r10
    lazy-batch + Dynamic Partition Pruning formulation was retired by
    an interleaved 32× A/B: a DERIVED batch re-scanned its upstream
    pipeline once per consumer, and the per-call executedPlan
    inspection cost ~0.2 s of driver planning — see
    sources/writers.py.]"""
    import re

    path, orders = table
    existing = spark.read.parquet(path)
    keep = existing.filter(F.col("o_orderstatus").isin(["O", "F"]))
    plan = keep._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\n]*o_orderstatus#\d+\s+(=|IN\b|INSET)", plan
    ), plan[:2000]


def test_readback_prunes_statically_when_batch_filters_partition_col(
    spark, table
):
    """End-to-end merge correctness for a batch that filters on the
    partition column itself — the single-partition incremental shape."""
    path, orders = table
    updates = orders.filter(
        (F.col("o_orderkey") % 997 == 0) & (F.col("o_orderstatus") == "O")
    )
    upsert_partitioned(
        spark, path,
        updates.withColumn("o_totalprice", F.col("o_totalprice") + 7.0),
        ["o_orderkey"], "o_orderstatus",
    )
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in spark.read.parquet(path).collect()
    }
    for r in updates.collect():
        assert got[r["o_orderkey"]] == pytest.approx(r["o_totalprice"] + 7.0)


def test_derived_batch_merge_and_staging_cleanup(spark, table):
    """r8 rename-commit path, on the derived-batch shape the bench
    runs: a filtered+transformed update batch merges correctly, the
    staging directory is gone after the commit, and untouched
    partitions keep their files byte-for-byte."""
    import glob as _glob

    path, orders = table
    updates = orders.filter(F.col("o_orderkey") % 997 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 5.0
    )
    statuses = {r["o_orderstatus"] for r in
                updates.select("o_orderstatus").distinct().collect()}
    snap = _snapshot_files(path)
    upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    assert not _glob.glob(f"{path}.__upsert_staging__*")
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in spark.read.parquet(path).collect()
    }
    for r in updates.collect():
        assert got[r["o_orderkey"]] == pytest.approx(r["o_totalprice"])
    snap2 = _snapshot_files(path)
    untouched_b = {
        f: v for f, v in snap.items()
        if not any(f"o_orderstatus={s}" in f for s in statuses)
    }
    untouched_a = {
        f: v for f, v in snap2.items()
        if not any(f"o_orderstatus={s}" in f for s in statuses)
    }
    assert untouched_b == untouched_a


def test_mid_commit_crash_rolls_forward_without_losing_rows(spark, table):
    """Durability pin for the rename commit: a crash BETWEEN the
    delete of a partition's old directory and the rename of its staged
    replacement leaves the staged copy as the ONLY copy of that
    partition's kept rows. The next upsert call must ROLL THE PENDING
    COMMIT FORWARD from staging (never wipe it as a stale attempt), so
    a retry converges to the committed state instead of silently
    dropping every non-updated row of the partition."""
    import shutil

    path, orders = table
    before = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in orders.collect()
    }
    batch1 = spark.createDataFrame(
        [(10_000_021, "O", 1.25)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    # Fabricate the exact mid-commit crash state batch1 would leave:
    # staged merged content for partition O (old O rows + the insert),
    # _SUCCESS present, and the table's O directory already deleted.
    staged_src = str(path) + "__mk_staged__"
    merged_O = (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "O")
        .unionByName(batch1)
    )
    merged_O.write.partitionBy("o_orderstatus").parquet(staged_src)
    staging = f"{path}.__upsert_staging__"
    os.makedirs(staging)
    shutil.move(
        os.path.join(staged_src, "o_orderstatus=O"),
        os.path.join(staging, "o_orderstatus=O"),
    )
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    shutil.rmtree(os.path.join(path, "o_orderstatus=O"))  # the crash

    # retry arrives (here: a second batch touching a DIFFERENT
    # partition, so any loss of O rows is attributable to recovery)
    batch2 = spark.createDataFrame(
        [(10_000_022, "F", 2.25)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    upsert_partitioned(spark, path, batch2, ["o_orderkey"], "o_orderstatus")

    after = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in spark.read.parquet(path).collect()
    }
    want = dict(before)
    want[10_000_021] = ("O", 1.25)
    want[10_000_022] = ("F", 2.25)
    assert after == want  # every kept O row survived the crash + retry
    assert not os.path.exists(staging)


def test_incomplete_staging_without_success_is_discarded(spark, table):
    """A staging dir WITHOUT _SUCCESS is a crashed staging write — the
    table was never touched, so the next call discards it and proceeds;
    its half-written content must not leak into the merge."""
    path, _ = table
    staging = f"{path}.__upsert_staging__"
    os.makedirs(os.path.join(staging, "o_orderstatus=O"))
    with open(
        os.path.join(staging, "o_orderstatus=O", "part-garbage.parquet"), "wb"
    ) as fh:
        fh.write(b"not parquet")
    before = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in spark.read.parquet(path).collect()
    }
    updates = spark.createDataFrame(
        [(10_000_031, "O", 6.5)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    upsert_partitioned(spark, path, updates, ["o_orderkey"], "o_orderstatus")
    after = {
        r["o_orderkey"]: (r["o_orderstatus"], r["o_totalprice"])
        for r in spark.read.parquet(path).collect()
    }
    want = dict(before)
    want[10_000_031] = ("O", 6.5)
    assert after == want
    assert not os.path.exists(staging)


def test_null_partition_value_refused_table_untouched(spark, table):
    """A NULL partition value in the update batch must fail loudly
    (equality pruning can never address the NULL partition — accepting
    it silently drops existing NULL-partition rows) and must leave the
    table byte-for-byte untouched: the guard fires inside the staging
    write, BEFORE any commit rename."""
    path, orders = table
    updates = spark.createDataFrame(
        [(10_000_009, None, 3.5), (10_000_010, "O", 4.5)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    snap = _snapshot_files(path)
    with pytest.raises(Exception, match="NULL partition value"):
        upsert_partitioned(
            spark, path, updates, ["o_orderkey"], "o_orderstatus"
        )
    # the table proper is byte-for-byte untouched (leftover staging
    # from the failed write is fine — the next attempt deletes it)
    assert _snapshot_files(path) == snap


def test_upsert_matches_dict_merge_property(spark, tmp_path):
    """Property test (hypothesis): upsert_partitioned must agree with a
    pure-Python dict merge over arbitrary small tables — including empty
    update batches, insert-only batches, every-partition-touched batches,
    and single-partition tables. Updates honor the caller contract (a
    key keeps its existing partition); new keys pick arbitrary ones."""
    import itertools

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    counter = itertools.count()

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(data=st.data())
    def run(data):
        existing_keys = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=19),
                unique=True, min_size=1, max_size=10,
            )
        )
        existing = {
            k: (
                data.draw(st.sampled_from(["A", "B", "C"])),
                float(data.draw(st.integers(0, 99))),
            )
            for k in existing_keys
        }
        upd_keys = data.draw(
            st.lists(
                st.integers(min_value=0, max_value=29),
                unique=True, max_size=8,
            )
        )
        updates = {
            k: (
                existing[k][0]  # contract: key keeps its partition
                if k in existing
                else data.draw(st.sampled_from(["A", "B", "C"])),
                float(data.draw(st.integers(100, 199))),
            )
            for k in upd_keys
        }
        path = str(tmp_path / f"prop_{next(counter)}")
        schema = "k long, part string, val double"
        spark.createDataFrame(
            [(k, p, v) for k, (p, v) in existing.items()], schema
        ).write.mode("overwrite").partitionBy("part").parquet(path)
        upd_df = spark.createDataFrame(
            [(k, p, v) for k, (p, v) in updates.items()], schema
        )
        if not updates:  # createDataFrame([]) needs an explicit schema
            upd_df = spark.createDataFrame([], schema)
        upsert_partitioned(spark, path, upd_df, ["k"], "part")
        model = {**existing, **updates}
        got = {
            r["k"]: (r["part"], r["val"])
            for r in spark.read.parquet(path).collect()
        }
        assert got == model

    run()


def test_key_move_detected_when_validation_on(spark, table):
    path, orders = table
    victim = orders.filter("o_orderstatus = 'O'").limit(1).collect()[0]
    moved = spark.createDataFrame(
        [(victim["o_orderkey"], "F", 1.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    with pytest.raises(ValueError, match="moves key"):
        upsert_partitioned(
            spark, path, moved, ["o_orderkey"], "o_orderstatus",
            validate_no_key_moves=True,
        )
    # and nothing was written: the table still holds the original row
    back = {
        r["o_orderkey"]: r["o_orderstatus"]
        for r in spark.read.parquet(path).collect()
    }
    assert back[victim["o_orderkey"]] == "O"
