"""Sinks (SURVEY.md §2.2 B3) that ``df.write`` lacks: one raw file per
row, and a partition-level upsert into a partitioned parquet table.

Plain parquet / CSV / JSON / ORC writes call ``df.write`` directly.
Partition-aware writes are the scale contract: a 100 TB table written
``partitionBy`` on its natural pruning key turns downstream scans into
partition-pruned reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_binary_files(df: DataFrame, path: str) -> None:
    """Write each row's ``payload`` to its own raw file, named
    ``<doc_id>.bin`` — executor-side via foreachPartition, so a 100 TB
    export streams at cluster width with nothing driver-collected.
    ``path`` must be shared storage (object store / DFS) on a real
    cluster; a local directory serves in local[n] tests. Writes a
    ``_SUCCESS`` sentinel on completion, mirroring Hadoop committer
    convention (and giving fixture-staleness checks an mtime anchor)."""
    import os

    os.makedirs(path, exist_ok=True)

    def _write(rows) -> None:
        for r in rows:
            with open(os.path.join(path, f"{r['doc_id']}.bin"), "wb") as fh:
                fh.write(bytes(r["payload"]))

    df.select("doc_id", "payload").foreachPartition(_write)
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def upsert_partitioned(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
    validate_no_key_moves: bool = False,
) -> None:
    """MERGE-style upsert into a hive-partitioned parquet table, touching
    only the partitions the update batch lands in.

    The 100 TB ingestion primitive vanilla parquet lacks (table formats
    get it from MERGE INTO): per-batch cost must be O(affected
    partitions), never a rewrite of the table. Mechanics:

    1. the update batch is MATERIALIZED once (``localCheckpoint``). It
       feeds at least three plans — the partition list, the anti-join
       build side, and the union's insert branch (plus the optional
       key-move validation) — and as a lazy plan every consumer re-ran
       its full upstream pipeline: the bench's derived batch (a
       filtered scan of the fact table) was re-scanned three times per
       upsert. A MERGE batch is bounded by contract (it is the thing
       being broadcast in step 2), so materializing it is safe at any
       table scale. [History: r8 rejected an eager-checkpoint
       formulation in favor of lazy-batch + Dynamic Partition Pruning,
       measuring the checkpoint wave as more expensive than repeated
       cheap batch scans; the r11 interleaved re-A/B at 32× with the
       bench's derived batch reversed that — DPP/lazy 1.78 s vs
       materialized+IN-list 1.26-1.34 s min-of-4 (two independent
       runs; repartition-before-write and coalesce variants also
       tried, both worse) — because a derived batch is NOT cheap to
       re-scan, and the IN-list collect on a materialized batch is
       microseconds. PLANS.md tracks both A/Bs.];
    2. existing rows of ONLY the partitions the batch lands in are read
       back via a STATIC IN-list partition filter built from the
       materialized batch's distinct partition values (a
       partition-cardinality-sized collect — bounded by step 1's
       contract), minus rows whose key is being replaced (broadcast
       left-anti on the key). Static pruning is deterministic — no
       plan inspection, no DPP-benefit heuristic to second-guess
       (the r8-r10 writer inspected ``executedPlan`` per call to
       decide whether DPP had materialized, ~0.2 s of pure driver
       planning at 32×);
    3. survivors ∪ updates are written ONCE, partitioned, to a staging
       directory beside the table (a different path than the one being
       read, so Spark's source==sink overwrite rejection never fires);
    4. the staged partition directories are committed by per-partition
       rename (Hadoop ``FileSystem.rename`` — works on HDFS and local;
       a driver-side metadata operation, zero data movement), replacing
       exactly the affected directories — untouched partitions keep
       their files byte-for-byte (pinned). The staging write's
       ``_SUCCESS`` gates the commit, so a crashed write leaves the
       table untouched; a crash MID-commit can transiently leave a mix
       of old and new affected partitions — the same non-atomic window
       Spark's own dynamic partition overwrite has during its commit
       renames — but the staged copy is never discarded while a commit
       is pending: the next call ROLLS THE PENDING COMMIT FORWARD from
       staging before doing anything else (the swap is idempotent), so
       a retry converges to the fully-committed state instead of losing
       the partitions whose old directory was already removed. The
       library has no atomic multi-partition publish; a job that needs
       one should write through a table format's commit protocol.

    Job waves per call: the batch checkpoint (one bounded job) + the
    staging write (read-back + merge + encode, one pass) + the
    scan-free rename commit.

    Semantics: a key present in both sides takes the update's row
    (upsert); keys appearing only in updates insert. CALLER CONTRACT:
    an update must carry its key's existing partition value — a key
    "moved" to a different partition would leave the old row in place
    (its partition isn't read) and write the new one, duplicating the
    key. This is NOT checked by default, because detecting it requires
    scanning the key column of the WHOLE table, which breaks the
    O(affected-partitions) cost contract; ``validate_no_key_moves=True``
    opts into that full-key-scan check (the key column alone is read —
    column-pruned — and the job fails loudly listing offenders before
    anything is written). A NULL partition value in the update batch is
    refused fail-loud during the staging write (equality-based pruning
    can never address the NULL partition, so accepting it would silently
    drop existing NULL-partition rows); the table is left untouched.
    """
    from pyspark.sql import functions as F

    from lookup_transform_spark.hadoopfs import hadoop_fs

    staging = f"{path}.__upsert_staging__"
    jvm = spark._jvm
    fs, jpath = hadoop_fs(spark, staging)
    prefix = f"{partition_col}="
    # Crash recovery BEFORE reading the table. A staging dir WITH
    # _SUCCESS means a previous call crashed mid-commit: some affected
    # partitions may already have been swapped, and for the rest the
    # staged copy is the ONLY surviving copy (the commit loop deletes
    # the old directory just before each rename). Deleting staging here
    # — as a naive "clean slate" retry would — permanently loses those
    # partitions' kept rows. Roll the pending commit FORWARD instead
    # (the per-partition swap is idempotent: already-renamed partitions
    # are no longer in staging), then proceed against the now-consistent
    # table. A staging dir WITHOUT _SUCCESS is an incomplete staging
    # write — the table was never touched, so it is safe to discard.
    if fs.exists(jpath):
        if fs.exists(jvm.org.apache.hadoop.fs.Path(staging, "_SUCCESS")):
            _commit_staged(fs, jvm, jpath, path, prefix, staging)
        else:
            fs.delete(jpath, True)

    existing = spark.read.parquet(path)
    # materialize the batch AFTER crash recovery (a batch derived from
    # the table itself must see the rolled-forward state)
    updates = updates.localCheckpoint()
    parts = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    # NULL partition values are refused fail-loud BEFORE anything is
    # written: every pruning form here is EQUALITY-based, and equality
    # never matches NULL — existing NULL-partition rows would silently
    # vanish from the read-back while the commit swaps their directory.
    if any(p is None for p in parts):
        raise ValueError(
            "upsert_partitioned: NULL partition value in the update "
            f"batch (column '{partition_col}'); equality-based "
            "partition pruning cannot address the NULL partition — "
            "backfill the partition column before upserting"
        )
    if validate_no_key_moves:
        moved = (
            existing.select(*key_cols, partition_col)
            .join(
                updates.select(
                    *key_cols,
                    F.col(partition_col).alias("__new_part__"),
                ),
                on=key_cols,
            )
            .filter(F.col(partition_col) != F.col("__new_part__"))
        )
        offenders = moved.limit(5).collect()
        if offenders:
            raise ValueError(
                "upsert_partitioned: update batch moves key(s) across "
                f"partitions (first offenders: {offenders}); an upsert "
                "must keep each key in its existing partition"
            )
    # read-back restricted to the affected partitions by a STATIC
    # IN-list — compiles to a directory-level PartitionFilter (pinned
    # in tests/test_upsert.py), deterministic at any partition
    # cardinality. An empty batch yields an empty IN-list → empty
    # read-back → the staging write stages nothing and the commit is a
    # no-op, leaving the table untouched.
    keep = (
        existing.filter(F.col(partition_col).isin(parts))
        .join(
            F.broadcast(updates.select(*key_cols)),
            on=key_cols,
            how="left_anti",
        )
    )
    merged = keep.unionByName(updates.select(*existing.columns))
    # one pass: read-back + merge + encode straight into staging (a
    # SIBLING path — source != sink, so no full-table checkpoint;
    # recovery above guarantees the staging path is absent here)
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    # commit: swap exactly the staged partition directories into place.
    # _SUCCESS gates it — Spark writes it only after every task
    # committed, so a crashed staging write leaves the table untouched.
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(staging, "_SUCCESS")):
        raise RuntimeError(
            f"upsert_partitioned: staging write at {staging} did not "
            "commit (_SUCCESS missing); table left untouched"
        )
    _commit_staged(fs, jvm, jpath, path, prefix, staging)


def _commit_staged(fs, jvm, jpath, path: str, prefix: str, staging: str) -> None:
    """Swap every staged ``<partition_col>=...`` directory into the
    table by delete-then-rename, then drop the staging dir. Idempotent:
    a rename moves the staged dir out of staging, so re-running after a
    mid-commit crash resumes with the partitions still staged (the
    roll-forward path in :func:`upsert_partitioned`)."""
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        dest = jvm.org.apache.hadoop.fs.Path(path, name)
        fs.delete(dest, True)
        if not fs.rename(status.getPath(), dest):
            raise RuntimeError(
                f"upsert_partitioned: commit rename failed for {name}; "
                f"staged data remains at {staging}"
            )
    fs.delete(jpath, True)
