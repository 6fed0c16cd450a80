"""The one timing core of ``bench.py`` and ``scripts/``: a query timed
to the noop sink on Spark, and its DuckDB oracle timed under a budget.

Both timers return the same record shape:

- ``{"sec": min, "samples": [...]}`` when every repeat ran;
- the same plus ``"partial": True`` when a later repeat was lost to a
  timeout or an error. An earlier sample is never discarded: a query
  that ran, ran. A partial record caused by an error keeps its
  ``"err"`` message;
- ``{"timeout": seconds}`` or ``{"err": message}`` when no repeat ran.

Samples are wall seconds rounded to 4 decimals; ``sec`` is their min.
"""

from __future__ import annotations

import threading
import time

from pyspark import InheritableThread

from lookup_transform_spark import registry

#: DuckDB budget per oracle repeat, in seconds. It is sized 2.3× above
#: the slowest oracle that should stay comparable (ngram_jaccard, 78 s
#: at sf0.1), and caps the brute-force O(n²) correctness SQL of the
#: approximate operators (dedup_minhash's all-pairs Jaccard runs past
#: nine minutes at sf0.1). Those SQLs pin values at correctness scale;
#: they are not a fair single-node baseline.
ORACLE_TIMEOUT_S = 180.0

#: Spark job group of every timed repeat, cancelled on a timeout.
_JOB_GROUP = "lookup_transform_spark-timing"

# Write-shaped queries are timed against an oracle of the same I/O
# shape. sink_upsert's correctness oracle is a bare SELECT of the
# merge, while the engine rewrites parquet partitions and scans them
# back. For timing, DuckDB runs the same merge, COPYs it to a
# hive-partitioned parquet dir and aggregates the scan-back.
# Correctness still uses the SELECT oracle (a COPY returns no rows).
ORACLE_TIMING_OVERRIDES: dict[str, list[str]] = {
    "sink_upsert": [
        """COPY (
  WITH upd AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 997 = 0
    UNION ALL
    SELECT * FROM (VALUES (900000001, 'O', CAST(50.0 AS DOUBLE)),
                          (900000002, 'F', CAST(60.0 AS DOUBLE))) t(k, s, p)
  )
  SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice FROM orders o
  WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM upd)
  UNION ALL
  SELECT * FROM upd
) TO '{tmp}/duck_upsert' (FORMAT PARQUET, PARTITION_BY (o_orderstatus),
                          OVERWRITE_OR_IGNORE)""",
        """SELECT o_orderstatus, COUNT(*) AS n,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM read_parquet('{tmp}/duck_upsert/**/*.parquet', hive_partitioning=1)
GROUP BY o_orderstatus""",
    ],
}


def oracle_statements(name: str, tmp: str) -> list[str]:
    """The DuckDB statements timed for query ``name``: its correctness
    oracle, or its ``ORACLE_TIMING_OVERRIDES`` script writing under
    ``tmp``. A fresh ``tmp`` per fixture: ``OVERWRITE_OR_IGNORE`` only
    replaces name-colliding files, so a reused dir would union an
    earlier fixture's leftovers into the scan-back."""
    if name in ORACLE_TIMING_OVERRIDES:
        return [s.format(tmp=tmp) for s in ORACLE_TIMING_OVERRIDES[name]]
    return [registry.ORACLES[name]]


def drain(df) -> None:
    """Run ``df``'s full plan to the noop sink; nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


def _record(samples: list[float], failure: dict | None = None) -> dict:
    """The record of ``samples``, cut short by ``failure`` (a
    ``timeout`` or an ``err`` entry) unless that is None."""
    if not samples:
        return failure
    rec = {"sec": min(samples), "samples": samples}
    if failure is not None:
        rec["partial"] = True
        if "err" in failure:
            rec["err"] = failure["err"]
    return rec


def time_query(spark, fn, sf_dir: str, repeats: int, *, timeout=None,
               reset=None) -> dict:
    """Time ``fn(spark, sf_dir)`` built and drained to the noop sink,
    ``repeats`` times. ``reset(spark)`` runs before every repeat,
    outside the timed window.

    Each repeat runs in an ``InheritableThread``: it carries the
    session's thread-locals into the worker (the JVM's ``SQLConf.get``
    is thread-local, and a plain thread plans with CBO and AQE silently
    off). After ``timeout`` seconds the job group is cancelled and the
    active jobs are drained before returning, so a task in a
    non-interruptible section (file listing, footer I/O) cannot hold
    slots while the caller times its next query. ``timeout=None`` waits
    for every repeat."""
    samples: list[float] = []
    for _ in range(repeats):
        if reset is not None:
            reset(spark)
        result: dict = {}

        def target():
            # everything inside the try: a dead gateway throws from
            # setJobGroup itself
            t0 = time.perf_counter()
            try:
                spark.sparkContext.setJobGroup(
                    _JOB_GROUP, "timed repeat", interruptOnCancel=True
                )
                drain(fn(spark, sf_dir))
                result["sec"] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                result["err"] = f"{type(e).__name__}: {e}"[:200]

        th = InheritableThread(target=target, daemon=True)
        th.start()
        th.join(timeout)
        if th.is_alive():
            spark.sparkContext.cancelJobGroup(_JOB_GROUP)
            th.join(30)
            # repeats run serially, so any active job is the cancelled one
            tracker = spark.sparkContext.statusTracker()
            deadline = time.monotonic() + 60
            while tracker.getActiveJobsIds() and time.monotonic() < deadline:
                time.sleep(0.5)
            return _record(samples, {"timeout": timeout})
        if "sec" not in result:
            err = result.get("err", "thread died without a result")
            return _record(samples, {"err": err})
        samples.append(round(result["sec"], 4))
    return _record(samples)


def time_oracle(con, stmts: list[str], repeats: int) -> dict:
    """Time the DuckDB statements ``stmts`` on ``con``, ``repeats``
    times, each repeat cut at ``ORACLE_TIMEOUT_S``. An oracle whose
    first two repeats both take over 30 s stops at min-of-2: the min
    estimator shaves scheduler noise off sub-second queries, and more
    repeats of a brute-force SQL add minutes for a third decimal."""
    import duckdb

    samples: list[float] = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        try:
            timed_out = _run_under_budget(con, stmts, t0)
        except duckdb.Error as e:
            return _record(samples, {"err": f"{type(e).__name__}: {e}"[:200]})
        if timed_out:
            return _record(samples, {"timeout": ORACLE_TIMEOUT_S})
        samples.append(round(time.perf_counter() - t0, 4))
        if len(samples) >= 2 and min(samples) > 30:
            break
    return _record(samples)


def _run_under_budget(con, stmts: list[str], t0: float) -> bool:
    """Run ``stmts`` in order; True when the repeat begun at ``t0`` ran
    out of budget.

    A timer is armed per statement with the repeat's remaining budget:
    DuckDB's ``interrupt()`` only cancels a running query, so one timer
    firing between two statements would be lost and the next statement
    would run unbounded. The remaining-budget check before each
    statement turns such a lost fire into a timeout. The lock-guarded
    flag keeps a fire that races the disarm from interrupting the
    shared connection's next query."""
    import duckdb

    for s in stmts:
        while True:
            remaining = ORACLE_TIMEOUT_S - (time.perf_counter() - t0)
            if remaining <= 0:
                return True
            lock = threading.Lock()
            state = {"armed": True}

            def _interrupt(lock=lock, state=state):
                with lock:
                    if state["armed"]:
                        con.interrupt()

            timer = threading.Timer(remaining, _interrupt)
            timer.start()
            try:
                con.execute(s).fetchall()
                break
            except duckdb.InterruptException:
                # elapsed time is the arbiter: an interrupt under budget
                # is a timer that lost the disarm race to the previous
                # statement, so the statement re-runs
                if time.perf_counter() - t0 >= ORACLE_TIMEOUT_S - 0.05:
                    return True
            finally:
                with lock:
                    state["armed"] = False
                timer.cancel()
    return False
