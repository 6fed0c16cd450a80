"""Shared Spark timing harness for the scaling probes.

One copy of the thread/timeout/job-group-cancel logic so
SCALING32.json and SCALING128.json are produced by IDENTICAL
measurement code — two drifting copies would make the artifacts
incomparable (the r6 review flagged exactly that drift starting:
the copies already differed in job-group name and error handling).
"""

from __future__ import annotations

import time


def time_spark(
    spark,
    run_query,
    name: str,
    sf_dir: str,
    timeout: float,
    repeats: int,
    job_group: str = "probe",
) -> dict:
    """Min-of-``repeats`` wall seconds for ``run_query(spark, sf_dir)``
    executed to a noop sink; job-group cancel on timeout (the clock
    keeps running for the caller either way).

    A successful earlier repeat is never discarded: if repeat 1 returns
    a measurement and repeat 2 hits a transient error, the result is
    the measurement, not ``{"err": ...}`` — a query that ran, ran.
    """
    best, err = None, None
    for _ in range(repeats):
        result: dict = {}

        def target():
            # everything inside the try: a dead gateway throws from
            # setJobGroup itself, and an empty result dict must read as
            # an error, not a KeyError in the caller
            t0 = time.perf_counter()
            try:
                spark.sparkContext.setJobGroup(
                    job_group, name, interruptOnCancel=True
                )
                df = run_query(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                result["sec"] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                result["err"] = f"{type(e).__name__}: {e}"[:200]

        # InheritableThread propagates the session's thread-locals into
        # the worker (JVM SQLConf.get is thread-local: a plain Thread
        # builds plans with cbo/AQE flags silently OFF — the r7 probe
        # mis-routed join_bloom_semi because its stats-gated broadcast
        # estimate saw rowCount undefined from here)
        from pyspark import InheritableThread

        th = InheritableThread(target=target, daemon=True)
        th.start()
        th.join(timeout)
        if th.is_alive():
            spark.sparkContext.cancelJobGroup(job_group)
            th.join(30)
            # drain before the NEXT query is timed: a task in a
            # non-interruptible section (file listing, parquet footer
            # I/O) can outlive the cancel, and its tasks would occupy
            # task slots inside the shared local JVM while the next
            # query's repeats are measured — inflating that query's
            # recorded min with no trace in the artifact (r8 review).
            # The probes run queries serially, so ANY active job here
            # is the zombie; wait for the tracker to empty (bounded).
            tracker = spark.sparkContext.statusTracker()
            deadline = time.monotonic() + 60
            while tracker.getActiveJobsIds() and time.monotonic() < deadline:
                time.sleep(0.5)
            if best is not None:
                # a later repeat timed out after an earlier success: keep
                # the measurement but flag the degraded protocol so the
                # artifact doesn't claim the full repeat count for this row
                return {"sec": round(best, 3), "partial": True}
            return {"timeout": timeout}
        if "sec" not in result:
            err = result.get("err", "thread died without a result")
            break
        best = result["sec"] if best is None else min(best, result["sec"])
    if best is not None:
        if err is not None:  # a repeat errored after a success: flag it
            return {"sec": round(best, 3), "partial": True}
        return {"sec": round(best, 3)}
    return {"err": err}
