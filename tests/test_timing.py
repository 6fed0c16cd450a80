"""The timing core (``timing.py``) that ``bench.py`` and the probes
share: reset hooks stay outside the samples, an earlier sample survives
a later failure, a Spark timeout leaves no job running, and a DuckDB
oracle is cut at its budget."""

from __future__ import annotations

import threading
import time

import duckdb

from lookup_transform_spark import timing


def _tiny(spark, sf_dir):
    return spark.range(10)


def test_reset_runs_before_every_repeat_outside_the_samples(spark):
    events = []

    def reset(s):
        events.append("reset")
        time.sleep(2.0)

    def build(s, sf_dir):
        events.append("build")
        return _tiny(s, sf_dir)

    timing.drain(_tiny(spark, None))  # the session's first job is slow
    rec = timing.time_query(spark, build, "unused", 3, reset=reset)
    assert events == ["reset", "build"] * 3
    assert len(rec["samples"]) == 3 and "partial" not in rec
    assert rec["sec"] == min(rec["samples"])
    # a sample that billed the 2 s reset would be at least 2 s
    assert max(rec["samples"]) < 2.0, rec


def test_error_on_second_repeat_keeps_first_as_partial(spark):
    calls = []

    def build(s, sf_dir):
        calls.append(1)
        if len(calls) == 2:
            raise ValueError("boom")
        return _tiny(s, sf_dir)

    rec = timing.time_query(spark, build, "unused", 3)
    assert len(calls) == 2
    assert rec["partial"] is True
    assert len(rec["samples"]) == 1 and rec["sec"] == rec["samples"][0]
    assert rec["err"].startswith("ValueError: boom")


def test_error_on_first_repeat_is_an_error(spark):
    def build(s, sf_dir):
        raise ValueError("boom")

    rec = timing.time_query(spark, build, "unused", 2)
    assert set(rec) == {"err"}


def test_spark_timeout_cancels_the_job(spark):
    """A drain far longer than the timeout is cancelled: the record is a
    timeout, and no job of it is still active when the call returns."""

    def endless(s, sf_dir):
        return s.range(0, 1 << 40, 1, 2).selectExpr("max(id) AS m")

    t0 = time.perf_counter()
    rec = timing.time_query(spark, endless, "unused", 2, timeout=2)
    assert rec == {"timeout": 2}
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert time.perf_counter() - t0 < 60


class _FakeCon:
    """A DuckDB-connection stand-in whose i-th statement takes
    ``delays[i]`` seconds. Like DuckDB, an ``interrupt()`` aborts only a
    statement that is running, and only if ``interruptible``; a
    non-interruptible statement behaves like one the interrupt missed."""

    def __init__(self, delays, interruptible=True):
        self.delays = list(delays)
        self.interruptible = interruptible
        self.ran = []
        self.interrupts = 0
        self._stop = threading.Event()

    def execute(self, sql):
        self.ran.append(sql)
        self._stop.clear()
        delay = self.delays[len(self.ran) - 1]
        if not self.interruptible:
            time.sleep(delay)
        elif self._stop.wait(delay):
            raise duckdb.InterruptException("INTERRUPT Error: Interrupted!")
        return self

    def fetchall(self):
        return []

    def interrupt(self):
        self.interrupts += 1
        self._stop.set()


def test_oracle_budget_expiring_between_statements_stops_the_next(monkeypatch):
    """The first statement overruns the budget without noticing the
    interrupt; the second statement must not run."""
    monkeypatch.setattr(timing, "ORACLE_TIMEOUT_S", 0.5)
    con = _FakeCon([0.8, 5.0], interruptible=False)
    t0 = time.perf_counter()
    rec = timing.time_oracle(con, ["first", "second"], 2)
    assert rec == {"timeout": 0.5}
    assert con.ran == ["first"]
    assert con.interrupts == 1
    assert time.perf_counter() - t0 < 2


def test_oracle_later_timeout_keeps_earlier_samples(monkeypatch):
    """Repeat 1 fits the budget and repeat 2 is interrupted at it: the
    record keeps repeat 1, marked partial."""
    monkeypatch.setattr(timing, "ORACLE_TIMEOUT_S", 0.5)
    con = _FakeCon([0.05, 5.0, 0.05])
    t0 = time.perf_counter()
    rec = timing.time_oracle(con, ["q"], 3)
    assert con.ran == ["q", "q"] and con.interrupts == 1
    assert rec["partial"] is True and "timeout" not in rec
    assert len(rec["samples"]) == 1 and rec["sec"] < 0.5
    assert time.perf_counter() - t0 < 2


def test_oracle_runs_on_duckdb():
    con = duckdb.connect()
    rec = timing.time_oracle(con, ["SELECT 42", "SELECT 43"], 3)
    assert len(rec["samples"]) == 3 and set(rec) == {"sec", "samples"}
    bad = timing.time_oracle(con, ["SELECT * FROM no_such_table"], 3)
    assert set(bad) == {"err"} and "no_such_table" in bad["err"]
    con.close()


def test_oracle_statements_override_and_default():
    assert timing.oracle_statements("lookup", "/t") == [
        timing.registry.ORACLES["lookup"]
    ]
    stmts = timing.oracle_statements("sink_upsert", "/t")
    assert len(stmts) == 2 and all("/t/duck_upsert" in s for s in stmts)
