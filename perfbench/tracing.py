"""Spans and Spark-side metrics for the benchmark's traced run.

Everything here is recorded from outside the library: spans wrap the
benchmark's own calls (pass, query, build, drain) plus
``LookupSpec.apply`` through a wrapper installed for the traced run
only, and the Spark numbers are read back from Spark's own status
stores after each query:

- job ids per job group from ``sc.statusTracker()``; streaming
  micro-batch jobs run under their query's run id as job group;
- stage run/CPU/GC/shuffle/spill from the core status store
  (``lastStageAttempt``);
- per-node SQL metrics and executed plans from the SQL status store;
- streaming progress from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import re
import threading
import time
from dataclasses import dataclass, field

# --------------------------------------------------------------------------
# spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; one per run, written out at the end.

    Spans are added with explicit times (``time.time()`` seconds) and a
    parent id, because the spans of one query are recorded from two
    threads: the query thread and the main thread that reads Spark's
    status stores after it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._pending: list[tuple[str, float, float]] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, attrs))
            return sid

    def note(self, name: str, start: float, end: float) -> None:
        """Record a span whose parent is assigned later (``adopt``)."""
        with self._lock:
            self._pending.append((name, start, end))

    def adopt(self, parent: int | None) -> list[int]:
        """Attach every noted span to ``parent`` (or drop them when
        ``parent`` is None); returns the new span ids."""
        with self._lock:
            pending, self._pending = self._pending, []
        if parent is None:
            return []
        return [self.add(n, s, e, parent) for n, s, e in pending]

    def to_json(self) -> dict:
        spans = [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": self.run_id, **s.attrs}
            for s in self.spans
        ]
        for span, self_s in zip(spans, self_times(spans).values()):
            span["self_s"] = self_s
        return {"run_id": self.run_id, "spans": spans}


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def install_lookup_spans(tracer: Tracer):
    """Wrap ``LookupSpec.apply`` so each call notes a span (adopted by
    the query's build span); returns a function restoring the original."""
    from lookup_transform_spark.plans.lookup import LookupSpec

    original = LookupSpec.apply

    def apply(self, input_df, lookup_df):
        start = time.time()
        try:
            return original(self, input_df, lookup_df)
        finally:
            tracer.note("lookup.apply", start, time.time())

    LookupSpec.apply = apply

    def restore():
        LookupSpec.apply = original

    return restore


# --------------------------------------------------------------------------
# Spark status-store readers

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric ("1.3 s", "315.9 KiB", "15,000",
    or the per-task "total (min, med, max ...)\\n163 ms (...)" form), in
    seconds, bytes or rows."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    tok = text.split()
    value = float(tok[0].replace(",", ""))
    if len(tok) > 1 and tok[1] in _UNIT:
        value *= _UNIT[tok[1]]
    return value


_PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}

_EXCHANGE = re.compile(r"(?<![A-Za-z])Exchange\b")
_BHJ = re.compile(r"\bBroadcastHashJoin\b")
_SHJ = re.compile(r"\b(SortMergeJoin|ShuffledHashJoin)\b")
_NODE = re.compile(r"^\((\d+)\) (\w+)", re.M)
_HOF = re.compile(r"\b(transform|aggregate)\(")


_TREE_ID = re.compile(r"\((\d+)\)\s*$", re.M)


def plan_counts(desc: str) -> dict[str, int]:
    """Exchange/join/HOF-filter counts of one formatted physical plan:
    the operator tree, then one numbered detail block per operator. For
    an adaptive plan only the operators of its final plan count."""
    match = _NODE.search(desc)
    tree = desc[:match.start()] if match else desc
    details = desc[match.start():] if match else ""
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    executed = set(_TREE_ID.findall(tree))
    hof = 0
    blocks = _NODE.split(details)
    # split yields [pre, id, name, body, id, name, body, ...]
    for i in range(1, len(blocks) - 2, 3):
        node_id, name, body = blocks[i], blocks[i + 1], blocks[i + 2]
        if name == "Filter" and node_id in executed:
            for line in body.splitlines():
                if line.startswith("Condition"):
                    hof += len(_HOF.findall(line))
    return {
        "plan.exchanges": len(_EXCHANGE.findall(tree)),
        "lookup.broadcast_joins": len(_BHJ.findall(tree)),
        "lookup.shuffled_joins": len(_SHJ.findall(tree)),
        "plan.filter_hof_copies": hof,
    }


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _ms(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


class SparkReader:
    """Reads job/stage/SQL/streaming metrics for the span of one query."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.tracker = self.sc.statusTracker()
        self.streams = StreamRecorder()
        spark.streams.addListener(self.streams)
        jvm = self.sc._jvm
        self.memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def close(self) -> None:
        self.spark.streams.removeListener(self.streams)

    def sql_count(self) -> int:
        return int(self.sql.executionsCount())

    def heap_mb(self) -> float:
        return self.memory.getHeapMemoryUsage().getUsed() / 2 ** 20

    def jobs(self, groups: list[str]) -> list[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        return sorted(ids)

    def stages(self, job_ids: list[int]) -> list[dict]:
        """Executed stages of ``job_ids`` with their task metrics."""
        out, seen = [], set()
        for j in job_ids:
            for sid in _seq(self.core.job(j).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.core.lastStageAttempt(sid)
                start, end = _ms(sd.submissionTime()), _ms(sd.completionTime())
                if start is None or end is None:
                    continue  # skipped: its shuffle output was reused
                out.append({
                    "stage": int(sid), "job": int(j), "start": start, "end": end,
                    "tasks": int(sd.numTasks()),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "input_rows": int(sd.inputRecords()),
                    "input_bytes": int(sd.inputBytes()),
                    "output_rows": int(sd.outputRecords()),
                    "output_bytes": int(sd.outputBytes()),
                    "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                    "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                    "spill_bytes": int(sd.memoryBytesSpilled() + sd.diskBytesSpilled()),
                })
        return out

    def sql_metrics(self, first: int, last: int) -> dict[str, float]:
        """Plan counts and Python/broadcast SQL metrics of the SQL
        executions numbered ``first`` .. ``last - 1``."""
        acc: dict[str, float] = {
            "plan.exchanges": 0, "lookup.broadcast_joins": 0,
            "lookup.shuffled_joins": 0, "plan.filter_hof_copies": 0,
            "python.run_s": 0.0, "python.init_s": 0.0,
            "python.bytes_sent": 0.0, "python.bytes_returned": 0.0,
            "python.rows_out": 0.0, "lookup.broadcast_collect_s": 0.0,
            "lookup.broadcast_bytes": 0.0,
        }
        if last <= first:
            return acc
        for e in _seq(self.sql.executionsList(first, last - first)):
            for k, v in plan_counts(e.physicalPlanDescription()).items():
                acc[k] += v
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = v.get()
                if "time to run Python workers" in metrics:
                    for name, key in _PY_METRICS.items():
                        if name in metrics:
                            acc[key] += parse_sql_metric(metrics[name])
                    if "number of output rows" in metrics:
                        acc["python.rows_out"] += parse_sql_metric(
                            metrics["number of output rows"])
                if node.name() == "BroadcastExchange":
                    if "time to collect" in metrics:
                        acc["lookup.broadcast_collect_s"] += parse_sql_metric(
                            metrics["time to collect"])
                    if "data size" in metrics:
                        acc["lookup.broadcast_bytes"] += parse_sql_metric(
                            metrics["data size"])
        return acc


try:
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover - pyspark is a hard dependency
    StreamingQueryListener = object


class StreamRecorder(StreamingQueryListener):
    """Collects streaming progress per run id. Listener events arrive
    asynchronously, so ``settle`` waits for every started query's
    termination event before its numbers are read."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.terminated: set[str] = set()
        self.progress: dict[str, list[dict]] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.commitTimeMs) for s in p.stateOperators],
        }
        with self._lock:
            self.progress.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> int:
        with self._lock:
            return len(self.started)

    def settle(self, mark: int, timeout: float = 10.0) -> list[str]:
        """Run ids started since ``mark``, once all have terminated."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                runs = self.started[mark:]
                done = all(r in self.terminated for r in runs)
            if done or time.monotonic() > deadline:
                return runs
            time.sleep(0.02)

    def metrics(self, runs: list[str]) -> dict[str, float]:
        out = {
            "stream.batches": 0, "stream.planning_s": 0.0,
            "stream.add_batch_s": 0.0, "stream.commit_s": 0.0,
            "stream.state_commit_s": 0.0, "stream.state_rows": 0,
            "stream.input_rows": 0,
        }
        with self._lock:
            batches = {r: list(self.progress.get(r, [])) for r in runs}
        for recs in batches.values():
            for rec in recs:
                d = rec["duration_ms"]
                out["stream.batches"] += 1
                out["stream.input_rows"] += rec["input_rows"]
                out["stream.planning_s"] += d.get("queryPlanning", 0) / 1e3
                out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
                out["stream.commit_s"] += (
                    d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                out["stream.state_commit_s"] += sum(c for _, c in rec["state"]) / 1e3
            if recs:
                out["stream.state_rows"] += sum(n for n, _ in recs[-1]["state"])
        return out
