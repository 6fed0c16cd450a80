"""The repository's benchmark: one workload per process, end to end.

    python3 perfbench/run.py --workload lookup_x8 --seed 1 --seconds 8 --trace 0

Run from the repository root. It generates the workload's fixture from
``--seed`` (``fixture.py``), starts ``session.get_spark`` on
``local[nproc]`` and registers table statistics. The first warm-up
pass collects every query's result and checks it against its DuckDB
oracle (``check.py``); two noop passes follow. Then it runs passes over
the workload's queries, each in an order drawn from the seed, for
``--seconds``. Each query is timed from its
``registry.QUERIES[name](spark, sf_dir)`` call to the end of its
noop-sink write.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics read from
spans and Spark's status stores (``tracing.py``). The last line of
stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it print a reproducibility stamp and
each metric by name with its unit, and the full record (per-query
samples, checks, spans) is written to ``.perfbench_out/``. Workloads,
fixtures and the per-layer metric map are in ``reference.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DEADLINE_S = 150.0  # no new query after this; a run must end within 180 s


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = process_start()


def load_reference() -> dict:
    with open(os.path.join(HERE, "reference.json")) as fh:
        return json.load(fh)


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def tree_digest() -> str:
    """Content hash of the measured program and benchmark sources."""
    h = hashlib.sha256()
    for top in ("lookup_transform_spark", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def drift(values: list[float]) -> float:
    """Least-squares slope of ``values`` over their index, as a share of
    their median: the growth of pass time per pass."""
    n = len(values)
    if n < 2:
        return 0.0
    mx, my = (n - 1) / 2, statistics.fmean(values)
    slope = sum((i - mx) * (v - my) for i, v in enumerate(values)) / sum(
        (i - mx) ** 2 for i in range(n))
    return slope / statistics.median(values)


class Bench:
    """One workload run inside one Spark session."""

    def __init__(self, args, ref: dict):
        self.args = args
        self.wl = ref["workloads"][args.workload]
        self.timeout = float(ref["timeout_s"])
        self.min_passes = int(ref["min_passes"])
        self.nproc = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        self.queries = list(self.wl["queries"])
        self.work = os.path.join(WORK, args.workload)
        self.fixture = os.path.join(self.work, "fixture")
        self.setup: dict[str, float] = {}
        self.tracer = None
        self.reader = None

    # ---------------------------------------------------------------- setup
    def prepare_env(self) -> None:
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # every JVM (the launcher and the driver) keeps its temp files, and
        # the perf-counter file it would put in /tmp whatever the temp dir,
        # inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem")
        if "small_input_max_bytes" in self.wl:
            os.environ["SPARK_GRAFT_SMALL_INPUT_MAX_BYTES"] = str(
                self.wl["small_input_max_bytes"])
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def make_fixture(self) -> None:
        import fixture

        t = time.perf_counter()
        fx = self.wl["fixture"]
        sf = self.args.sf if self.args.sf is not None else fx["sf"]
        self.fixture_bytes = fixture.generate(
            self.fixture, self.args.seed, sf, fx["copies"])
        self.sf = sf
        self.setup["fixture_s"] = time.perf_counter() - t

    def clear_scratch(self) -> None:
        """Remove the registry's at-rest artifacts for this fixture, so
        every run builds them afresh during set-up."""
        from lookup_transform_spark import registry

        tag = os.path.basename(registry.scratch_path("", self.fixture))
        stage = "stream_events_" + hashlib.md5(
            os.path.abspath(f"{self.fixture}/events.parquet").encode()
        ).hexdigest()[:12]
        if not os.path.isdir(registry.SCRATCH):
            return
        for name in os.listdir(registry.SCRATCH):
            if name.endswith(tag) or tag + "_" in name or name == stage:
                shutil.rmtree(os.path.join(registry.SCRATCH, name),
                              ignore_errors=True)

    def start_spark(self) -> None:
        t = time.perf_counter()
        from lookup_transform_spark.session import get_spark

        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.perf_counter() - t

    def register_stats(self) -> None:
        from lookup_transform_spark import stats

        t = time.perf_counter()
        stats.register_stats_tables(
            self.spark, self.fixture, tables=tuple(self.wl["stats_tables"]))
        stats.enable_cbo(self.spark, application_side_threshold="10MB")
        self.setup["stats_s"] = time.perf_counter() - t

    # ------------------------------------------------------------ execution
    def remaining(self) -> float:
        return DEADLINE_S - (time.time() - T_START)

    def execute(self, name: str, tag: str, collect: bool = False) -> dict:
        """Run one query under a timeout, to the noop sink or (``collect``)
        into an Arrow table for the output check; times are ``time.time()``
        seconds so they line up with Spark's stage times."""
        from pyspark import InheritableThread
        from check import spark_output
        from lookup_transform_spark import registry

        spark, sc = self.spark, self.spark.sparkContext
        fn = registry.QUERIES[name]
        rec: dict = {"query": name}

        def target():
            rec["t0"] = time.time()
            try:
                sc.setJobGroup(tag + ".build", name, interruptOnCancel=True)
                df = fn(spark, self.fixture)
                rec["t1"] = time.time()
                sc.setJobGroup(tag + ".drain", name, interruptOnCancel=True)
                if collect:
                    rec["table"] = spark_output(df)
                else:
                    df.write.format("noop").mode("overwrite").save()
                rec["t2"] = time.time()
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                rec["err"] = f"{type(e).__name__}: {e}"[:300]

        timeout = min(self.timeout, self.remaining())
        th = InheritableThread(target=target, daemon=True)
        th.start()
        th.join(max(timeout, 0.0))
        if th.is_alive():
            sc.cancelJobGroup(tag + ".build")
            sc.cancelJobGroup(tag + ".drain")
            for q in spark.streams.active:
                q.stop()
            th.join(30)
            tracker = sc.statusTracker()
            deadline = time.monotonic() + 30
            while tracker.getActiveJobsIds() and time.monotonic() < deadline:
                time.sleep(0.2)
            rec["err"] = f"timeout after {timeout:.0f} s"
        if "err" not in rec:
            rec["build_s"] = rec["t1"] - rec["t0"]
            rec["drain_s"] = rec["t2"] - rec["t1"]
            rec["s"] = rec["t2"] - rec["t0"]
        return rec

    def run_pass(self, index: int, phase: str) -> dict:
        order = list(self.queries)
        self.rng.shuffle(order)
        recs = []
        traced = phase == "traced"
        t_pass = time.time()
        for i, name in enumerate(order):
            if self.remaining() <= 0:
                recs.append({"query": name, "err": "run deadline reached"})
                continue
            tag = f"{phase}{index}.{i}"
            if traced:
                self.tracer.adopt(None)  # drop spans noted by untraced passes
                n_sql = self.reader.sql_count()
                mark = self.reader.streams.mark()
            rec = self.execute(name, tag)
            rec["phase"], rec["pass"] = phase, index
            if traced:
                self.trace_query(rec, tag, n_sql, mark)
            recs.append(rec)
        ok = [r for r in recs if "err" not in r]
        p = {"phase": phase, "index": index, "start": t_pass, "end": time.time(),
             "s": sum(r["s"] for r in ok), "queries": recs}
        return p

    def more(self, done: list[dict], t0: float, budget: float) -> bool:
        """Whether to start another pass: at least ``min_passes``, then
        only while the next one is expected to end within ``budget``."""
        if self.remaining() <= 0:
            return False
        if len(done) < self.min_passes:
            return True
        elapsed = time.perf_counter() - t0
        return elapsed + elapsed / len(done) <= budget

    def passes(self, phase: str, budget: float) -> list[dict]:
        out: list[dict] = []
        t = time.perf_counter()
        while self.more(out, t, budget):
            out.append(self.run_pass(len(out), phase))
        return out

    # --------------------------------------------------------------- traced
    def trace_query(self, rec: dict, tag: str, n_sql: int, mark: int) -> None:
        rd, tr = self.reader, self.tracer
        runs = rd.streams.settle(mark)
        if "err" in rec:
            tr.adopt(None)
            return
        # the pass span is added when the pass ends and adopts its queries
        q = tr.add("query", rec["t0"], rec["t2"], None, query=rec["query"])
        b = tr.add("build", rec["t0"], rec["t1"], q)
        d = tr.add("drain", rec["t1"], rec["t2"], q)
        rec["lookup_spans"] = [tr.spans[i] for i in tr.adopt(b)]
        build_jobs = rd.jobs([tag + ".build"] + runs)
        drain_jobs = rd.jobs([tag + ".drain"])
        build_stages = rd.stages(build_jobs)
        drain_stages = rd.stages(drain_jobs)
        # Spark stamps stages in whole milliseconds: clip them to their
        # parent so the tree nests exactly (raw times stay in the attrs)
        for parent, stages, lo, hi in ((b, build_stages, rec["t0"], rec["t1"]),
                                       (d, drain_stages, rec["t1"], rec["t2"])):
            for st in stages:
                start, end = max(st["start"], lo), min(st["end"], hi)
                if end > start:
                    tr.add("stage", start, end, parent, stage=st["stage"],
                           tasks=st["tasks"], spark_start=st["start"],
                           spark_end=st["end"])
        rec["build_jobs"] = len(build_jobs)
        rec["drain_jobs"] = len(drain_jobs)
        rec["build_stages"], rec["drain_stages"] = build_stages, drain_stages
        rec["sql"] = rd.sql_metrics(n_sql, rd.sql_count())
        rec["stream"] = rd.streams.metrics(runs)
        self.heap_peak = max(self.heap_peak, rd.heap_mb())

    def layer_metrics(self, p: dict) -> dict[str, float]:
        """Per-layer metrics of one traced pass."""
        ok = [r for r in p["queries"] if "err" not in r]
        m: dict[str, float] = {}
        m["registry.build_s"] = sum(r["build_s"] for r in ok)
        m["registry.build_frac"] = m["registry.build_s"] / max(p["s"], 1e-9)
        m["registry.build_jobs"] = sum(r["build_jobs"] for r in ok)
        spans = [s for r in ok for s in r["lookup_spans"]]
        m["lookup.apply_s"] = sum(s.end - s.start for s in spans)
        m["lookup.apply_calls"] = len(spans)
        for key in ("lookup.broadcast_joins", "lookup.shuffled_joins",
                    "lookup.broadcast_collect_s", "lookup.broadcast_bytes"):
            m[key] = sum(r["sql"][key] for r in ok)
        drain = [st for r in ok for st in r["drain_stages"]]
        m["exec.s"] = sum(r["drain_s"] for r in ok)
        m["exec.jobs"] = sum(r["drain_jobs"] for r in ok)
        m["exec.stages"] = len(drain)
        m["exec.tasks"] = sum(st["tasks"] for st in drain)
        m["exec.task_busy_s"] = sum(st["run_s"] for st in drain)
        m["exec.task_cpu_s"] = sum(st["cpu_s"] for st in drain)
        m["exec.gc_s"] = sum(st["gc_s"] for st in drain)
        m["exec.slot_busy_frac"] = m["exec.task_busy_s"] / max(
            m["exec.s"] * self.nproc, 1e-9)
        from tracing import union_length

        covered = 0.0
        for r in ok:
            covered += union_length([
                (max(st["start"], r["t1"]), min(st["end"], r["t2"]))
                for st in r["drain_stages"] if st["end"] > r["t1"]])
        m["exec.driver_wait_s"] = m["exec.s"] - covered
        m["exec.input_rows"] = sum(st["input_rows"] for st in drain)
        m["exec.input_bytes"] = sum(st["input_bytes"] for st in drain)
        m["exec.shuffle_write_bytes"] = sum(st["shuffle_write_bytes"] for st in drain)
        m["exec.shuffle_read_bytes"] = sum(st["shuffle_read_bytes"] for st in drain)
        m["exec.spill_bytes"] = sum(st["spill_bytes"] for st in drain)
        m["exec.output_rows"] = sum(
            self.checks.get(r["query"], {}).get("rows", 0) for r in ok)
        for key in ("plan.exchanges", "plan.filter_hof_copies", "python.run_s",
                    "python.init_s", "python.bytes_sent",
                    "python.bytes_returned", "python.rows_out"):
            m[key] = sum(r["sql"][key] for r in ok)
        for key in ok[0]["stream"] if ok else ():
            m[key] = sum(r["stream"][key] for r in ok)
        writes = [st for r in ok for st in r["build_stages"] + r["drain_stages"]
                  if st["output_bytes"] or st["output_rows"]]
        m["write.bytes"] = sum(st["output_bytes"] for st in writes)
        m["write.rows"] = sum(st["output_rows"] for st in writes)
        m["write.s"] = union_length([(st["start"], st["end"]) for st in writes])
        return m

    # ---------------------------------------------------------------- check
    def check_pass(self) -> dict:
        """The warm-up pass: every query once, in seeded order, its result
        collected as Arrow and checked against its oracle (``check.py``).
        The oracle side is timed apart, as ``check_s``."""
        import duckdb
        from check import diff_with_oracle
        from lookup_transform_spark import parity, parity_bounds, registry

        t = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET threads={self.nproc}")
        con.execute("SET TimeZone='UTC'")
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'tmp')}'")
        parity.register_views(con, self.fixture)
        check_s = time.perf_counter() - t
        order = list(self.queries)
        self.rng.shuffle(order)
        t_pass, recs = time.time(), []
        for i, name in enumerate(order):
            if self.remaining() <= 0:
                recs.append({"query": name, "err": "run deadline reached"})
                self.checks[name] = {"passed": False, "err": recs[-1]["err"]}
                continue
            rec = self.execute(name, f"warm0.{i}", collect=True)
            rec["phase"], rec["pass"] = "warm", 0
            recs.append(rec)
            table = rec.pop("table", None)
            if "err" in rec:
                self.checks[name] = {"passed": False, "err": rec["err"]}
                continue
            t = time.perf_counter()
            try:
                if name in registry.ORACLES:
                    ok, err = diff_with_oracle(con, table, registry.ORACLES[name])
                else:
                    bound = parity_bounds.bound_check(
                        self.spark, con, self.fixture, name) or {
                            "passed": False, "value": "no bound check"}
                    ok, err = bool(bound["passed"]), str(bound)
            except Exception as e:  # noqa: BLE001 - recorded as a failure
                ok, err = False, f"{type(e).__name__}: {e}"[:300]
            check_s += time.perf_counter() - t
            self.checks[name] = {"passed": ok, "rows": table.num_rows,
                                 "err": None if ok else err}
        con.close()
        self.setup["check_s"] = check_s
        ok = [r for r in recs if "err" not in r]
        return {"phase": "warm", "index": 0, "start": t_pass, "end": time.time(),
                "s": sum(r["s"] for r in ok), "queries": recs}

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        args = self.args
        cpu0, load0 = cpu_times(), os.getloadavg()
        self.prepare_env()
        self.make_fixture()
        self.start_spark()
        self.clear_scratch()
        self.register_stats()
        self.heap_peak = 0.0
        self.checks: dict[str, dict] = {}
        t = time.perf_counter()
        # the check pass, then two noop passes: the JIT keeps speeding up
        # the second to fourth executions of each query
        warm = [self.check_pass(), self.run_pass(1, "warm"), self.run_pass(2, "warm")]
        self.setup["warm_s"] = time.perf_counter() - t - self.setup["check_s"]
        # set-up excludes input generation and the oracle side of the check
        setup_s = (time.time() - T_START) - self.setup["fixture_s"] \
            - self.setup["check_s"]

        traced: list[dict] = []
        if args.trace:
            measured, traced = self.traced_passes(args.seconds)
        else:
            measured = self.passes("measure", args.seconds)

        execs = [r for p in warm + measured + traced for r in p["queries"]]
        bad_checks = {n for n, c in self.checks.items() if not c["passed"]}
        failed = sum(1 for r in execs if "err" in r or r["query"] in bad_checks)
        attempted = len(execs)
        ok_m = [r for p in measured for r in p["queries"] if "err" not in r]
        pass_times = [p["s"] for p in measured]
        sample_s = [r["s"] for r in ok_m]
        result = {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_times),
            "query_p50_s": statistics.median(sample_s) if sample_s else float("nan"),
            "query_p90_s": percentile(sample_s, 90) if sample_s else float("nan"),
            "failed_frac": failed / attempted if attempted else 1.0,
        }
        from lookup_transform_spark import scale_profile

        stamp = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "commit": git_commit(),
            "tree_sha256": tree_digest(), "nproc": self.nproc,
            "spark": self.spark.version,
            "jdk": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": __import__("duckdb").__version__,
            "python": sys.version.split()[0],
            "fixture": {"path": os.path.relpath(self.fixture, ROOT),
                        "bytes": self.fixture_bytes, "sf": self.sf,
                        "copies": self.wl["fixture"]["copies"]},
            "regime": scale_profile.profile_for(self.fixture),
            "regime_expected": self.wl["regime"],
            "passes": len(measured), "traced_passes": len(traced),
            "samples": len(sample_s), "queries": len(self.queries),
            "loadavg_start": list(load0),
        }
        layers = {}
        if args.trace:
            per_pass = [self.layer_metrics(p) for p in traced]
            layers = {k: statistics.median(pm[k] for pm in per_pass)
                      for k in per_pass[0]} if per_pass else {}
            layers.update({
                "setup.session_s": self.setup["session_s"],
                "setup.stats_s": self.setup["stats_s"],
                "setup.warm_s": self.setup["warm_s"],
                "setup.fixture_s": self.setup["fixture_s"],
                "jvm.heap_peak_mb": self.heap_peak,
                "proc.rss_peak_mb": self.rss_peak_mb(),
                "pass.drift_frac": drift(pass_times),
                "check.s": self.setup["check_s"],
                "trace.overhead_frac": statistics.median(
                    p["s"] for p in traced) / result["pass_s"] - 1,
            })
        stamp["loadavg_end"] = list(os.getloadavg())
        steal = steal_frac(cpu0, cpu_times())
        stamp["host_steal_frac"] = steal
        if args.trace:
            layers["host.steal_frac"] = steal
        return {
            "stamp": stamp, "end_to_end": result, "layers": layers,
            "checks": self.checks, "attempted": attempted, "failed": failed,
            "warm": warm, "measured": measured, "traced": traced,
            "setup": self.setup,
        }

    def traced_passes(self, budget: float) -> tuple[list[dict], list[dict]]:
        """Untraced and traced passes, alternating so that the JIT's
        continued warming weighs on both sides of the tracing-overhead
        ratio alike, each side for ``budget`` seconds."""
        from tracing import SparkReader, Tracer, install_lookup_spans

        self.tracer = Tracer(f"{self.args.workload}-{self.args.seed}")
        self.reader = SparkReader(self.spark)
        restore = install_lookup_spans(self.tracer)
        plain: list[dict] = []
        traced: list[dict] = []
        t = time.perf_counter()
        try:
            while self.more(plain, t, 2 * budget):
                plain.append(self.run_pass(len(plain), "measure"))
                p = self.run_pass(len(traced), "traced")
                sid = self.tracer.add("pass", p["start"], p["end"], None,
                                      index=p["index"])
                for s in self.tracer.spans:
                    if s.name == "query" and s.parent is None:
                        s.parent = sid
                traced.append(p)
        finally:
            restore()
            self.reader.close()
        return plain, traced

    def rss_peak_mb(self) -> float:
        """Peak resident set of the Spark JVM plus this driver process."""
        import resource

        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        try:
            with open(f"/proc/{self.reader.jvm_pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return py_mb + int(line.split()[1]) / 1024
        except OSError:
            pass
        return py_mb

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.fixture, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the fixture scale factor (smoke tests)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lookup_transform_spark")):
        print(f"perfbench: no lookup_transform_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    ref = load_reference()
    if args.workload not in ref["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(ref['workloads'])}", file=sys.stderr)
        return 2

    bench = Bench(args, ref)
    try:
        rec = bench.run()
    finally:
        bench.close()

    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(
        OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if bench.tracer is not None:
        rec["spans"] = bench.tracer.to_json()
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, default=lambda o: o.__dict__)

    spec = {m["name"]: m["unit"] for m in (
        ref["per_layer"] if args.trace else ref["end_to_end"])}
    values = rec["layers"] if args.trace else rec["end_to_end"]
    # a metric no successful execution produced reads NaN (and the run
    # is then not correct)
    metrics = {k: {"value": values.get(k, float("nan")), "unit": u}
               for k, u in spec.items()}
    print("stamp " + json.dumps(rec["stamp"], sort_keys=True))
    for k, m in metrics.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    print(f"metric failed_frac {rec['end_to_end']['failed_frac']} ratio "
          f"({rec['failed']} of {rec['attempted']})")
    for name, c in sorted(rec["checks"].items()):
        if not c["passed"]:
            print(f"check FAILED {name}: {c.get('err')}")
    print(json.dumps({
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
