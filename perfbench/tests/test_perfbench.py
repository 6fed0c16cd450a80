"""Tests of the benchmark itself (not of the library it measures).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload in both modes on a tiny (sf0.001)
fixture through the real command line, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tracing  # noqa: E402


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


BENCHMARK = _load(os.path.join(ROOT, "BENCHMARK.json"))
REFERENCE = _load(os.path.join(BENCH, "reference.json"))


def _spec(entries: list[dict], keys: tuple[str, ...]) -> list[tuple]:
    return [tuple(e[k] for k in keys) for e in entries]


def test_reference_matches_benchmark_json():
    assert sorted(w["name"] for w in BENCHMARK["workloads"]) == sorted(
        REFERENCE["workloads"])
    for w in BENCHMARK["workloads"]:
        assert w["why"] == REFERENCE["workloads"][w["name"]]["why"]
    keys = ("name", "unit", "better", "bound")
    assert _spec(BENCHMARK["end_to_end"], keys) == _spec(REFERENCE["end_to_end"], keys)
    keys = ("name", "unit", "better")
    assert _spec(BENCHMARK["per_layer"], keys) == _spec(REFERENCE["per_layer"], keys)


def test_self_times_of_nested_spans():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = tracing.self_times(spans)
    assert st == {0: 5.0, 1: 2.5, 2: 3.0, 3: 0.5}
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0


def test_sql_metric_parsing():
    assert tracing.parse_sql_metric("15,000") == 15000
    assert tracing.parse_sql_metric("1.3 s") == 1.3
    assert tracing.parse_sql_metric("2.0 KiB") == 2048
    assert tracing.parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n163 ms (9 ms, 25 ms, 30 ms "
        "(stage 14.0: task 36))") == pytest.approx(0.163)


def test_plan_counts():
    desc = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   +- BroadcastHashJoin LeftOuter BuildRight (5)\n"
        "      :- Exchange (2)\n      :  +- Filter (3)\n"
        "      +- BroadcastExchange (4)\n"
        "+- == Initial Plan ==\n   +- SortMergeJoin (7)\n"
        "      +- Filter (8)\n\n\n"
        "(3) Filter\nCondition : exists(transform(a#1, x -> x), y -> y)\n\n"
        "(8) Filter\nCondition : exists(transform(a#1, x -> x), y -> y)\n\n"
    )
    assert tracing.plan_counts(desc) == {
        "plan.exchanges": 1, "lookup.broadcast_joins": 1,
        "lookup.shuffled_joins": 0, "plan.filter_hof_copies": 1,
    }


@pytest.fixture(scope="module")
def spark():
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from lookup_transform_spark.session import get_spark

    s = get_spark("perfbench-tests", shuffle_partitions=2)
    yield s


def test_checker_rejects_a_perturbed_result(spark):
    import duckdb

    from check import diff_with_oracle, spark_output

    con = duckdb.connect()
    df = spark.createDataFrame([(1, "a", 0.5), (2, "b", 1.5), (2, "b", 1.5)],
                               "k int, v string, x double")
    good = "SELECT * FROM (VALUES (2, 'b', 1.5), (1, 'a', 0.5), (2, 'b', 1.5)) t(k, v, x)"
    table = spark_output(df)
    assert diff_with_oracle(con, table, good) == (True, None)
    for bad in (
        "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5000001), (2, 'b', 1.5)) t(k, v, x)",
        "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5)) t(k, v, x)",
        "SELECT * FROM (VALUES (1, 'a', 0.5), (2, 'b', 1.5), (2, 'c', 1.5)) t(k, v, x)",
        "SELECT k, v FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(k, v)",
    ):
        ok, err = diff_with_oracle(con, table, bad)
        assert not ok and err


def _run(workload: str, trace: int, seed: int = 5) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(REFERENCE["workloads"]))
def test_smoke_every_workload(workload, trace):
    result, lines = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCHMARK["per_layer"] if trace else BENCHMARK["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    for m in spec:  # each metric is also printed by name with its unit
        assert any(
            ln.startswith(f"metric {m['name']} ") and ln.endswith(f" {m['unit']}")
            for ln in lines)
    if trace:
        _check_spans(workload)


def _check_spans(workload: str) -> None:
    rec = _load(os.path.join(ROOT, ".perfbench_out",
                             f"{workload}-seed5-trace1.json"))
    spans = rec["spans"]["spans"]
    by_id = {s["id"]: s for s in spans}
    names = {s["name"] for s in spans}
    assert {"pass", "query", "build", "drain", "stage"} <= names
    parent_of = {"query": "pass", "build": "query", "drain": "query",
                 "lookup.apply": "build"}
    for s in spans:
        assert s["end"] >= s["start"]
        if s["name"] == "pass":
            assert s["parent"] is None
            continue
        parent = by_id[s["parent"]]
        if s["name"] == "stage":
            assert parent["name"] in ("build", "drain")
        else:
            assert parent["name"] == parent_of[s["name"]]
        assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    assert min(s["self_s"] for s in spans) >= -1e-6
