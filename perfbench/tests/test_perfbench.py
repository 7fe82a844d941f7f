"""Tests of the benchmark's own logic; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from check import Oracle  # noqa: E402
from tracing import Tracer, layer_metrics, plan_shape, self_times, sql_metric_value  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _sequence(keys, seed, passes):
    orders = pass_orders(keys, seed)
    return [next(orders) for _ in range(passes)]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_call_sequence(workload):
    keys = WORKLOADS[workload].keys
    assert _sequence(keys, 7, 5) == _sequence(keys, 7, 5)
    assert _sequence(keys, 7, 5) != _sequence(keys, 8, 5)
    assert all(sorted(p) == sorted(keys) for p in _sequence(keys, 7, 5))


def test_workloads_match_benchmark_json():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in _spec()["workloads"])


def _fake_loop(keys, fail_key=None, seconds=0.0):
    def call(key, pass_no):
        if key == fail_key:
            raise RuntimeError("forced failure")
        return object(), 0.01 + 0.001 * keys.index(key)

    return run.closed_loop(pass_orders(keys, 1), call, lambda k, p, df: None, seconds)


def _traced_metrics(calls):
    tracer = Tracer()
    tracer.spans = [
        {"id": 1, "parent": 0, "call": 1, "name": "call", "start": 0.0, "end": 1.0},
        {"id": 2, "parent": 1, "call": 1, "name": "operators.construct", "start": 0.0, "end": 0.6},
        {"id": 3, "parent": 2, "call": 1, "name": "tables.table", "start": 0.1, "end": 0.2},
        {"id": 4, "parent": 1, "call": 1, "name": "exec.write", "start": 0.6, "end": 1.0},
    ]
    tracer.counts.update({"tables.scan_calls": 2, "tables.scan_hits": 1, "exec.jobs": 3})
    half = len(calls) // 2
    return layer_metrics(tracer, calls[:half], calls[half:], [100.0, 110.0])


def test_metric_names_are_valid_and_match_benchmark_json():
    spec = _spec()
    calls = _fake_loop(("a", "b", "c"))
    e2e = run.end_to_end(calls, {}, setup_s=1.0, heap_mb=50.0)
    per_layer = _traced_metrics(calls)
    for name in [*e2e, *per_layer]:
        assert NAME.fullmatch(name), name
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    assert sorted(per_layer) == sorted(m["name"] for m in spec["per_layer"])
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    assert all(units[k] == u for k, (_, u) in {**e2e, **per_layer}.items())


def test_layer_self_times_and_ratios():
    calls = _fake_loop(("a", "b"))
    for c in calls:
        c["ok"] = True
    m = _traced_metrics(calls)
    n = len(calls) // 2
    assert m["operators.construct_s"][0] == pytest.approx(0.5 / n)
    assert m["tables.scan_s"][0] == pytest.approx(0.1 / n)
    assert m["exec.s"][0] == pytest.approx(0.4 / n)
    assert m["tables.scan_memo_hit_ratio"][0] == 0.5
    assert m["tables.plan_memo_hit_ratio"][0] == 0.0
    assert m["driver.heap_growth_mb"][0] == 10.0


@pytest.mark.parametrize("n", [11, 12, 15, 18, 30, 101])
def test_tail_keeps_ten_samples_beyond_it(n):
    rng = random.Random(n)
    samples = [rng.lognormvariate(0, 1) for _ in range(n)]
    tail, pct = run.tail_latency(samples)
    assert sum(s > tail for s in samples) >= 10
    # the next larger sample would leave fewer than ten beyond it
    assert sum(s > min(s for s in samples if s > tail) for s in samples) < 10
    assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        run.tail_latency([1.0] * 10)


def test_loop_makes_at_least_eleven_calls_in_whole_passes():
    calls = _fake_loop(("a", "b", "c", "d"))
    assert len(calls) == 12
    assert [c["pass"] for c in calls] == [0] * 4 + [1] * 4 + [2] * 4


def test_forced_raise_counts_in_fail_frac():
    keys = ("a", "b", "c", "d")
    calls = _fake_loop(keys, fail_key="b")
    m = run.end_to_end(calls, {}, setup_s=1.0, heap_mb=50.0)
    failed = [c for c in calls if not c["ok"]]
    assert failed and all(c["key"] == "b" and "forced failure" in c["error"] for c in failed)
    assert m["pass_frac"][0] == pytest.approx(1 - len(failed) / len(calls))
    assert m["queries_per_s"][0] == pytest.approx(
        (len(calls) - len(failed)) / sum(c["wall_s"] for c in calls))


def test_failed_check_fails_every_call_of_its_key():
    calls = _fake_loop(("a", "b", "c"))
    m = run.end_to_end(calls, {"c": "3 rows vs oracle 4"}, setup_s=1.0, heap_mb=50.0)
    assert all(c["ok"] == (c["key"] != "c") for c in calls)
    assert m["pass_frac"][0] == pytest.approx(2 / 3)


class _Frame:
    """Stands in for a DataFrame: the checks only count and collect."""

    def __init__(self, pdf):
        self.pdf = pdf

    def count(self):
        return len(self.pdf)

    def toPandas(self):
        return self.pdf


def test_rows_only_count_must_repeat():
    checker = run.Checker(rows_only={"k"}, checked_from=1)
    checker.warm("k", pd.DataFrame({"a": [1, 2, 3]}))
    checker.after_call("k", 0, _Frame(pd.DataFrame({"a": [1, 2, 3]})))
    assert not checker.bad
    checker.after_call("k", 0, _Frame(pd.DataFrame({"a": [1, 2, 3, 4]})))
    assert "row count 4" in checker.bad["k"]


def test_wrong_timed_result_fails_every_call_of_its_key():
    # the warm result matches the oracle; a later call of "k" returns a
    # duplicated row, as a sink that appends instead of overwriting would
    good = pd.DataFrame({"a": [1, 2]})
    keys = ("k", "m")
    checker = run.Checker(rows_only=set(), checked_from=1)
    for k in keys:
        checker.warm(k, good)

    def call(key, pass_no):
        wrong = key == "k" and pass_no == 2
        return _Frame(pd.DataFrame({"a": [1, 2, 2]}) if wrong else good), 0.01

    calls = run.closed_loop(pass_orders(keys, 1), call, checker.after_call, 0.0, min_passes=3)
    oracle = Oracle(".", [], {k: "SELECT * FROM (VALUES (1), (2)) t(a)" for k in keys}, 1)
    try:
        checker.against(oracle)
    finally:
        oracle.close()
    assert checker.bad["k"].startswith("pass 2:") and "m" not in checker.bad
    m = run.end_to_end(calls, checker.bad, setup_s=1.0, heap_mb=50.0)
    assert all(c["ok"] == (c["key"] != "k") for c in calls)
    assert m["pass_frac"][0] == pytest.approx(0.5)


def test_results_before_checked_pass_are_not_collected():
    checker = run.Checker(rows_only=set(), checked_from=3)
    checker.warm("k", pd.DataFrame({"a": [1]}))
    checker.after_call("k", 2, _Frame(pd.DataFrame({"a": [5]})))
    oracle = Oracle(".", [], {"k": "SELECT 1 AS a"}, 1)
    try:
        checker.against(oracle)
    finally:
        oracle.close()
    assert not checker.bad


def test_steal_frac_is_the_steal_share_of_all_cpu_time():
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [160, 0, 70, 880, 0, 0, 0, 90]
    assert run._steal_frac(start, end) == pytest.approx(40 / 200)
    assert run._steal_frac(start, start) == 0.0
    assert len(run._cpu_times()) >= 8


def test_sql_metric_values():
    assert sql_metric_value("10,000") == 10_000
    assert sql_metric_value("189.2 KiB") == pytest.approx(189.2 * 1024)
    assert sql_metric_value("254 ms") == pytest.approx(0.254)
    assert sql_metric_value(
        "total (min, med, max (stageId: taskId))\n1.6 s (0.1 s, 0.4 s, 0.9 s (stage 3.0: task 7))"
    ) == pytest.approx(1.6)
    with pytest.raises(ValueError):
        sql_metric_value("n/a")


def test_plan_shape_counts_nodes_and_exchanges():
    tree = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
   +- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
      +- *(1) BroadcastHashJoin [a#3], [b#4], Inner, BuildRight
         :- FileScan parquet [a#3]
         +- BroadcastExchange HashedRelationBroadcastMode(List(b#4)), [plan_id=7]
            +- !ArrowEvalPython [f(b#4)#9], [pythonUDF0#10], 200
"""
    assert plan_shape(tree) == {"plan.nodes": 7, "plan.exchanges": 1, "plan.broadcasts": 1}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        {"id": 1, "parent": 0, "name": "p", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "name": "c", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "name": "c", "start": 3.0, "end": 5.0},
    ]
    assert self_times(spans) == {"p": pytest.approx(6.0), "c": pytest.approx(5.0)}


def test_stop_spark_ends_the_gateway_and_what_it_started(monkeypatch):
    import subprocess
    import time
    import types

    from pyspark import SparkContext

    # a stand-in gateway: exits at EOF on stdin, as the JVM's does, and
    # leaves a child behind that only a kill ends
    jvm = subprocess.Popen(["sh", "-c", "sleep 300 & exec cat"], stdin=subprocess.PIPE)
    monkeypatch.setattr(SparkContext, "_gateway", types.SimpleNamespace(proc=jvm))
    deadline = time.monotonic() + 10
    while len(run._descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.01)
    procs = run._descendants()
    assert len(procs) == 2
    run.stop_spark(None, grace_s=0.5)
    assert jvm.returncode is not None
    assert not any(run._alive(p, s) for p, s in procs.items())
