"""Run one workload of the flexcalc_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

A closed loop in a fresh process: one client thread issues one call at a
time on ``local[nproc]``, each call being ``registry.QUERIES[key](spark,
sf_dir)`` followed by a noop write. Set-up (session start,
``registry.load_all()``, package shipping and the workload's untimed warm
passes over every key) is timed as ``setup_s``; off the clock, the first
warm pass collects each key's result for the output check, which runs
each query's plan a second time before the timed passes. Timed passes then run
whole, each in the seed's key order, until ``--seconds`` of call time
have passed, at least ``MIN_PASSES`` passes and at least 11 calls were
made, so the tail percentile keeps 10 samples beyond it. Before each
call the cached relations and Python garbage of the last one are
cleared, off the clock. Rows-only keys must return the warm pass's row
count on every timed call. The results of oracle-backed keys are
collected, off the clock, from the warm pass and every timed call from pass
``MIN_PASSES - 1`` on (each key's last call when the loop stops after
``MIN_PASSES`` passes); at the end each is compared with DuckDB's. A key
that fails a check fails all its timed calls. Before it checks against
DuckDB, the run stops the session and waits until the Spark JVM and the
Python workers it forked have ended.

``--trace 1`` alternates traced and untraced calls and reports the
per-layer metrics (README.md) instead of the end-to-end ones. The last
line of stdout is the result object; the line before it holds
diagnostics (box record, set-up split, per-key times, check outcomes).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_CALLS = 11
# timed passes at least, whatever --seconds asks; even, so a traced run
# gives each key as many traced as untraced calls
MIN_PASSES = 2
DRIVER_MEM = "2g"

sys.path.insert(0, HERE)

from check import Oracle, canon_frame  # noqa: E402
from workloads import WORKLOADS, pass_orders  # noqa: E402


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that keeps at least
    ten samples beyond it: the 11th largest sample, at nearest-rank
    percentile 100 * (n - 10) / n."""
    n = len(samples)
    if n < MIN_CALLS:
        raise ValueError(f"need at least {MIN_CALLS} samples, got {n}")
    return sorted(samples)[n - MIN_CALLS], 100.0 * (n - 10) / n


class Checker:
    """Output checks, kept off the clock. The warm pass records each
    key's first result. Timed calls of rows-only keys must repeat its
    row count; the results of the other keys' timed calls from pass
    ``checked_from`` on are collected, and ``against`` compares them and
    the warm result with the oracle."""

    def __init__(self, rows_only: set[str], checked_from: int):
        self.rows_only = rows_only
        self.checked_from = checked_from
        self.bad: dict[str, str] = {}
        self._rows: dict[str, int] = {}
        self._results: dict[str, list[tuple[str, object]]] = {}

    def warm(self, key: str, pdf) -> None:
        if key in self.rows_only:
            self._rows[key] = len(pdf)
        else:
            self._results[key] = [("warm pass", canon_frame(pdf))]

    def fail(self, key: str, reason: str) -> None:
        self.bad.setdefault(key, reason[:300])

    def after_call(self, key: str, pass_no: int, df) -> None:
        if key in self.rows_only:
            n = df.count()
            if n != self._rows.get(key):
                self.fail(key, f"pass {pass_no}: row count {n} != warm pass {self._rows.get(key)}")
        elif pass_no >= self.checked_from:
            self._results.setdefault(key, []).append(
                (f"pass {pass_no}", canon_frame(df.toPandas())))

    def against(self, oracle: Oracle) -> None:
        for key, results in self._results.items():
            for label, got in results:
                reason = oracle.mismatch(key, got)
                if reason:
                    self.fail(key, f"{label}: {reason}")
                    break


def closed_loop(orders, call, after_call, seconds: float, min_passes: int = 1,
                after_pass=None) -> list[dict]:
    """Issue whole passes of ``call(key, pass_no) -> (df, wall_s)`` until
    ``seconds`` of call time, ``MIN_CALLS`` calls and ``min_passes``
    passes are reached. A call that raises is recorded with its error;
    ``after_call(key, pass_no, df)`` runs off the clock after each call
    (``df`` is None when the call raised)."""
    calls: list[dict] = []
    busy = 0.0
    pass_no = 0
    while busy < seconds or len(calls) < MIN_CALLS or pass_no < min_passes:
        for key in next(orders):
            df, error = None, None
            t0 = time.perf_counter()
            try:
                df, wall = call(key, pass_no)
            except Exception as exc:
                wall = time.perf_counter() - t0
                error = f"{type(exc).__name__}: {exc}"[:300]
                traceback.print_exc()
            busy += wall
            calls.append({"key": key, "pass": pass_no, "wall_s": wall, "error": error})
            after_call(key, pass_no, df)
        if after_pass:
            after_pass(pass_no)
        pass_no += 1
    return calls


def end_to_end(calls: list[dict], bad: dict, setup_s: float, heap_mb: float) -> dict:
    """The end-to-end metrics as {name: (value, unit)}; marks each call
    ``ok`` (returned, and its key passed every check)."""
    for c in calls:
        c["ok"] = c["error"] is None and c["key"] not in bad
    walls = [c["wall_s"] for c in calls]
    ok = sum(c["ok"] for c in calls)
    return {
        "queries_per_s": (ok / sum(walls), "1/s"),
        "query_s_p50": (statistics.median(walls), "s"),
        "query_s_tail": (tail_latency(walls)[0], "s"),
        "pass_frac": (ok / len(calls), "ratio"),
        "setup_s": (setup_s, "s"),
        "driver_heap_mb": (heap_mb, "MiB"),
    }


def _isolate(work: str) -> None:
    """Keep every file Spark, its Python workers and the keys write under
    ``work`` (keys write through tempfile.gettempdir())."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _cpu_times() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_frac(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: on a VM, load average counts only this guest's work."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _descendants() -> dict[int, str]:
    """{pid: start time} of every live process below this one, read from
    /proc: the Spark JVM and the Python workers it forks."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
            started[int(entry)] = fields[19]
    found: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            found[pid] = started[pid]
            todo.append(pid)
    return found


def _alive(pid: int, started: str) -> bool:
    """Whether ``pid`` is still the process that started at ``started``
    and has not ended (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == started


def stop_spark(spark, grace_s: float = 30.0) -> None:
    """Stop the session, end the JVM behind it and wait until it and
    every process it started have ended; what is still running after
    ``grace_s`` is killed. Left alone, the JVM notices its closed stdin
    only after this process has exited and outlives it."""
    from pyspark import SparkContext

    procs = _descendants()
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs.update(_descendants())
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway server exits at EOF on its stdin
            try:
                jvm.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + grace_s
        while True:
            procs = {p: s for p, s in procs.items() if _alive(p, s)}
            if not procs:
                break
            if time.monotonic() > deadline:
                for pid in procs:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def _noop_call(spark, fn, sf_dir):
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return df, time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    from bench import _box_control
    from flexcalc_spark import registry, tables
    from flexcalc_spark.session import get_session

    from tracing import Tracer, heap_live_mb, layer_metrics

    wl = WORKLOADS[workload]
    sf_dir = os.path.join(HERE, "data", wl.scale)
    nproc = len(os.sched_getaffinity(0))
    loadavg_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    tracer = Tracer() if trace else None
    if tracer:
        tracer.install(tables)  # before load_all: operators bind by name

    # each key alternates traced and untraced calls, half the keys
    # starting traced: both sets hold every key equally often and the
    # same share of early (still warming) passes
    position = {k: i for i, k in enumerate(wl.keys)}

    def traced(key: str, pass_no: int) -> bool:
        return trace and (position[key] + pass_no) % 2 == 0

    t0 = time.perf_counter()
    spark = None
    try:
        spark = get_session(app="flexcalc-perfbench", cpus=nproc,
                            shuffle_partitions=2 * nproc)
        session_s = time.perf_counter() - t0
        registry.load_all()
        missing = [k for k in wl.keys if k not in registry.QUERIES]
        if missing:
            raise SystemExit(f"keys not registered: {missing}")
        if tracer:
            tracer.attach(spark)
        checker = Checker({k for k in wl.keys if k not in registry.ORACLES},
                          checked_from=MIN_PASSES - 1)
        orders = pass_orders(wl.keys, seed)
        off_clock = 0.0
        for warm_no in range(wl.warm_passes):
            for key in next(orders):
                try:
                    df, _ = _noop_call(spark, registry.QUERIES[key], sf_dir)
                    if warm_no == 0:
                        t_check = time.perf_counter()
                        checker.warm(key, df.toPandas())
                        off_clock += time.perf_counter() - t_check
                except Exception as exc:
                    traceback.print_exc()
                    checker.fail(key, f"warm call raised {type(exc).__name__}: {exc}")
        # held, the last warm call's DataFrame would pin its checkpointed
        # blocks through the timed passes (26 MiB of heap after q_pagerank)
        df = None
        setup_s = time.perf_counter() - t0 - off_clock

        def call(key, pass_no):
            fn = registry.QUERIES[key]
            if tracer:
                tracer.active = traced(key, pass_no)
                if tracer.active:
                    return tracer.call(spark, key, fn, sf_dir)
            return _noop_call(spark, fn, sf_dir)

        def settle():
            # each call starts from the same state: no cached relations or
            # unreachable DataFrames of the previous call (bench.py clears
            # the cache before every timed call too)
            spark.catalog.clearCache()
            gc.collect()

        def after_call(key, pass_no, df):
            if tracer:
                tracer.active = False
            if df is not None:
                try:
                    checker.after_call(key, pass_no, df)
                except Exception as exc:
                    checker.fail(key, f"check raised {type(exc).__name__}: {exc}")
            settle()

        heap_per_pass: list[float] = []
        settle()
        calls = closed_loop(
            orders, call, after_call, seconds,
            min_passes=MIN_PASSES,
            after_pass=(lambda _: heap_per_pass.append(heap_live_mb(spark))) if trace else None,
        )
        heap_mb = heap_live_mb(spark)
        box = _box_control(spark) if trace else {}
    finally:
        stop_spark(spark)

    oracle = Oracle(sf_dir, tables.TABLES, registry.ORACLES, nproc)
    try:
        checker.against(oracle)
    finally:
        oracle.close()

    metrics = end_to_end(calls, checker.bad, setup_s, heap_mb)
    errors = [c for c in calls if c["error"]]
    diag = {
        "workload": workload, "seed": seed, "scale": wl.scale, "trace": trace,
        "box": {"nproc": nproc, "loadavg_1m_start": loadavg_start,
                "loadavg_1m_end": os.getloadavg()[0],
                "cpu_steal_frac": _steal_frac(cpu_start, _cpu_times()), **box},
        "setup": {"session_s": session_s, "setup_s": setup_s},
        "calls": len(calls),
        "pass_s": [sum(c["wall_s"] for c in calls if c["pass"] == p)
                   for p in range(calls[-1]["pass"] + 1)],
        "query_s_tail_percentile": tail_latency([c["wall_s"] for c in calls])[1],
        "key_median_s": {
            k: statistics.median(c["wall_s"] for c in calls if c["key"] == k)
            for k in wl.keys
        },
        "check_failures": checker.bad,
        "call_errors": errors,
    }
    if trace:
        on = [c for c in calls if traced(c["key"], c["pass"])]
        off = [c for c in calls if not traced(c["key"], c["pass"])]
        metrics = layer_metrics(tracer, on, off, heap_per_pass)
        out_dir = os.path.join(HERE, ".work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
        with open(path, "w") as f:
            json.dump({"diagnostics": diag, "calls": calls, "traced_calls": tracer.call_counts,
                       "spans": tracer.spans,
                       "metrics": {k: v for k, (v, _) in metrics.items()}}, f)
        diag["trace_file"] = os.path.relpath(path, ROOT)
    result = {
        "correct": not checker.bad and not errors,
        "attempted": len(calls),
        "failed": sum(not c["ok"] for c in calls),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, diag


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    # a terminated run still unwinds through stop_spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    _isolate(work)
    try:
        result, diag = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
