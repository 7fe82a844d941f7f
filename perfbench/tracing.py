"""Traced-run instrumentation, all from the benchmark's side.

Spans wrap the calls into each layer's public functions: the query
construction (``operators``), ``tables.table`` and
``tables.session_plan_memo``, the query's own optimize and physical
planning (``plan``) and the noop write (``exec``). Counts come from
Spark's status stores, read after each call: jobs are attributed to a
call by the job ids started inside its time window (streaming drains run
jobs on other threads, outside any job group), stages through
``statusStore().lastStageAttempt(id)``. Spans stay in memory until the
run writes them out.
"""

from __future__ import annotations

import functools
import gc
import itertools
import re
import threading
import time
import weakref
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming.listener import StreamingQueryListener

# Python eval nodes carry these SQL metrics (PythonSQLMetrics); their
# "number of output rows" is the rows the Python workers returned.
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_ROWS = "number of output rows"
_PY_PLAN = re.compile(r"Python|Pandas|InArrow")

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1,
}
_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def sql_metric_value(text: str) -> float:
    """Total of a formatted SQL metric: ``"10,000"``, ``"189.2 KiB"``,
    ``"1.6 s"``, or the multi-task form whose first line is the
    ``total (min, med, max ...)`` header and whose second starts with the
    total. Sizes come back in bytes, times in seconds."""
    lines = text.strip().splitlines()
    body = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _NUM.match(body.strip())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def plan_shape(tree: str) -> dict[str, int]:
    """Node, shuffle-exchange and broadcast-exchange counts of a
    physical plan's tree string."""
    nodes = exchanges = broadcasts = 0
    for line in tree.splitlines():
        m = re.match(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?!?([A-Za-z]\w*)", line)
        if not m:
            continue
        nodes += 1
        exchanges += m.group(1) == "Exchange"
        broadcasts += m.group(1) == "BroadcastExchange"
    return {"plan.nodes": nodes, "plan.exchanges": exchanges,
            "plan.broadcasts": broadcasts}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name, the summed duration not covered by child spans."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


class _StreamCounts(StreamingQueryListener):
    """Sums micro-batch progress of every streaming query."""

    def __init__(self, sink: "Tracer"):
        self._sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self._sink.add({
            "streaming.batches": 1,
            "streaming.input_rows": p.numInputRows,
            "streaming.state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "streaming.batch_s": p.batchDuration / 1000.0,
        })


class Tracer:
    """Spans and counts of one traced run.

    ``install`` must run before ``registry.load_all()``: operator modules
    bind ``table`` and ``session_plan_memo`` by name at import, so a
    wrapper installed later would see no calls. Helpers inside
    ``tables`` (``table_parallel``, ``events_with_time``) reach ``table``
    through the module global, so their scans nest too.
    """

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.call_counts: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_top = 0  # innermost open span of the calling thread
        self._call_id = 0
        self._scans = weakref.WeakValueDictionary()

    # -- spans ---------------------------------------------------------

    def add(self, counts: dict[str, float]) -> None:
        if not self.active:
            return
        with self._lock:
            for k, v in counts.items():
                self.counts[k] += v

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else self._main_top
        rec = {"id": sid, "parent": parent, "call": self._call_id,
               "name": name, "start": time.perf_counter(), "end": None}
        stack.append(sid)
        if main:
            self._main_top = sid
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if main:
                self._main_top = stack[-1] if stack else 0
            with self._lock:
                self.spans.append(rec)

    # -- layer wrappers ------------------------------------------------

    def install(self, tables) -> None:
        table, plan_memo = tables.table, tables.session_plan_memo

        @functools.wraps(table)
        def traced_table(spark, sf_dir, name):
            with self.span("tables.table"):
                df = table(spark, sf_dir, name)
            hit = self._scans.get(id(df)) is df
            self._scans[id(df)] = df
            self.add({"tables.scan_calls": 1, "tables.scan_hits": hit})
            return df

        @functools.wraps(plan_memo)
        def traced_plan_memo(spark, dep_path, tag, builder):
            built = []

            def counting_builder():
                built.append(True)
                return builder()

            with self.span("tables.session_plan_memo"):
                val = plan_memo(spark, dep_path, tag, counting_builder)
            self.add({"tables.plan_memo_calls": 1,
                      "tables.plan_memo_hits": not built})
            return val

        tables.table = traced_table
        tables.session_plan_memo = traced_plan_memo

    def attach(self, spark) -> None:
        """Bind the status stores of ``spark`` and listen to streaming
        progress."""
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_stages: set[int] = set()
        spark.streams.addListener(_StreamCounts(self))

    # -- one call ------------------------------------------------------

    def call(self, spark, key, fn, sf_dir):
        """Run one traced call; returns (DataFrame, wall seconds). The
        status-store reads happen after the wall clock stops; the call's
        counts are kept per call for the trace file."""
        self._call_id += 1
        # SQL executions of earlier, untraced calls are not this call's
        self._bus.waitUntilEmpty()
        self._sql_seen = self._last_execution_id()
        jobs0 = self._dag.numTotalJobs()
        t0 = time.perf_counter()
        with self.span("call"):
            cpu0 = time.process_time()
            with self.span("operators.construct"):
                df = fn(spark, sf_dir)
            cpu = time.process_time() - cpu0
            jobs1 = self._dag.numTotalJobs()
            qe = df._jdf.queryExecution()
            with self.span("plan.optimize"):
                qe.optimizedPlan()
            with self.span("plan.physical"):
                tree = qe.executedPlan().treeString()
            with self.span("exec.write"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs2 = self._dag.numTotalJobs()
        self._bus.waitUntilEmpty()
        before = dict(self.counts)
        self.add({"operators.construct_cpu_s": cpu,
                  "operators.construct_jobs": jobs1 - jobs0,
                  **plan_shape(tree)})
        self.add(self._job_counts(jobs0, jobs2))
        self.add(self._python_counts())
        self.call_counts.append({
            "call": self._call_id, "key": key, "wall_s": wall,
            **{k: v - before.get(k, 0.0) for k, v in self.counts.items()
               if v != before.get(k, 0.0)},
        })
        return df, wall

    def _job_counts(self, lo: int, hi: int) -> dict[str, float]:
        c: dict[str, float] = defaultdict(float)
        c["exec.jobs"] = hi - lo
        for jid in range(lo, hi):
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += st.numTasks()
                c["exec.task_run_s"] += st.executorRunTime() / 1e3
                c["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
                c["exec.gc_s"] += st.jvmGcTime() / 1e3
                c["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                c["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["exec.failed_tasks"] += st.numFailedTasks()
                c["exec.input_bytes"] += st.inputBytes()
                c["exec.output_bytes"] += st.outputBytes()
        return c

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def _python_counts(self) -> dict[str, float]:
        """SQL metrics of the Python eval nodes of every SQL execution
        that started since the call began."""
        c: dict[str, float] = defaultdict(float)
        i = self._sql.executionsCount() - 1
        while i >= 0:
            e = self._sql.executionsList(i, 1).apply(0)
            if e.executionId() <= self._sql_seen:
                break
            if _PY_PLAN.search(e.physicalPlanDescription()):
                self._python_execution(e.executionId(), c)
            i -= 1
        return c

    def _python_execution(self, eid: int, c: dict[str, float]) -> None:
        names = {_PY_SENT: "python_worker.bytes_sent",
                 _PY_RECEIVED: "python_worker.bytes_received",
                 _PY_RUN: "python_worker.run_s",
                 _ROWS: "python_worker.rows"}
        acc: dict[int, str] = {}
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            ms = nodes.apply(i).metrics()
            named = {ms.apply(k).name(): ms.apply(k).accumulatorId()
                     for k in range(ms.size())}
            if _PY_SENT in named:
                for name, metric in names.items():
                    if name in named:
                        acc[named[name]] = metric
        values = self._sql.executionMetrics(eid)
        for acc_id, metric in acc.items():
            v = values.get(acc_id)
            if v.isDefined():
                c[metric] += sql_metric_value(v.get())


def heap_live_mb(spark, rounds: int = 4) -> float:
    """Driver JVM heap in use after forced full collections. Python
    collects first so dropped DataFrames release their JVM objects; the
    JVM's context cleaner then frees checkpoint and broadcast blocks
    asynchronously, so the lowest of a few rounds is reported."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(rounds):
        gc.collect()
        jvm.java.lang.System.gc()
        used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.5)
    return min(used)


def layer_metrics(tracer: Tracer, traced: list[dict], untraced: list[dict],
                  heap_per_pass: list[float]) -> dict:
    """The per-layer metrics as {name: (value, unit)}. Times are self
    times and counts are means per traced call; hit ratios are over the
    traced calls' wrapper calls (0 when the layer was not called)."""
    n = len(traced)
    selfs = self_times(tracer.spans)
    cnt = tracer.counts

    def per_call(key: str) -> float:
        return cnt.get(key, 0.0) / n

    def ratio(hits: str, total: str) -> float:
        return cnt.get(hits, 0.0) / cnt[total] if cnt.get(total) else 0.0

    def qps(calls: list[dict]) -> float:
        return sum(c["ok"] for c in calls) / sum(c["wall_s"] for c in calls)

    m = {
        "operators.construct_s": (selfs.get("operators.construct", 0.0) / n, "s"),
        "tables.scan_s": (selfs.get("tables.table", 0.0) / n, "s"),
        "tables.scan_memo_hit_ratio": (ratio("tables.scan_hits", "tables.scan_calls"), "ratio"),
        "tables.plan_memo_s": (selfs.get("tables.session_plan_memo", 0.0) / n, "s"),
        "tables.plan_memo_hit_ratio": (ratio("tables.plan_memo_hits", "tables.plan_memo_calls"), "ratio"),
        "plan.optimize_s": (selfs.get("plan.optimize", 0.0) / n, "s"),
        "plan.physical_s": (selfs.get("plan.physical", 0.0) / n, "s"),
        "exec.s": (selfs.get("exec.write", 0.0) / n, "s"),
    }
    for key, unit in (
        ("operators.construct_jobs", "count"), ("operators.construct_cpu_s", "s"),
        ("tables.scan_calls", "count"), ("tables.plan_memo_calls", "count"),
        ("plan.nodes", "count"), ("plan.exchanges", "count"), ("plan.broadcasts", "count"),
        ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
        ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
        ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
        ("exec.spill_bytes", "B"), ("exec.failed_tasks", "count"),
        ("exec.input_bytes", "B"), ("exec.output_bytes", "B"),
        ("streaming.batches", "count"), ("streaming.input_rows", "count"),
        ("streaming.state_rows", "count"), ("streaming.batch_s", "s"),
        ("python_worker.rows", "count"), ("python_worker.bytes_sent", "B"),
        ("python_worker.bytes_received", "B"), ("python_worker.run_s", "s"),
    ):
        m[key] = (per_call(key), unit)
    m["driver.heap_live_mb"] = (heap_per_pass[-1], "MiB")
    m["driver.heap_growth_mb"] = (heap_per_pass[-1] - heap_per_pass[0], "MiB")
    m["trace.queries_per_s"] = (qps(traced), "1/s")
    m["trace.untraced_queries_per_s"] = (qps(untraced), "1/s")
    m["trace.overhead_ratio"] = (qps(untraced) / qps(traced), "ratio")
    return m
