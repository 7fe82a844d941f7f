"""One probe for any key list at any fixture scale.

    python scripts/probe.py [KEY ...] --sf DIR [--runs N]
        Per key, per layer: the wall MIN over N traced calls, with the
        best call's counts (jobs, stages, tasks, shuffle and Python-worker
        bytes, plan shape) and span self-times (construction, scans, plan
        memo, optimize, physical planning, write), as perfbench traces them.
        With N >= 2, also driver.retained_mb_per_call: the driver's live
        heap (perfbench.tracing.heap_live_mb) after the last call minus
        after the first, over N - 1 — what each call leaves behind.
    python scripts/probe.py [KEY ...] --sf DIR [--runs N] --ab TREE
        Interleaved A/B of this tree against the source tree TREE (a
        checkout of another commit): N rounds, each running both trees in
        fresh child processes (3 untraced calls per key each), the first
        tree alternating. Reports every timed call, each side's per-key
        MIN and their ratio, the paired ratio of each round (this tree's
        MIN over the other's in that round) and the median of those,
        whether the canonical plans are equal
        (flexcalc_spark.plans.canonical_plan) and, if not, a diff of the
        plans with their ids taken out.
    python scripts/probe.py --window --sf DIR
        The graded window: the first 50 keys of __spark_entry__.queries(),
        each run and checked against DuckDB in a vanilla session, timed
        from the call to the compared result.
    python scripts/probe.py --plans --sf DIR
        Writes PLANS.json (flexcalc_spark.plans.plan_manifest) from a
        fresh local[8] session with 8 shuffle partitions, the session of
        the test suite, whose tests/test_plan_manifest.py diffs it.

No key means every registered key. Timing sessions are perfbench's:
local[nproc] with 2 x nproc shuffle partitions. A child starts its JVM in
its tree's directory (Python workers import from that cwd ahead of the
shipped package) and runs WARM_KEY and one Python worker per core first. Calls run end to end,
construction included, into the noop sink; the cache is cleared between
calls. A run over many keys starts a fresh child process per 90 keys: one
JVM running a whole sweep accumulated enough state to die of a broadcast
OOM near its tail. The last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import difflib
import gc
import json
import multiprocessing
import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Only perfbench and pyspark at import time: an A/B child must put its own
# tree first on sys.path before anything imports flexcalc_spark.
from perfbench.check import Oracle, canon_frame  # noqa: E402
from perfbench.run import stop_spark  # noqa: E402
from perfbench.tracing import Tracer, heap_live_mb, self_times  # noqa: E402

CHUNK = 90
WINDOW = 50
WARM_KEY = "q_agg_groupby"  # first call of a session: JVM and codegen warm-up
AB_RUNS_PER_ROUND = 3  # timed calls per key in each child of an A/B round
NPROC = len(os.sched_getaffinity(0))
PLANS_PATH = os.path.join(ROOT, "PLANS.json")


def _session(tree: str, cpus: int = NPROC, shuffle: int = 2 * NPROC):
    # Python workers import from their cwd (sys.path[0]) before the
    # shipped package zip, and they inherit the JVM's cwd: start it in
    # ``tree`` so each A/B arm's workers run that arm's code
    os.chdir(tree)
    sys.path.insert(0, tree)
    from flexcalc_spark import registry
    from flexcalc_spark.session import get_session

    spark = get_session(app="flexcalc-probe", cpus=cpus, shuffle_partitions=shuffle)
    registry.load_all()
    return spark, registry.QUERIES


def _noop(spark, fn, sf_dir: str):
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return df


def _warm(spark, queries, sf_dir: str) -> None:
    """First calls of a session: WARM_KEY warms the JVM and codegen, and
    one identity mapInPandas over NPROC partitions starts a Python worker
    per core, so no timed Arrow key pays a worker start."""
    _noop(spark, queries[WARM_KEY], sf_dir)
    warm = spark.range(NPROC, numPartitions=NPROC).mapInPandas(lambda it: it, "id long")
    warm.write.format("noop").mode("overwrite").save()


def _settle(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()  # frees the previous call's checkpoint blocks too


def _error(exc: Exception) -> dict:
    traceback.print_exc()
    return {"error": f"{type(exc).__name__}: {exc}"[:300]}


def _traced(keys: list[str], sf_dir: str, runs: int) -> dict:
    """Child: ``runs`` traced calls per key in one session; per key the
    fastest call's counts and span self-times, every call's wall and,
    for ``runs`` >= 2, the live heap each call retained."""
    from flexcalc_spark import tables

    tracer = Tracer()
    tracer.install(tables)  # before load_all: operator modules bind by name
    spark = None
    try:
        spark, queries = _session(ROOT)
        tracer.attach(spark)
        _warm(spark, queries, sf_dir)
        out = {}
        for key in keys:
            walls, heaps, best = [], [], None
            try:
                for i in range(runs):
                    _settle(spark)
                    counts0, spans0 = dict(tracer.counts), len(tracer.spans)
                    tracer.active = True
                    _, wall = tracer.call(spark, key, queries[key], sf_dir)
                    tracer.active = False
                    walls.append(wall)
                    if best is None or wall < best["wall_s"]:
                        best = {k: v - counts0.get(k, 0.0) for k, v in tracer.counts.items()
                                if v != counts0.get(k, 0.0)}
                        best.update(wall_s=wall, self_s=self_times(tracer.spans[spans0:]))
                    if runs >= 2 and i in (0, runs - 1):
                        heaps.append(heap_live_mb(spark))
            except Exception as exc:  # noqa: BLE001 — one key's failure is its result
                tracer.active = False
                out[key] = _error(exc)
                continue
            out[key] = {**best, "runs_s": walls}
            if heaps:
                out[key]["driver.retained_mb_per_call"] = (heaps[1] - heaps[0]) / (runs - 1)
        return out
    finally:
        stop_spark(spark)


def _timed(keys: list[str], sf_dir: str, tree: str) -> dict:
    """Child of one A/B arm: untraced calls of ``tree``'s keys (its tree
    may predate the layer functions the tracer wraps) and the raw
    formatted plan of each key's last call."""
    spark = None
    try:
        spark, queries = _session(tree)
        from flexcalc_spark.plans import plan_text

        _warm(spark, queries, sf_dir)
        out = {}
        for key in keys:
            times = []
            try:
                for _ in range(AB_RUNS_PER_ROUND):
                    _settle(spark)
                    t0 = time.perf_counter()
                    df = _noop(spark, queries[key], sf_dir)
                    times.append(time.perf_counter() - t0)
                out[key] = {"runs_s": times, "plan": plan_text(df)}
            except Exception as exc:  # noqa: BLE001
                out[key] = _error(exc)
            df = None
        return out
    finally:
        stop_spark(spark)


def _window(keys: list[str], sf_dir: str) -> dict:
    """Child: the graded check of each key in a vanilla session —
    toPandas, then the DuckDB oracle (rows only for keys without one)."""
    from pyspark.sql import SparkSession

    import __spark_entry__ as ent
    from flexcalc_spark.tables import TABLES

    queries, oracles = ent.queries(), ent.oracle_sql()
    oracle = Oracle(sf_dir, TABLES, oracles, NPROC)
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        for key in keys:
            t0 = time.perf_counter()
            try:
                got = canon_frame(queries[key](spark, sf_dir).toPandas())
                result = (oracle.mismatch(key, got) or "MATCH") if key in oracles \
                    else f"rows-only, {len(got[1])} rows"
            except Exception as exc:  # noqa: BLE001
                result = _error(exc)["error"]
            out[key] = {"wall_s": time.perf_counter() - t0, "result": result}
            _settle(spark)
    finally:
        stop_spark(spark)
        oracle.close()
    return out


def in_children(fn, keys: list[str], *args) -> dict:
    """``fn(chunk, *args)`` in a fresh interpreter per CHUNK keys, one at
    a time (two JVMs would contend for the cores being timed); the merged
    per-key results. A child that dies fails its chunk's keys."""
    out: dict = {}
    ctx = multiprocessing.get_context("spawn")
    for i in range(0, len(keys), CHUNK):
        chunk = keys[i:i + CHUNK]
        try:
            with ProcessPoolExecutor(1, mp_context=ctx) as pool:
                out.update(pool.submit(fn, chunk, *args).result())
        except Exception as exc:  # noqa: BLE001
            out.update({k: _error(exc) for k in chunk})
    return out


def ab(keys: list[str], sf_dir: str, rounds: int, tree: str) -> dict:
    from flexcalc_spark.plans import canonical_plan, strip_volatile

    arms = {"this": ROOT, "other": os.path.abspath(tree)}
    runs: dict = {arm: {k: [] for k in keys} for arm in arms}
    round_mins: dict = {arm: {k: [] for k in keys} for arm in arms}
    plans: dict = {arm: {} for arm in arms}
    for rnd in range(rounds):
        for arm in list(arms)[::1 if rnd % 2 == 0 else -1]:
            for key, res in in_children(_timed, keys, sf_dir, arms[arm]).items():
                runs[arm][key].extend(res.get("runs_s", []))
                round_mins[arm][key].append(min(res.get("runs_s") or [None]))
                plans[arm][key] = res.get("plan", res.get("error"))
            print(f"round {rnd} {arm}: " + " ".join(
                f"{k}={v[-1]:.3f}" for k, v in round_mins[arm].items() if v[-1] is not None),
                file=sys.stderr)
    out = {}
    for key in keys:
        mins = {arm: min(runs[arm][key], default=None) for arm in arms}
        # one fast arm decides the MIN ratio; the median of the rounds'
        # paired ratios does not
        paired = [t / o for t, o in zip(round_mins["this"][key], round_mins["other"][key])
                  if t is not None and o is not None]
        a, b = plans["this"][key], plans["other"][key]
        equal = canonical_plan(a, sf_dir) == canonical_plan(b, sf_dir)
        out[key] = {
            "runs_s": {arm: runs[arm][key] for arm in arms},
            "min_s": mins,
            "ratio": mins["this"] / mins["other"] if None not in mins.values() else None,
            "round_ratios": paired,
            "median_ratio": statistics.median(paired) if paired else None,
            "plans_equal": equal,
            "plan_diff": [] if equal else list(difflib.unified_diff(
                strip_volatile(b, sf_dir).splitlines(),
                strip_volatile(a, sf_dir).splitlines(), "other", "this", lineterm="")),
        }
    return {"trees": arms, "sf": sf_dir, "rounds": rounds, "keys": out}


def window(sf_dir: str) -> dict:
    import __spark_entry__ as ent

    keys = list(ent.queries())[:WINDOW]
    res = in_children(_window, keys, sf_dir)
    fails = [k for k, r in res.items()
             if not r.get("result", "").startswith(("MATCH", "rows-only"))]
    return {"keys": res, "total_s": sum(r.get("wall_s", 0.0) for r in res.values()),
            "result": f"FAILS: {fails}" if fails else "ALL MATCH"}


def write_plans(sf_dir: str) -> dict:
    from flexcalc_spark.plans import plan_manifest

    spark = None
    try:
        spark, _ = _session(ROOT, cpus=8, shuffle=8)
        manifest = plan_manifest(spark, sf_dir)
    finally:
        stop_spark(spark)
    with open(PLANS_PATH, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    errors = {k: v["error"] for k, v in manifest["plans"].items() if "error" in v}
    return {"path": PLANS_PATH, "keys": len(manifest["plans"]), "errors": errors}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0],
                                 formatter_class=argparse.RawDescriptionHelpFormatter,
                                 epilog=__doc__.split("\n\n", 1)[1])
    ap.add_argument("keys", nargs="*", help="registered keys (default: all)")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--runs", type=int, default=3,
                    help="traced calls per key, or A/B rounds (default 3)")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--ab", metavar="TREE", help="A/B against this source tree")
    mode.add_argument("--window", action="store_true", help="the graded window")
    mode.add_argument("--plans", action="store_true", help="write PLANS.json")
    args = ap.parse_args(argv)
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    if not os.path.isdir(args.sf):
        ap.error(f"no fixture directory {args.sf}")
    sf_dir = os.path.abspath(args.sf)
    if (args.window or args.plans) and args.keys:
        ap.error("--window and --plans take no key list")
    if args.ab and not os.path.isdir(os.path.join(args.ab, "flexcalc_spark")):
        ap.error(f"{args.ab} holds no flexcalc_spark source tree")
    if args.window:
        result = window(sf_dir)
        failed = result["result"] != "ALL MATCH"
    elif args.plans:
        result = write_plans(sf_dir)
        failed = bool(result["errors"])
    else:
        from flexcalc_spark import registry

        registry.load_all()
        unknown = [k for k in args.keys if k not in registry.QUERIES]
        if unknown:
            ap.error(f"unknown keys: {unknown}")
        keys = args.keys or list(registry.QUERIES)
        if args.ab:
            result = ab(keys, sf_dir, args.runs, args.ab)
            failed = any(None in r["min_s"].values() for r in result["keys"].values())
        else:
            result = in_children(_traced, keys, sf_dir, args.runs)
            failed = any("error" in r for r in result.values())
    print(json.dumps(result, sort_keys=True))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
