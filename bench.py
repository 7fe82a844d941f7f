"""Benchmark harness — the driver runs this per round (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {key: sec, ...}, "sf": ...}.

Execution via the noop sink: every operator in the plan executes and
every output row materializes, but nothing is collected to the driver —
the honest way to time a distributed plan.

The emitted line also carries ``box_control`` — three fixed synthetic
probes (JVM codegen agg, interpreted HOF eval, Python loop) timed on the
same box in the same session, so cross-round query-time trends can be
normalized for box conditions before being read as regressions (rounds
8-9 measured ~2-4.8x same-code swings). For a deliberate code-vs-code
adjudication, use the interleaved fresh-process A/B of
``scripts/probe.py --ab``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flexcalc_spark import registry
from flexcalc_spark.session import get_session

# Headline set: one representative per family, weighted toward the
# shapes that dominate a 100 TB run (wide agg, star join, window top-k,
# sketch dedup, ANN, event-time).
HEADLINE = [
    "q_agg_groupby",        # TPC-H Q1 hash agg
    "q_agg_stats",          # central moments
    "q_join_multiway",      # 5-way star join
    "q_join_asof",          # windowed as-of join
    "q_join_range",         # interval self-join
    "q_win_topk_group",     # per-group top-k window
    "q_topk",               # global TakeOrderedAndProject
    "q_explode",            # tokenize + word count
    "q_map_json",           # JSON extraction
    "q_dedup_exact",        # content-hash dedup
    "q_dedup_minhash",      # MinHash-LSH near-dup
    "q_knn_cosine",         # brute-force ANN baseline
    "q_knn_lsh",            # LSH-bucketed ANN
    "q_centroids",          # per-label embedding centroids
    "q_sessionize",         # gap sessionization window
    "q_window_tumbling",    # event-time tumbling agg
    "q_udaf_grouped",       # Arrow grouped-agg UDF
    "q_ct_moments",         # CT weighted moments (voxel table)
]

# The most expensive keys graded since round 4 (VERDICT r5 #7): timed
# and reported alongside the headline set so bench visibility tracks
# where the wall-clock actually goes, while "value" stays the
# round-1-comparable headline total.
HEAVY = [
    "q_pagerank",           # iterative edge-join (cached edge table)
    "q_dedup_embed_lsh",    # hyperplane-banded embedding dedup
    "q_dedup_embed_lsh_wide",  # 4x16+multiprobe scale tier (added r8:
    #                         heavy_total grows by this key vs r1-r7)
    "q_bm25",               # tokenize + broadcast IDF model
    "q_sketch_hll",         # HLL++ distinct sketch (lgConfigK=14)
]


def _box_control(spark) -> dict:
    """Same-box drift control (VERDICT r9 item 6): three FIXED synthetic
    probes whose code never changes round to round, timed best-of-3 in
    the same session as the query timings. Rounds 8-9 proved identical
    query code can swing ~2-4.8x across rounds on this shared box;
    these numbers let any future BENCH_r{N} be read against the box
    speed it was measured on instead of re-litigating conditions:

      - jvm_agg_sec: whole-stage-codegen shuffle+hash-agg machinery;
      - jvm_hof_sec: interpreted higher-order-function eval (the
        execution profile of the knn/minhash keys that swung worst);
      - py_loop_sec: driver-side Python interpreter speed (CPU
        contention shows here first).
    """
    import pyspark.sql.functions as F  # noqa: F401  (parity with queries)

    def best3(fn) -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3)

    def py_loop() -> None:
        acc = 0
        for i in range(8_000_000):
            acc += i

    probes = {
        "jvm_agg_sec": lambda: spark.range(30_000_000)
        .selectExpr("id % 997 AS k", "id AS v")
        .groupBy("k").sum("v")
        .write.format("noop").mode("overwrite").save(),
        "jvm_hof_sec": lambda: spark.range(150_000)
        .selectExpr(
            "aggregate(transform(sequence(1, 256), "
            "x -> x * (id % 97)), 0L, (a, x) -> a + x) AS s"
        )
        .write.format("noop").mode("overwrite").save(),
        "py_loop_sec": py_loop,
    }
    out: dict[str, float] = {}
    for name, fn in probes.items():
        # per-probe guard: one failed probe must neither break the
        # bench JSON line nor drop the remaining independent probes
        try:
            out[name] = best3(fn)
        except Exception:
            pass
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    registry.load_all()

    # sf0.1 shuffle sizing (BASELINE.md rule 3): 8 partitions keeps every
    # shuffle block > a few MB and halves task-scheduling overhead vs 32;
    # env-overridable for larger scale factors.
    spark = get_session(
        app="flexcalc-spark-bench",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
    )
    try:
        # Warm-up (not counted): JVM/codegen/file-listing paths, plus one
        # tiny pandas-UDF job so the Python worker pool (32 procs, each
        # importing pandas/numpy) is up before any UDF query is timed.
        # (noop write, not count(): count() lets Catalyst prune the UDF
        # column away, so the Python workers would never actually spawn)
        registry.QUERIES["q_agg_groupby"](spark, sf_dir).count()
        registry.QUERIES["q_udaf_grouped"](spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()

        # n runs per query, min taken: a single run folds scheduler/codegen
        # jitter into the number (round-1 bench read 1.6 s high on exactly
        # that). clearCache() between runs so queries that cache() an
        # intermediate (minhash, neardup) are timed cold, not from the
        # previous run's cache.
        runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

        def time_keys(keys: list[str]) -> dict[str, float]:
            out: dict[str, float] = {}
            for key in keys:
                if key not in registry.QUERIES:
                    continue
                best = None
                for _ in range(runs):
                    spark.catalog.clearCache()
                    # construction INSIDE the timer (ADVICE r13 / the
                    # round-7 end-to-end lesson): iterative keys do all
                    # their work during plan construction, and the
                    # materialize-policy keys are fully eager — timing
                    # only the noop write would report a noop scan of a
                    # local relation.
                    t0 = time.perf_counter()
                    df = registry.QUERIES[key](spark, sf_dir)
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None or dt < best else best
                out[key] = round(best, 3)
            return out

        timings = time_keys(HEADLINE)
        heavy = time_keys(HEAVY)
        box_control = _box_control(spark)

        total = round(sum(timings.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "headline_query_wall_clock_total",
                    "value": total,
                    "unit": "sec",
                    "queries": {**timings, **heavy},
                    "heavy_keys": sorted(heavy),
                    "heavy_total": round(sum(heavy.values()), 3),
                    # like-for-like vs BENCH_r4-r7 heavy_total (excludes
                    # keys added to HEAVY after round 7)
                    "heavy_total_r7_comparable": round(
                        sum(
                            v
                            for k, v in heavy.items()
                            if k != "q_dedup_embed_lsh_wide"
                        ),
                        3,
                    ),
                    "sf": sf,
                    "runs_per_query": runs,
                    # r14 on: plan construction is inside the timer
                    # (ADVICE r13) — adds ~10-100 ms/key vs BENCH_r13
                    # and earlier; compare cross-round accordingly
                    "timing": "end_to_end_incl_construction",
                    # same-box drift control: fixed synthetic probes —
                    # compare these across BENCH_r{N} files before
                    # reading any query-time trend as a regression
                    "box_control": box_control,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
