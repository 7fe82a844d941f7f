"""Empirical scaling probe for the dedup plans (SURVEY §9.8).

Generates deterministic synthetic document corpora at n = {5k, 10k, 20k}
(same shape as the fixture: short word-salad texts over a small shared
vocabulary, 5 langs x 20 sources, ~2% injected near-duplicate pairs),
then times the graded prefix-filter plans against the old all-pairs
formulation at each size. The point: candidate generation via equi joins
scales ~linearly in n while all-pairs grows ~n² — measured, not claimed.

Writes corpora under /tmp/flexcalc_scale_probe/<n>/documents.parquet and
prints one markdown table (paste into BASELINE.md).

Run: python scripts/scale_probe.py   (~2 min at local[32])
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from flexcalc_spark.operators.dedup import (
    JACCARD_TAU,
    _tok_sets,
)
from flexcalc_spark import registry
from flexcalc_spark.session import get_session

VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "join",
    "shuffle", "plan", "query", "block", "page", "index", "cache", "disk",
    "cpu", "core", "node", "rack", "zone", "the",
]
SIZES = [5000, 10000, 20000]
BASE = "/tmp/flexcalc_scale_probe"


def gen_corpus(spark, n: int, out_dir: str) -> None:
    """Deterministic word-salad corpus: doc i's text is a pure function
    of its id (seeded xxhash64 word picks); every doc with id % 50 == 1
    repeats doc id-1's words minus the last one (jac = (L-1)/L >= 0.95
    for L >= 20 -> guaranteed near-dup pairs at every size)."""
    vocab_sql = "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"
    df = (
        spark.range(n)
        .withColumn("base_id", F.expr("id - (CASE WHEN id % 50 = 1 THEN 1 ELSE 0 END)"))
        # 10-39 words: matches the fixture's length regime — long enough
        # for injected near-dups to clear tau, short enough that random
        # docs do NOT saturate the 31-word vocabulary (saturated distinct
        # sets would make every pair jac~1 and the output itself O(n²))
        .withColumn("length", F.expr("10 + pmod(xxhash64('len', base_id), 30)"))
        .withColumn(
            "eff_len",
            F.expr("CASE WHEN id % 50 = 1 THEN length - 1 ELSE length END"),
        )
        .withColumn(
            "text",
            F.expr(
                f"array_join(transform(sequence(1, eff_len),"
                f" j -> element_at({vocab_sql},"
                f" CAST(pmod(xxhash64('w', base_id, j), {len(VOCAB)}) + 1 AS INT))), ' ')"
            ),
        )
        .select(
            F.col("id").alias("doc_id"),
            "text",
            F.expr("element_at(array('en','de','fr','es','nl'), CAST(pmod(xxhash64('l', id), 5) + 1 AS INT))").alias("lang"),
            F.expr("concat('src', pmod(xxhash64('s', id), 20))").alias("source"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )
    df.coalesce(4).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def _jaccard(a, b):
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


def allpairs_neardup(spark, sf_dir: str):
    """The round-1 all-pairs formulation (kept here as the probe's
    quadratic reference; the graded plan is the prefix filter)."""
    t = _tok_sets(spark, sf_dir)
    a, b = t.alias("a"), t.alias("b")
    jac = _jaccard(F.col("a.toks"), F.col("b.toks"))
    size_ok = F.least(F.size("a.toks"), F.size("b.toks")) * 20 >= F.greatest(
        F.size("a.toks"), F.size("b.toks")
    ) * 19
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .filter(jac >= JACCARD_TAU)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )


def timed(spark, fn, runs: int = 2) -> tuple[float, int]:
    best, rows = None, 0
    for _ in range(runs):
        spark.catalog.clearCache()
        df = fn()
        t0 = time.perf_counter()
        rows = df.count()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return best, rows


def main() -> None:
    registry.load_all()
    spark = get_session(app="scale-probe", shuffle_partitions=32)
    Q = registry.QUERIES
    print("| n docs | neardup (prefix) s | pairs | neardup (all-pairs) s | minhash s | ngram s |")
    print("|---|---|---|---|---|---|")
    for n in SIZES:
        d = f"{BASE}/{n}"
        if not os.path.exists(f"{d}/documents.parquet"):
            gen_corpus(spark, n, d)
        tp, rp = timed(spark, lambda: Q["q_dedup_neardup"](spark, d))
        ta, ra = timed(spark, lambda: allpairs_neardup(spark, d))
        tm, _ = timed(spark, lambda: Q["q_dedup_minhash"](spark, d))
        tg, _ = timed(spark, lambda: Q["q_dedup_ngram"](spark, d))
        assert rp == ra, f"prefix ({rp}) != all-pairs ({ra}) at n={n}"
        print(f"| {n} | {tp:.2f} | {rp} | {ta:.2f} | {tm:.2f} | {tg:.2f} |")
    spark.stop()


if __name__ == "__main__":
    main()
