"""Clustered-corpus DTW retrieval probe (VERDICT r10 what's-missing #3).

Round-10 measured that on the AMBIENT events fixture no sound lower
bound prunes anything for q_trajectory_dtw (distances concentrate), so
the key ships under a SCORING contract. The documented recipe for a
real retrieval tier is a CLUSTERED corpus — this probe measures whether
sound LB pruning actually bites there, which VERDICT r10 item 4 sets as
the precondition for adding the tier.

The candidate machinery probed is the sound 4-component LB_Kim bound
for unconstrained DTW with |.|-cost over equal-length integer series
(every component provably <= DTW):

    LB(A,B) = max(|a_1-b_1|, |a_n-b_n|, |min A - min B|, |max A - max B|)

(first/last: the (1,1) and (n,n) cells sit on every warping path;
min/max: the extreme element of one series must align to SOME element
of the other, whose value is bounded by that series' own extreme.)
A pair survives iff LB <= tau; DTW <= tau implies LB <= tau, so recall
is 1.0 by construction. Distributed realization: bucket equi-join on
floor(a_1 / tau) with +-1 probes (|a_1-b_1| <= tau forces adjacent
buckets), post-filtering the remaining three components — the
q_join_range shape, never all-pairs.

Corpora:
- fixture: the real events table's PAA-8 integer series (the graded
  key's exact unit, via the same SQL the DuckDB oracle uses);
- ambient: uniform-random length-8 integer series (the concentration
  regime);
- clustered(K): K archetype series + per-segment noise at 1% of the
  value range — the corpus shape the retrieval recipe assumes.

Run: python /root/repo/scripts/scale_probe_dtw_cluster.py
"""
from __future__ import annotations

import os
import sys

import numpy as np

SEGMENTS = 8


def dtw_matrix(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    """Exact unconstrained DTW (|.| cost) for every row-pair, vectorized
    over pairs: DP over the 8x8 grid with numpy broadcasting."""
    n, m = X.shape[0], Y.shape[0]
    INF = np.int64(4_000_000_000_000_000)
    # cost[i, j, a, b] built lazily per DP cell to bound memory
    prev = np.full((n, m, SEGMENTS + 1), INF, dtype=np.int64)
    prev[:, :, 0] = 0
    for i in range(1, SEGMENTS + 1):
        cur = np.full((n, m, SEGMENTS + 1), INF, dtype=np.int64)
        for j in range(1, SEGMENTS + 1):
            cost = np.abs(X[:, None, i - 1] - Y[None, :, j - 1])
            best = np.minimum(
                np.minimum(prev[:, :, j], prev[:, :, j - 1]), cur[:, :, j - 1]
            )
            cur[:, :, j] = cost + best
        prev = cur
    return prev[:, :, SEGMENTS]


def lb_kim(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
    first = np.abs(X[:, None, 0] - Y[None, :, 0])
    last = np.abs(X[:, None, -1] - Y[None, :, -1])
    mn = np.abs(X.min(axis=1)[:, None] - Y.min(axis=1)[None, :])
    mx = np.abs(X.max(axis=1)[:, None] - Y.max(axis=1)[None, :])
    return np.maximum(np.maximum(first, last), np.maximum(mn, mx))


def census(name: str, S: np.ndarray, taus: list[int]) -> None:
    n = S.shape[0]
    d = dtw_matrix(S, S)
    lb = lb_kim(S, S)
    iu = np.triu_indices(n, 1)
    d, lb = d[iu], lb[iu]
    allp = len(d)
    assert (lb <= d).all(), "LB soundness violated"
    for tau in taus:
        true = int((d <= tau).sum())
        surv = int((lb <= tau).sum())
        print(
            f"{name} n={n} tau={tau}: true_pairs={true} "
            f"lb_survivors={surv} ({surv / allp:.3%} of all-pairs; "
            f"prune={1 - surv / allp:.3%})"
        )


def fixture_series(sf_dir: str) -> np.ndarray:
    """The graded key's exact PAA unit: integer grid means via the same
    SQL shape the q_trajectory_dtw oracle uses."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH ordered AS (
            SELECT user_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) - 1
                       AS i,
                   COUNT(*) OVER (PARTITION BY user_id) AS n,
                   CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vg
            FROM read_parquet('{sf_dir}/events.parquet')
        ),
        seg AS (
            SELECT user_id, (i * {SEGMENTS}) // n AS s,
                   CAST(SUM(vg) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m
            FROM ordered GROUP BY user_id, (i * {SEGMENTS}) // n
        )
        SELECT user_id, list_transform(list_sort(list([s, m])), p -> p[2])
        FROM seg GROUP BY user_id ORDER BY user_id
        """
    ).fetchall()
    return np.array(
        [r[1] for r in rows if len(r[1]) == SEGMENTS], dtype=np.int64
    )


def gen_clustered_events(spark, n_users: int, out_dir: str, k: int = 100):
    """Deterministic clustered events fixture: n_users x 8 events,
    value = archetype(user % k) + 1%-of-range noise on the 1e-6 grid
    (the q_trajectory_dtw_radius unit; xxhash64-derived like the Zipf
    corpus generator)."""
    from pyspark.sql import functions as F

    df = (
        spark.range(n_users)
        .withColumnRenamed("id", "user_id")
        .withColumn("c", F.expr(f"user_id % {k}"))
        .withColumn("i", F.explode(F.expr("sequence(0, 7)")))
        .withColumn(
            "arch", F.expr("pmod(xxhash64('a', c, i), 100000001)")
        )  # grid 0..1e8 ~ value 0..100
        .withColumn(
            "noise",
            F.expr("pmod(xxhash64('n', user_id, i), 2000001) - 1000000"),
        )  # +-1e6 grid = +-1% of range
        .select(
            F.expr("user_id * 8 + i").alias("event_id"),
            F.expr(
                "timestamp_micros(1704067200000000 + i * 3600000000)"
            ).alias("ts"),
            "user_id",
            F.lit("view").alias("event_type"),
            ((F.col("arch") + F.col("noise")).cast("double") / 1e6).alias(
                "value"
            ),
            F.lit('{"k": 1}').alias("props"),
        )
    )
    df.coalesce(8).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )


def spark_census(sizes: list[int], kfn=None, label: str = "fixedK") -> None:
    """Run the GRADED q_trajectory_dtw_radius plan on clustered corpora
    at growing user counts, counting each of the plan's OWN relations
    per the round-11 per-relation census protocol: the raw bucket-join
    candidates (post ua<ub dedup, pre LB filter — what the shuffle
    pays for) and the LB survivors (what the exact DP pays for).
    Adjudication (round-11 extraction-hazard lesson): the survivor
    count must equal the graded key's own output count on every
    corpus — a drifted extraction cannot stay silent."""
    import math
    import tempfile
    import time

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession

    from flexcalc_spark.registry import QUERIES
    from flexcalc_spark.operators.trajectory import _radius_pairs

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="dtw_cluster_")
    counts = []
    for n in sizes:
        k = kfn(n) if kfn else 100
        out = f"{base}/{label}_n{n}"
        gen_clustered_events(spark, n, out, k=k)
        allp = n * (n - 1) // 2
        t0 = time.perf_counter()
        raw_df, surv_df = _radius_pairs(spark, out)
        raw = raw_df.count()
        surv = surv_df.count()
        graded = QUERIES["q_trajectory_dtw_radius"](spark, out).count()
        dt = time.perf_counter() - t0
        assert surv == graded, (
            f"extracted survivor relation ({surv}) != graded key output "
            f"({graded}) — _radius_pairs drifted from the plan"
        )
        counts.append((n, raw, surv))
        print(
            f"spark_census {label} n={n} K={k}: raw_candidates={raw} "
            f"(frac={raw / allp:.3e}) lb_survivors={surv} "
            f"(frac={surv / allp:.3e}, {surv / raw:.1%} of raw) "
            f"graded={graded} {dt:.1f}s"
        )
        spark.catalog.clearCache()
    (n1, r1, c1), (n2, r2, c2) = counts[0], counts[-1]
    for name, v1, v2 in (("raw-candidate", r1, r2),
                         ("survivor", c1, c2)):
        if v1 and v2:
            exp = math.log(v2 / v1) / math.log(n2 / n1)
            print(
                f"spark_census {label} {name} exponent "
                f"(n{n1}->n{n2}): {exp:.2f}"
            )
    spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "spark":
        # fixed K: the survivor set ~ n^2/K because the ANSWER set is
        # n^2/K (within-cluster pairs genuinely qualify); growing K
        # (archetype diversity scaling with the corpus, the Heaps-law
        # analogue) is the realistic regime
        spark_census([2_000, 8_000, 20_000], label="fixedK100")
        spark_census(
            [2_000, 8_000, 20_000], kfn=lambda n: n // 20, label="K=n/20"
        )
        return
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    fx = fixture_series(sf)
    rng_range = int(fx.max() - fx.min())
    print(f"fixture users={fx.shape[0]} grid_range={rng_range}")
    census("fixture", fx, [rng_range // 20, rng_range // 8, rng_range // 4])

    rs = np.random.RandomState(42)
    n = 2000
    R = 100_000_000  # ~ value in [0, 100] on the 1e-6 grid
    ambient = rs.randint(0, R, size=(n, SEGMENTS)).astype(np.int64)
    census("ambient", ambient, [R // 20, R // 8])

    for k in (20, 100):
        arche = rs.randint(0, R, size=(k, SEGMENTS)).astype(np.int64)
        noise = rs.randint(-R // 100, R // 100, size=(n, SEGMENTS))
        S = arche[rs.randint(0, k, size=n)] + noise
        census(f"clustered_k{k}", S, [R // 20, R // 8])


if __name__ == "__main__":
    main()
