"""Round-7 embedding-scale probe: the fixture embeddings table is
sub-scale (~2k vectors at sf0.1 — flagged in the round-5 handoff), so
the LSH tiers' SCALE.md ratios were fixture-bounded. This probe runs
the exact q_dedup_embed_lsh / q_knn_lsh machinery over DETERMINISTIC
synthetic corpora of 20k / 50k / 100k 64-dim vectors (xxhash64-derived
components — no RNG state, engine-portable) with 500 planted near-dup
pairs, and records:

- candidate-pair count and fraction of all-pairs (the ~n*bands claim),
- planted-pair recall through the banded candidates at tau=0.9,
- wall-clock (best of 2) for the full dedup pipeline,
- knn top-5 wall-clock for 500 probes, with a brute-force recall@5
  check at the smallest size.

Run: python scripts/scale_probe_embed.py   (~4 min, idle box)
Results are recorded in SCALE.md "Round-7 embedding-scale probe".
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flexcalc_spark.operators.vectors import sign_band_keys

PLANT = 500
PLANT_OFFSET = 10_000_000
TAU = 0.9
K = 5
N_PROBES = 500

_AMBIENT = (
    "transform(sequence(0, 63), d ->"
    " CAST(pmod(xxhash64(id, d), 100000) AS DOUBLE) / 100000.0 - 0.5)"
)
_PLANTED = (
    "transform(sequence(0, 63), d ->"
    " CAST(pmod(xxhash64(id, d), 100000) AS DOUBLE) / 100000.0 - 0.5"
    " + 0.02 * (CAST(pmod(xxhash64(id, d, 7), 1009) AS DOUBLE)"
    " / 1009.0 - 0.5))"
)


def synth_corpus(spark: SparkSession, n: int) -> DataFrame:
    """n ambient vectors + PLANT near-dup copies of the first PLANT ids
    (cos ~0.9999 to their originals; ambient pairs sit near cos 0)."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(_AMBIENT).alias("embedding")
    )
    plant = spark.range(PLANT).select(
        (F.col("id") + PLANT_OFFSET).alias("vec_id"),
        F.expr(_PLANTED).alias("embedding"),
    )
    return base.unionByName(plant).repartition(32, "vec_id")


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def lsh_pairs(corpus: DataFrame, wide_bands: bool = False) -> DataFrame:
    """The q_dedup_embed_lsh plan, parameterized by corpus: banded
    candidates -> narrow id-pair dedup -> exact re-score at TAU."""
    corpus = corpus.cache()
    # 4 bands x 16 bits (2^16 buckets/band: candidate density n^2/65536
    # instead of n^2/256, at the cost of boundary recall) or the graded
    # 8x8 banding, both over the same 64 seeded hyperplanes
    keys = (sign_band_keys(20260814, 64, 4, 16) if wide_bands
            else sign_band_keys(20260814, 64, 8, 8))
    buckets = corpus.select(
        "vec_id",
        F.posexplode(F.array(*keys)).alias("band", "band_key"),
    )
    cand = (
        buckets.select(F.col("vec_id").alias("id_a"), "band", "band_key")
        .join(
            buckets.select(F.col("vec_id").alias("id_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a")
    )
    eb = corpus.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b")
    )
    cos = _dot("emb_a", "emb_b") / (
        F.sqrt(_dot("emb_a", "emb_a")) * F.sqrt(_dot("emb_b", "emb_b"))
    )
    pairs = (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .filter(cos >= TAU)
        .select("id_a", "id_b")
    )
    return cand, pairs, corpus


def knn_topk(corpus: DataFrame, exact: bool) -> DataFrame:
    """q_knn_lsh's plan over the synthetic corpus (exact=True swaps the
    banded candidates for the brute-force cross of probes x corpus)."""
    corpus = corpus.cache()
    probes = corpus.filter(F.col("vec_id") < N_PROBES)
    if exact:
        cand_ids = probes.select(
            F.col("vec_id").alias("probe_id")
        ).crossJoin(corpus.select(F.col("vec_id").alias("neighbor_id")))
        cand_ids = cand_ids.filter(
            F.col("probe_id") != F.col("neighbor_id")
        )
    else:
        buckets = corpus.select(
            "vec_id",
            F.posexplode(F.array(*sign_band_keys(20260814, 64, 8, 8))).alias(
                "band", "band_key"
            ),
        )
        p = buckets.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"), "band", "band_key"
        )
        c = buckets.select(
            F.col("vec_id").alias("neighbor_id"), "band", "band_key"
        )
        cand_ids = (
            p.join(c, ["band", "band_key"])
            .filter(F.col("probe_id") != F.col("neighbor_id"))
            .select("probe_id", "neighbor_id")
            .distinct()
        )
    ea = corpus.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    eb = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
    )
    cos = _dot("p_emb", "c_emb") / (
        F.sqrt(_dot("p_emb", "p_emb")) * F.sqrt(_dot("c_emb", "c_emb"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    return (
        cand_ids.join(F.broadcast(ea), "probe_id")
        .join(eb, "neighbor_id")
        .select("probe_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("probe_id", "neighbor_id", "rank")
    )


def main() -> None:
    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sizes = {
        False: (20_000, 50_000),       # 8x8 grading bands: quadratic
        True: (20_000, 50_000, 100_000),  # 4x16 near-exact bands
    }
    for wide in (False, True):
        label = "4x16" if wide else "8x8"
        print(
            f"[bands {label}] n | cand_pairs | cand_frac | recall |"
            " dedup_s | knn_s"
        )
        for n in sizes[wide]:
            best_dedup, best_knn = None, None
            for _ in range(2):
                c2 = synth_corpus(spark, n)
                cand, pairs, cached = lsh_pairs(c2, wide_bands=wide)
                t0 = time.monotonic()
                n_cand = cand.count()
                got = {(r.id_a, r.id_b) for r in pairs.collect()}
                dt = time.monotonic() - t0
                best_dedup = (
                    dt if best_dedup is None else min(best_dedup, dt)
                )
                cached.unpersist()
            want = {(i, PLANT_OFFSET + i) for i in range(PLANT)}
            recall = len(want & got) / len(want)
            allpairs = (n + PLANT) * (n + PLANT - 1) / 2
            if not wide:  # knn rides the 8x8 bands only
                for _ in range(2):
                    c3 = synth_corpus(spark, n)
                    t0 = time.monotonic()
                    knn_topk(c3, exact=False).count()
                    dt = time.monotonic() - t0
                    best_knn = (
                        dt if best_knn is None else min(best_knn, dt)
                    )
            knn_s = f"{best_knn:.2f}" if best_knn is not None else "-"
            print(
                f"{n} | {n_cand} | {n_cand / allpairs:.5f} | "
                f"{recall:.3f} | {best_dedup:.2f} | {knn_s}"
            )

    # brute-force recall@5 check at the smallest size
    n = 20_000
    approx = {
        (r.probe_id, r.neighbor_id)
        for r in knn_topk(synth_corpus(spark, n), exact=False).collect()
    }
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in knn_topk(synth_corpus(spark, n), exact=True).collect()
    }
    print(
        f"knn recall@{K} vs brute force at n={n}: "
        f"{len(approx & exact) / len(exact):.4f}"
    )

    # ---- IVF tier: sampled-seed codebook, nprobe nearest cells ----
    print("[ivf] n | cells | nprobe | planted_recall | knn_recall | s")
    for n in (20_000, 100_000):
        t0 = time.monotonic()
        pairs, ivf_top = ivf_probe(spark, n)
        dt = time.monotonic() - t0
        want = {(i, PLANT_OFFSET + i) for i in range(PLANT)}
        prec = len(want & pairs) / len(want)
        if n == 20_000:
            krec = len(ivf_top & exact) / len(exact)
            kr = f"{krec:.3f}"
        else:
            kr = "-"
        print(f"{n} | {IVF_CELLS} | {IVF_NPROBE} | {prec:.3f} | {kr} | {dt:.1f}")
    spark.stop()


IVF_CELLS = 64
IVF_NPROBE = 8


def ivf_probe(spark: SparkSession, n: int):
    """IVF over the synthetic corpus: codebook = IVF_CELLS sampled
    corpus vectors (deterministic ids), cells by max-dot assignment;
    (a) near-dup pairs found inside shared cells (the dedup sweep),
    (b) top-K for the first N_PROBES vectors probing IVF_NPROBE cells."""
    corpus = synth_corpus(spark, n).cache()
    seeds = corpus.filter(
        (F.col("vec_id") % (n // IVF_CELLS) == 0)
        & (F.col("vec_id") < PLANT_OFFSET)
    ).select(
        (F.col("vec_id") / (n // IVF_CELLS)).cast("long").alias("cell"),
        F.col("embedding").alias("cent"),
    )
    cdot = _dot("embedding", "cent")
    wc = Window.partitionBy("vec_id").orderBy(F.col("cd").desc(), "cell")
    assigned = (
        corpus.crossJoin(F.broadcast(seeds))
        .select("vec_id", "embedding", "cell", cdot.alias("cd"))
        .withColumn("rk", F.row_number().over(wc))
    )
    best = assigned.filter(F.col("rk") == 1).select(
        "vec_id", "embedding", "cell"
    ).cache()
    # (a) near-dup pairs inside shared cells, exact re-score at TAU
    a = best.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"),
        "cell",
    )
    b = best.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"),
        "cell",
    )
    cos = _dot("emb_a", "emb_b") / (
        F.sqrt(_dot("emb_a", "emb_a")) * F.sqrt(_dot("emb_b", "emb_b"))
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= TAU)
        .select("id_a", "id_b")
        .collect()
    }
    # (b) probes search their IVF_NPROBE nearest cells
    probe_cells = assigned.filter(
        (F.col("vec_id") < N_PROBES) & (F.col("rk") <= IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        "cell",
    )
    cand = probe_cells.join(
        best.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            "cell",
        ),
        "cell",
    ).filter(F.col("probe_id") != F.col("neighbor_id"))
    kcos = _dot("p_emb", "c_emb") / (
        F.sqrt(_dot("p_emb", "p_emb")) * F.sqrt(_dot("c_emb", "c_emb"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    top = {
        (r.probe_id, r.neighbor_id)
        for r in cand.select("probe_id", "neighbor_id", kcos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .collect()
    }
    corpus.unpersist()
    best.unpersist()
    return pairs, top


if __name__ == "__main__":
    main()
