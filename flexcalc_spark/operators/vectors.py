"""Similarity search over embeddings (north-star §2.3).

Three tiers, mirroring a production ANN stack:
- q_knn_cosine — brute-force exact top-k (the correctness baseline,
  oracle-checked);
- q_knn_lsh — random-hyperplane LSH bucketing (candidates via band
  equi-join; the horizontal-scale path);
- q_knn_ivf — inverted-file style: coarse centroids, probe the nearest
  nprobe cells only (the partition-pruning path).
Recall of the approximate tiers vs the exact tier is asserted in
tests/test_recall.py.

Dot products are JVM-native HOF folds in double precision — no Python,
no explode, no shuffle beyond the candidate join.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flexcalc_spark.registry import register
from flexcalc_spark.tables import session_plan_memo, table, table_parallel

K_NEIGHBORS = 5
N_PROBES = 10           # probe set = vec_id < 10
LSH_PLANES = 16         # hyperplanes -> 4 bands of 4 bits
LSH_BANDS = 4
IVF_NPROBE = 3
EMB_DIM = 64
KM_K = 8                # k-means clusters (seeds = vec_id < KM_K)
KM_ITERS = 2            # unrolled Lloyd iterations
KM_SCALE = 1_000_000    # 1e-6 integer grid for distance math


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with(transform({a}, x -> CAST(x AS DOUBLE)),"
        f" transform({b}, x -> CAST(x AS DOUBLE)), (x, y) -> x * y),"
        " CAST(0.0 AS DOUBLE), (s, x) -> s + x)"
    )


def _cosine(a: str, b: str) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_KNN_ORACLE_COS = """
    list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
    / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
       * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
"""


@register(
    "q_knn_cosine",
    oracle=f"""
        SELECT probe_id, neighbor_id, ROUND(cos, 4) AS cos, rank
        FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   {_KNN_ORACLE_COS} AS cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_KNN_ORACLE_COS} DESC, c.vec_id) AS BIGINT) AS rank
            FROM embeddings p JOIN embeddings c ON p.vec_id < {N_PROBES}
                                               AND c.vec_id != p.vec_id
        ) WHERE rank <= {K_NEIGHBORS}
    """,
    family="vectors",
    scale_notes="brute-force exact top-k: probe side broadcast (tiny), corpus scanned once, per-probe heap via WindowGroupLimit — the correctness baseline every ANN tier is measured against",
)
def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 10 probe vectors."""
    e = table_parallel(spark, sf_dir, "embeddings")
    # norm once per vector, not per (probe, neighbor) pair — the
    # interpreted-HOF rule; same fold text => bit-identical cos, so
    # ranking and the rounded output cannot move
    en = e.withColumn("nrm", F.sqrt(_dot("embedding", "embedding")))
    p = en.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("nrm").alias("nrm_p"),
    )
    c = en.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("nrm_c"),
    )
    cos = _dot("p_emb", "c_emb") / (F.col("nrm_p") * F.col("nrm_c"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        F.broadcast(p)
        .join(c, F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("probe_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


def sign_band_keys(seed: int, n_planes: int, bands: int, bits: int) -> list[Column]:
    """``bands`` BIGINT band keys over ``embedding``: band b packs, MSB
    first, the sign bits of planes b*bits .. b*bits+bits-1 of
    ``n_planes`` seeded standard-normal hyperplanes (fixed seed — stable
    across runs and sessions). Equal keys in a band => candidate bucket.

    Each key is ONE F.expr over generated SQL text rather than py4j-built
    when/fold Columns: a Column tree costs a py4j round trip per node and
    re-analyzes at every later DataFrame step (measured 1.2 s -> 0.4 s
    bucket build, identical values). Each bit folds the products left to
    right in double precision; a FLOAT embedding widens exactly under
    ``x * y``'s coercion, so no per-element cast is needed."""
    planes = np.random.RandomState(seed).standard_normal((n_planes, EMB_DIM)).tolist()

    def bit(plane: list) -> str:
        arr = ", ".join(repr(v) + "D" for v in plane)
        return (
            "(CASE WHEN aggregate(zip_with(embedding, array(" + arr
            + "), (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
            " (acc, t) -> acc + t) > 0 THEN 1 ELSE 0 END)"
        )

    keys = []
    for bnd in range(bands):
        txt = "0L"
        for plane in planes[bnd * bits:(bnd + 1) * bits]:
            txt = f"({txt} * 2 + {bit(plane)})"
        keys.append(F.expr(txt))
    return keys


def lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, band, band_key): sign-bit signature over fixed
    hyperplanes (sign_band_keys), split into bands; equal band_key =>
    candidate bucket."""
    # Construction memo (r15): analyzing the 16-fold x 64-literal band
    # bank per call is pure Catalyst overhead — memoize the analyzed
    # lazy frame per session (plan-only; see tables.session_plan_memo).
    def _build():
        e = table_parallel(spark, sf_dir, "embeddings")
        band_keys = sign_band_keys(
            20260813, LSH_PLANES, LSH_BANDS, LSH_PLANES // LSH_BANDS
        )
        return e.select(
            "vec_id",
            "embedding",
            F.posexplode(F.array(*band_keys)).alias("band", "band_key"),
        )

    return session_plan_memo(
        spark, f"{sf_dir}/embeddings.parquet", "knn_lsh_buckets", _build
    )


@register(
    "q_knn_lsh",
    oracle=None,  # seeded-hyperplane buckets: no SQL twin (rows-only);
    # recall vs q_knn_cosine asserted in tests/test_recall.py
    family="vectors",
    scale_notes=(
        "random-hyperplane LSH: candidates = equi join on "
        "(band, band_key); exact re-score only inside buckets. The "
        "bucket-build scan is O(n*bands) but the pair census inside "
        "buckets is quadratic with constant bands/2^bits (measured "
        "flat 3.6% of all-pairs on ambient-random corpora — SCALE.md "
        "round-7 probe), and recall depends on how close the true "
        "neighbors are (1.0 for planted near-dups, ~0.37 for "
        "ambient-random top-5): LSH ANN presumes a clustered corpus. "
        "Buckets ARE the partition key at 100 TB; more bits per band "
        "buys sparsity at the tau boundary's expense"
    ),
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5: exact cosine, but only within
    shared hyperplane-sign buckets."""
    b = lsh_bucketed(spark, sf_dir)
    p = b.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        "band",
        "band_key",
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        "band",
        "band_key",
    )
    # Dedup candidates on the ID PAIR only (narrow shuffle), then attach
    # embeddings — shipping 2x64-float arrays through the distinct would
    # inflate candidate shuffle volume ~64x (same rule as q_dedup_minhash).
    cand_ids = (
        p.select("probe_id", "band", "band_key")
        .join(c.select("neighbor_id", "band", "band_key"), ["band", "band_key"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
        .distinct()
    )
    emb = table_parallel(spark, sf_dir, "embeddings").withColumn(
        # norm once per vector (interpreted-HOF rule; same fold text
        # => bit-identical cos)
        "nrm", F.sqrt(_dot("embedding", "embedding"))
    )
    cand = (
        cand_ids.join(
            F.broadcast(emb.select(F.col("vec_id").alias("probe_id"),
                                   F.col("embedding").alias("p_emb"),
                                   F.col("nrm").alias("nrm_p"))),
            "probe_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("c_emb"),
                       F.col("nrm").alias("nrm_c")),
            "neighbor_id",
        )
    )
    cos = _dot("p_emb", "c_emb") / (F.col("nrm_p") * F.col("nrm_c"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.select("probe_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("probe_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


@register(
    "q_centroids",
    oracle="""
        SELECT label, pos, ROUND(AVG(v), 4) + 0.0 AS centroid_val
        FROM (
            SELECT label,
                   unnest(range(1, len(embedding) + 1)) AS pos,
                   unnest(CAST(embedding AS DOUBLE[])) AS v
            FROM embeddings
        )
        GROUP BY label, pos
    """,
    family="vectors",
    scale_notes="posexplode -> (label, dim) agg: shuffle keyed on label x 64 dims, perfectly balanced",
)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension).

    Emitted exploded (not re-collected) so the oracle hash is over
    scalars, and rounded against float-sum accumulation-order drift."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
                "pos0", "v"
            ),
        )
        .select("label", (F.col("pos0") + 1).cast("bigint").alias("pos"), "v")
        .groupBy("label", "pos")
        .agg((F.round(F.avg("v"), 4) + 0.0).alias("centroid_val"))
    )


@register(
    "q_knn_ivf",
    oracle=None,  # depends on q_centroids-derived cell assignment (rows-only);
    # recall vs q_knn_cosine asserted in tests/test_recall.py
    family="vectors",
    scale_notes=(
        "IVF: coarse quantize to label-centroid cells, probe nprobe=3 "
        "nearest cells — at 100 TB the corpus is PARTITIONED BY cell "
        "so probing prunes file reads (partition pruning), not just "
        "comparisons. Measured on 20k-100k synthetic corpora (SCALE.md "
        "round-7 IVF probe): recall tracks scan fraction (0.56 at "
        "nprobe 8/64 on ambient-random data), argmax-cell dedup loses "
        "~3% of near-dup pairs to cell boundaries (use nprobe>=2 or "
        "band keys for the dedup sweep), and cell count must scale "
        "with n — the in-cell census is n^2/C"
    ),
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: search only the nprobe nearest centroid cells.

    Uses the per-label centroids as the coarse codebook (stand-in for a
    k-means codebook; same plan shape)."""
    e = table(spark, sf_dir, "embeddings")
    cents = (
        e.select(
            "label",
            F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
                "pos", "v"
            ),
        )
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("v"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pairs"))
        .select("label", F.expr("transform(pairs, p -> p.v)").alias("centroid"))
    )
    p = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    # nearest nprobe cells per probe (25-cell codebook -> broadcast)
    cell_cos = _cosine("p_emb", "centroid")
    wc = Window.partitionBy("probe_id").orderBy(F.col("cell_cos").desc(), "label")
    probe_cells = (
        p.crossJoin(F.broadcast(cents))
        .select("probe_id", "p_emb", "label", cell_cos.alias("cell_cos"))
        .withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= IVF_NPROBE)
        .select("probe_id", "p_emb", "label")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "label")
    cos = _cosine("p_emb", "c_emb")
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        probe_cells.join(c, "label")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select("probe_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


@register(
    "q_vector_quantize",
    oracle="""
        WITH b AS (
            SELECT vec_id, embedding,
                   CAST(list_min(embedding) AS DOUBLE) AS vmin,
                   CAST(list_max(embedding) AS DOUBLE) AS vmax
            FROM embeddings
        )
        SELECT vec_id, vmin, vmax,
               array_to_string(
                   CASE WHEN vmax > vmin
                        THEN list_transform(embedding,
                             x -> LEAST(CAST(floor((CAST(x AS DOUBLE) - vmin)
                                      * 255.0 / (vmax - vmin)) AS BIGINT),
                                  CAST(255 AS BIGINT)))
                        ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
                   END, ',') AS codes
        FROM b
    """,
    family="vectors",
    scale_notes="per-vector uint8 scalar quantization (4x smaller than float32, the standard ANN memory/IO trade): pure per-row HOF in codegen, no shuffle — at 100 TB the quantized corpus is what the LSH/IVF tiers scan, with exact float re-score only on the final candidates; floor-based bucketing (not round) keeps codes engine-deterministic (round() dialect drift, registry rules)",
)
def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantize each embedding to 0..255 integer codes over the
    vector's own [min, max] range (uint8 compression for ANN serving)."""
    e = table_parallel(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "embedding",
        F.expr("CAST(array_min(embedding) AS DOUBLE)").alias("vmin"),
        F.expr("CAST(array_max(embedding) AS DOUBLE)").alias("vmax"),
    )
    codes = F.when(
        F.col("vmax") > F.col("vmin"),
        F.expr(
            "transform(embedding, x -> LEAST(CAST(floor((CAST(x AS DOUBLE)"
            " - vmin) * 255.0 / (vmax - vmin)) AS BIGINT),"
            " CAST(255 AS BIGINT)))"
        ),
    ).otherwise(F.expr("transform(embedding, x -> CAST(0 AS BIGINT))"))
    # comma-joined string, not array<bigint>: the driver canonicalizes
    # results with a sort over every column, and list-typed cells are
    # unhashable/unsortable there (CORRECTNESS_r02/r03 q_vector_quantize)
    codes_str = F.array_join(F.transform(codes, lambda x: x.cast("string")), ",")
    return b.select("vec_id", "vmin", "vmax", codes_str.alias("codes"))


# ---------------------------------------------------------------- k-means
def _km_int_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xi: array<bigint>) — embeddings snapped to a 1e-6 integer
    grid, offset +1 so every coordinate is non-negative (embeddings lie
    in [-1, 1]; non-negative keeps integer division floor-identical
    across engines). All k-means distance math is exact BIGINT on this
    grid, so assignment argmins cannot drift between Spark and the
    oracle under any partitioning."""
    e = table_parallel(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor((CAST(x AS DOUBLE)"
            f" + 1.0D) * {KM_SCALE}.0D) AS BIGINT))"
        ).alias("xi"),
    )


def _km_assign(vecs: DataFrame, codebook: dict[int, list[int]]) -> DataFrame:
    """(vec_id, cluster, d2): nearest codebook entry per vector.

    The codebook is a driver-side dict (k x d integers — the MLlib
    broadcast-codebook pattern): each centroid becomes a LITERAL array in
    a codegen'd zip_with/aggregate fold, so assignment is pure per-row
    scan work with NO shuffle and no join. Ties break to the lowest
    cluster id via lexicographic struct array_min."""
    pairs = []
    for cl in sorted(codebook):
        arr = "array(" + ",".join(f"{v}L" for v in codebook[cl]) + ")"
        d2 = (
            f"aggregate(zip_with(xi, {arr}, (x, c) -> (x - c) * (x - c)),"
            f" CAST(0 AS BIGINT), (s, v) -> s + v)"
        )
        pairs.append(f"struct({d2} AS d2, CAST({cl} AS BIGINT) AS cluster)")
    best = F.expr(f"array_min(array({', '.join(pairs)}))")
    return vecs.select("vec_id", best.alias("best")).select(
        "vec_id",
        F.col("best.cluster").alias("cluster"),
        F.col("best.d2").alias("d2"),
    )


def _km_recompute(vecs: DataFrame, assign: DataFrame) -> dict[int, list[int]]:
    """New codebook = per-(cluster, dim) integer mean (sum div count —
    floor-exact on the non-negative grid). Shuffle is k x d rows; only
    the k x d codebook reaches the driver (the legitimate per-iteration
    collect of every distributed Lloyd implementation)."""
    rows = (
        vecs.join(assign.select("vec_id", "cluster"), "vec_id")
        .select("cluster", F.posexplode("xi").alias("pos", "v"))
        .groupBy("cluster", "pos")
        .agg(F.expr("sum(v) div count(1)").alias("ci"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "ci"))).alias("pairs"))
        .select("cluster", F.expr("transform(pairs, p -> p.ci)").alias("centroid"))
        .collect()
    )
    return {int(r["cluster"]): [int(v) for v in r["centroid"]] for r in rows}


def _km_oracle() -> str:
    """Unrolled-CTE DuckDB twin of KM_ITERS Lloyd iterations on the same
    integer grid (exact BIGINT math end-to-end, so hashes match)."""
    xi = (
        f"CAST(floor((CAST(v AS DOUBLE) + 1.0) * {KM_SCALE}.0) AS BIGINT)"
    )
    sql = f"""
        WITH x AS (
            SELECT vec_id, pos, {xi} AS xi
            FROM (SELECT vec_id,
                         unnest(range(1, len(embedding) + 1)) AS pos,
                         unnest(embedding) AS v
                  FROM embeddings)
        ),
        c0 AS (SELECT vec_id AS cluster, pos, xi AS ci FROM x
               WHERE vec_id < {KM_K})
    """
    prev = "c0"
    for it in range(1, KM_ITERS + 1):
        sql += f"""
        , d{it} AS (
            SELECT x.vec_id, c.cluster,
                   CAST(SUM((x.xi - c.ci) * (x.xi - c.ci)) AS BIGINT) AS d2
            FROM x JOIN {prev} c USING (pos) GROUP BY x.vec_id, c.cluster
        ),
        a{it} AS (
            SELECT vec_id, cluster, d2 FROM (
                SELECT vec_id, cluster, d2,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cluster) AS r
                FROM d{it}
            ) WHERE r = 1
        )
        """
        if it < KM_ITERS:
            sql += f"""
        , c{it} AS (
            SELECT a.cluster, x.pos, SUM(x.xi) // COUNT(*) AS ci
            FROM x JOIN a{it} a USING (vec_id) GROUP BY a.cluster, x.pos
        )
            """
            prev = f"c{it}"
    sql += f"""
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, d2
        FROM a{KM_ITERS}
    """
    return sql


@register(
    "q_kmeans",
    oracle=_km_oracle(),
    family="vectors",
    scale_notes=(
        "distributed Lloyd's k-means, MLlib broadcast-codebook pattern: "
        "assignment is a per-row codegen fold against a k x d LITERAL "
        "codebook — zero shuffle, zero join on the 100 TB side; the "
        "recompute step shuffles only k x d (cluster, dim) partial sums "
        "(map-side combine) and collects only the k x d codebook to the "
        "driver per iteration. Distance math is exact BIGINT on a 1e-6 "
        "grid (floor-snap, +1 offset keeps coordinates non-negative so "
        "sum div count is floor-identical across engines) — argmin and "
        "tie-breaks cannot drift under any partitioning or engine"
    ),
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8, 2 Lloyd iterations, seeds = first k vectors):
    returns each vector's final cluster and exact grid distance.

    The per-iteration ``.collect()`` pulls ONLY the k x d codebook (the
    standard broadcast step of distributed k-means); vectors never
    leave the executors."""
    vecs = _km_int_vectors(spark, sf_dir).cache()
    seeds = vecs.filter(F.col("vec_id") < KM_K).collect()
    codebook = {int(r["vec_id"]): [int(v) for v in r["xi"]] for r in seeds}
    assign = _km_assign(vecs, codebook)
    for _ in range(KM_ITERS - 1):
        codebook = _km_recompute(vecs, assign)
        assign = _km_assign(vecs, codebook)
    return assign


# ------------------------------------------------- random projection
PROJ_DIMS = 8       # output dimensionality
EMB_DIMS = 64       # fixture embedding width


def _proj_sign(j: int, i: int) -> int:
    """Deterministic ±1 from md5 — reproducible on any engine/machine,
    no RNG state (the same hash-not-rand discipline as sampling.py)."""
    import hashlib

    h = hashlib.md5(f"proj{j}:{i}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


_SIGNS = [
    [_proj_sign(j, i) for i in range(EMB_DIMS)] for j in range(PROJ_DIMS)
]


def _proj_oracle() -> str:
    rows = ", ".join(
        f"({j}, {i + 1}, {s})"
        for j, row in enumerate(_SIGNS)
        for i, s in enumerate(row)
    )
    return f"""
        WITH sig(j, i, s) AS (VALUES {rows}),
        ex AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT) AS xg
            FROM embeddings
        ),
        pr AS (
            SELECT vec_id, j, CAST(SUM(xg * s) AS BIGINT) AS v
            FROM ex JOIN sig USING (i)
            GROUP BY vec_id, j
        )
        SELECT vec_id,
               string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS proj
        FROM pr GROUP BY vec_id
    """


@register(
    "q_embed_project",
    oracle=_proj_oracle(),
    family="vectors",
    scale_notes=(
        "signed random projection 64 -> 8 (Achlioptas ±1 matrix, "
        "md5-derived so every engine regenerates the same matrix): the "
        "JL-lemma dimensionality reduction that runs BEFORE clustering/"
        "LSH at 100 TB to cut vector bytes 8x. Pure per-row HOF folds "
        "inside codegen — no shuffle, no Python; components are 1e-6 "
        "integer-grid BIGINT dot products (order-fixed fold, exact), "
        "emitted comma-joined (driver canonicalizer rejects array "
        "cells). Output feeds q_kmeans/q_knn_lsh unchanged"
    ),
)
def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project each 64-dim embedding to 8 signed-sum components
    (integer 1e-6 grid), emitted as a comma-joined string."""
    e = table_parallel(spark, sf_dir, "embeddings")
    outs = []
    for j in range(PROJ_DIMS):
        sig = ", ".join(str(s) for s in _SIGNS[j])
        outs.append(
            F.expr(
                "aggregate(zip_with(embedding, array({sig}), (x, s) ->"
                " CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)"
                " AS BIGINT) * s), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
                .replace("{sig}", sig)
            ).cast("string")
        )
    return e.select(
        "vec_id", F.concat_ws(",", *outs).alias("proj")
    )


@register(
    "q_knn_incremental",
    oracle=f"""
        SELECT probe_id, neighbor_id, ROUND(cos, 4) AS cos, rank
        FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   {_KNN_ORACLE_COS} AS cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {_KNN_ORACLE_COS} DESC, c.vec_id) AS BIGINT)
                       AS rank
            FROM embeddings p JOIN embeddings c ON p.vec_id < {N_PROBES}
                                               AND c.vec_id != p.vec_id
        ) WHERE rank <= {K_NEIGHBORS}
    """,
    family="vectors",
    scale_notes=(
        "incremental top-k maintenance (the retrieved EDBT incremental "
        "top-k similarity framework, engineering form): top-k lists are "
        "a MERGE SEMILATTICE — top-k(old ∪ batch) == top-k(top-k(old) "
        "∪ top-k(batch)) — so a daily ANN refresh scores probes against "
        "the NEW batch only and merges k-row lists per probe, never "
        "rescanning the corpus; the graded plan computes both partition "
        "top-ks and the merge, and the oracle's direct global top-k "
        "certifies the semilattice identity on real data. Per-probe "
        "state is k rows; WindowGroupLimit keeps every rank local"
    ),
)
def q_knn_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors maintained incrementally: per-partition top-5
    (corpus split old/batch by vec_id % 10) merged and re-ranked; must
    equal the direct global top-5 (the oracle)."""
    e = table_parallel(spark, sf_dir, "embeddings")
    p = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    cos = _cosine("p_emb", "c_emb")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )

    def topk(part: DataFrame) -> DataFrame:
        c = part.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
        )
        return (
            F.broadcast(p)
            .join(c, F.col("probe_id") != F.col("neighbor_id"))
            .select("probe_id", "neighbor_id", cos.alias("cos"))
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= K_NEIGHBORS)
            .drop("r")
        )

    old_top = topk(e.filter(F.col("vec_id") % 10 != 0))
    new_top = topk(e.filter(F.col("vec_id") % 10 == 0))
    merged = old_top.unionAll(new_top)
    return (
        merged.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= K_NEIGHBORS)
        .select(
            "probe_id",
            "neighbor_id",
            F.round("cos", 4).alias("cos"),
            "rank",
        )
    )


# ------------------------------------------------------------- PCA
PCA_POWER_ITERS = 400


def gram_partial(x: np.ndarray) -> tuple[int, list, list]:
    """(n, column sums, row-major Gram matrix) of one (n, d) float64
    batch. The Gram is numpy's own einsum loop, not ``x.T @ x``: the
    matmul goes to BLAS, whose CPU-specific kernel (chosen at load
    time) rounds the dot products differently, so q_pca_embed's
    eigenvector literals, and its plan, would change from host to host
    in their last bits (pinned in tests/test_properties.py)."""
    g = np.einsum("ni,nj->ij", x, x)
    return x.shape[0], x.sum(axis=0).tolist(), g.reshape(-1).tolist()


def top_eigvec(parts: list[tuple[int, list, list]]) -> tuple[list[float], int]:
    """Top eigenvector of the covariance assembled from gram_partial
    outputs: deterministic power iteration (fixed all-ones start, fixed
    iteration count, sign fixed by the largest-|component| entry) with
    no BLAS call, so the result is bit-identical on every CPU.
    Returns (eigvec, n)."""
    n = sum(p[0] for p in parts)
    d = len(parts[0][1])
    # math.fsum is exactly rounded, so the per-cell totals are
    # independent of partition count/layout/collect order — a plain
    # float sum would perturb the eigenvector with the summation order
    # and could flip floor-quantized projections at grid boundaries.
    s = np.array([math.fsum(p[1][i] for p in parts) for i in range(d)])
    g = np.array(
        [math.fsum(p[2][i] for p in parts) for i in range(d * d)]
    ).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    v = np.ones(d)
    for _ in range(PCA_POWER_ITERS):
        v = (cov * v).sum(axis=1)
        v = v / math.sqrt(math.fsum(v * v))
    # deterministic sign: the largest-|component| entry is positive
    pivot = int(np.argmax(np.abs(v)))
    if v[pivot] < 0:
        v = -v
    return v.tolist(), int(n)


def pca_top_eigvec(spark: SparkSession, sf_dir: str):
    """Top principal direction of the embedding table.

    Distributed part: per-partition partial Gram/sum/count via an
    Arrow-batched mapInPandas (gram_partial; ~4 KB per partition —
    the q_dedup_embed precedent), collected as one row per partition.
    Driver part: top_eigvec assembles the exact covariance and runs
    the power iteration — the k x d driver-collect pattern q_kmeans
    already uses. Returns (eigvec: list[float], n: int)."""
    from flexcalc_spark.tables import table_parallel

    e = table_parallel(spark, sf_dir, "embeddings").select("embedding")

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n, s, g = gram_partial(x)
            yield pd.DataFrame({"n": [n], "s": [s], "g": [g]})

    rows = e.mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    ).collect()
    return top_eigvec([(r.n, r.s, r.g) for r in rows])


@register(
    "q_pca_embed",
    oracle=None,  # eigensolve has no ANSI twin (rows-only); the
    # direction is pinned to numpy.linalg.eigh in
    # tests/test_properties.py::test_pca_matches_numpy_eigh
    family="vectors",
    scale_notes=(
        "PCA whitening direction at corpus scale: per-partition "
        "partial Gram matrices (Arrow mapInPandas -> numpy einsum, ~4 KB "
        "per partition regardless of row count) collect to an exact "
        "covariance on the driver, deterministic power iteration "
        "finds the top direction (fixed start/iterations/sign), and "
        "the projection SCORING runs back in-engine with the "
        "direction inlined as literals (the q_kmeans codebook move) — "
        "per-row dot products in codegen HOFs, grid-quantized before "
        "the per-label variance sums so the output is "
        "partitioning-independent. 100 TB cost = one scan for the "
        "Gram partials + one for scoring; the driver step is O(d^2)"
    ),
)
def q_pca_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project embeddings onto the top principal component; per-label
    census (label, n, mean_q, var_q) of the projection on the 1e-6
    integer grid."""
    from flexcalc_spark.tables import table_parallel

    v, _n = pca_top_eigvec(spark, sf_dir)
    e = table_parallel(spark, sf_dir, "embeddings")
    sig = ", ".join(repr(x) for x in v)
    proj_q = (
        "CAST(floor(aggregate(zip_with(embedding, array({sig}),"
        " (x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE),"
        " (acc, t) -> acc + t) * 1000000.0 + 0.5) AS BIGINT)"
    ).replace("{sig}", sig)
    p = e.select("label", F.expr(proj_q).alias("pq"))
    return (
        p.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pq").cast("bigint").alias("sp"),
            F.sum(F.col("pq") * F.col("pq")).cast("bigint").alias("spp"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n",
            F.expr(
                "CAST((sp + 1000000000000 * n) div n - 1000000000000"
                " AS BIGINT)"
            ).alias("mean_q"),
            # variance through double on exact integer inputs: the
            # BIGINT product n*spp sits ~3x under 2^63 at fixture
            # label sizes — too close to a silent wrap at scale
            F.expr(
                "CAST(floor((CAST(spp AS DOUBLE) * n"
                " - CAST(sp AS DOUBLE) * sp)"
                " / (CAST(n AS DOUBLE) * n)) AS BIGINT)"
            ).alias("var_q"),
        )
    )
