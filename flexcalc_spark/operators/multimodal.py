"""Multimodal-column operators (north star §2.3 "(multimodal)").

Each media key packs the ``embeddings`` fixture into a media batch —
each vector's float32 bytes become one opaque blob (an 8x8 image, four
4x4 video frames or a 64-sample waveform) with typed JSON metadata — and
runs the real decode/feature steps of sources/binaryfiles.py on it. The
whole chain (pack -> decode/feature step -> key-local reduce) is ONE
``map_batches`` call: one Arrow pass, so every row crosses the
JVM/Python boundary once. Because the blobs derive from a parquet table,
the DuckDB oracle computes the same features and the multimodal
PLUMBING (BinaryType columns, metadata JSON, UDF batch shape) is
hash-graded.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flexcalc_spark.registry import register
from flexcalc_spark.sources.binaryfiles import (
    FEATURE_SCHEMA,
    RESIZED_SCHEMA,
    features_batch,
    frame_sample_batch,
    map_batches,
    resize_batch,
)
from flexcalc_spark.tables import table_parallel


def pack_batch(pdf: pd.DataFrame, modality: str, meta_json: str) -> pd.DataFrame:
    """(vec_id, embedding) batch -> media batch (MEDIA_SCHEMA columns):
    blob = float32 little-endian bytes of the 64-dim vector."""
    # one stacked float32 conversion for the whole batch; only the
    # per-row tobytes (blob object creation) stays a loop
    arr = np.stack(pdf["embedding"].to_numpy()).astype("<f4")
    return pd.DataFrame(
        {
            "media_id": pdf["vec_id"].astype("int64"),
            "modality": modality,
            "fmt": "raw",
            "meta_json": meta_json,
            "content": [arr[i].tobytes() for i in range(len(pdf))],
        }
    )


PACK_IMAGE = partial(
    pack_batch, modality="image",
    meta_json='{"h": 8, "w": 8, "dtype": "float32"}',
)
PACK_VIDEO = partial(
    pack_batch, modality="video",
    meta_json='{"n_frames": 4, "h": 4, "w": 4, "dtype": "float32"}',
)
PACK_AUDIO = partial(
    pack_batch, modality="audio",
    meta_json='{"n_samples": 64, "sr": 16000, "dtype": "float32"}',
)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_parallel(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@register(
    "q_multimodal_features",
    oracle="""
        SELECT vec_id AS media_id,
               CAST(256 AS BIGINT) AS n_bytes,
               ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'avg'), 4) + 0.0
                   AS mean_intensity,
               CAST(4 AS BIGINT) AS thumb_h,
               CAST(4 AS BIGINT) AS thumb_w
        FROM embeddings
    """,
    family="multimodal",
    scale_notes="opaque binary column + typed metadata + Arrow decode UDF: pack -> decode -> features in one Arrow pass, so blobs never leave the executors and only narrow feature rows cross back to the JVM. Undecodable modalities degrade to flagged rows, not job failures",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + feature-extract over a multimodal media table."""
    feats = map_batches(
        _embeddings(spark, sf_dir), FEATURE_SCHEMA, PACK_IMAGE, features_batch
    )
    return feats.select(
        "media_id",
        "n_bytes",
        (
            F.round(F.col("mean_intensity").cast("double"), 4) + 0.0
        ).alias("mean_intensity"),
        F.col("thumb_h").cast("bigint").alias("thumb_h"),
        F.col("thumb_w").cast("bigint").alias("thumb_w"),
    )


@register(
    "q_multimodal_resize",
    oracle="""
        SELECT vec_id AS media_id,
               CAST(4 AS BIGINT) AS rh,
               CAST(4 AS BIGINT) AS rw,
               ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'avg'), 4) + 0.0
                   AS resized_mean
        FROM embeddings
    """,
    family="multimodal",
    scale_notes="pack -> decode -> resize in one Arrow pass: the blob is built, decoded and downsampled executor-side and only (media_id, rh, rw, mean) rows cross back to the JVM; 2x2 block-mean preserves the global mean exactly, so the oracle checks the resample arithmetic, not just plumbing",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize (2x block-mean downsample) over the media table."""
    resized = map_batches(
        _embeddings(spark, sf_dir), RESIZED_SCHEMA, PACK_IMAGE, resize_batch
    )
    return resized.select(
        "media_id",
        F.col("rh").cast("bigint").alias("rh"),
        F.col("rw").cast("bigint").alias("rw"),
        (F.round(F.col("resized_mean").cast("double"), 4) + 0.0).alias("resized_mean"),
    )


def frame_means_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Frame rows (media_id, frame_idx, px) -> per-frame float64 mean."""
    px = np.stack([np.frombuffer(bytes(b), dtype="<f4") for b in pdf["px"]])
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].astype("int64"),
            "frame_idx": pdf["frame_idx"].astype("int64"),
            "frame_mean": px.astype(np.float64).mean(axis=1),
        }
    )


@register(
    "q_multimodal_frames",
    oracle="""
        SELECT vec_id AS media_id,
               CAST(f.f AS BIGINT) AS frame_idx,
               ROUND(list_aggregate(
                   CAST(embedding AS DOUBLE[])[16 * f.f + 1 : 16 * f.f + 16],
                   'avg'), 4) + 0.0 AS frame_mean
        FROM embeddings CROSS JOIN (SELECT unnest([0, 2]) AS f) f
    """,
    family="multimodal",
    scale_notes=(
        "video frame sampling (every k-th frame) over opaque binary "
        "blobs in ONE Arrow pass: pack -> split each blob into frame "
        "rows -> reduce each frame to its features, all inside one "
        "batch function chain, so neither the blob nor the frame rows "
        "ever leave the executor's Python worker — at 100 TB the frame "
        "explosion multiplies rows by n_frames/k before any shuffle, "
        "and only per-frame features (narrow rows) cross back to the "
        "JVM. Codec-compressed video raises NotImplementedError "
        "explicitly (still-image decoders are all real now, so a "
        "per-frame decode succeeding must not masquerade as video "
        "support; plug a real codec in where the container has one); "
        "the raw-frames layout here keeps the arithmetic "
        "oracle-checkable end-to-end"
    ),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample (every 2nd frame) the video media table and reduce
    each sampled frame to its mean — (media_id, frame_idx, frame_mean)."""
    red = map_batches(
        _embeddings(spark, sf_dir),
        "media_id long, frame_idx long, frame_mean double",
        PACK_VIDEO,
        partial(frame_sample_batch, every_k=2),
        frame_means_batch,
    )
    return red.select(
        "media_id",
        "frame_idx",
        (F.round(F.col("frame_mean"), 4) + 0.0).alias("frame_mean"),
    )


def audio_windows_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Waveform media rows -> per 16-sample window (media_id,
    window_idx, energy, n_zero_cross)."""
    wave = np.stack(
        [np.frombuffer(bytes(b), dtype="<f4") for b in pdf["content"]]
    ).astype(np.float64)
    n = len(wave)
    win = wave.reshape(n, 4, 16)
    # sequential (left-fold) sum via cumsum: bit-identical to the
    # oracle's list_aggregate 'sum' fold, unlike pairwise np.sum
    energy = np.cumsum(win * win, axis=2)[:, :, -1] / 16.0
    zc = (win[:, :, :-1] * win[:, :, 1:] < 0).sum(axis=2)
    return pd.DataFrame(
        {
            "media_id": np.repeat(pdf["media_id"].to_numpy(), 4),
            "window_idx": np.tile(np.arange(4), n),
            "energy": energy.reshape(-1),
            "n_zero_cross": zc.reshape(-1).astype("int64"),
        }
    )


@register(
    "q_multimodal_audio",
    oracle="""
        WITH w AS (SELECT unnest([0, 1, 2, 3]) AS w),
        sl AS (
            SELECT vec_id, w.w,
                   CAST(embedding AS DOUBLE[])[16 * w.w + 1 : 16 * w.w + 16]
                       AS s
            FROM embeddings CROSS JOIN w
        )
        SELECT vec_id AS media_id,
               CAST(w AS BIGINT) AS window_idx,
               ROUND(list_aggregate(list_transform(s, x -> x * x), 'sum')
                     / 16.0, 4) + 0.0 AS energy,
               CAST(len(list_filter(range(2, 17),
                                    i -> s[i - 1] * s[i] < 0)) AS BIGINT)
                   AS n_zero_cross
        FROM sl
    """,
    family="multimodal",
    scale_notes=(
        "audio feature extraction over opaque waveform blobs — the "
        "third modality (image features/resize, video frame-sample, "
        "now audio windowing): ONE Arrow pass packs each waveform blob "
        "and windows it executor-side (16-sample hops), emitting narrow "
        "(media_id, window, energy, zero-crossings) rows; the blob "
        "never crosses back to the JVM, let alone shuffles. Real codecs "
        "(mp3/flac) plug into DECODERS beside the real image/wav "
        "decoders; raw float frames keep the windowed arithmetic "
        "oracle-checkable. Energy sums run SEQUENTIALLY (cumsum) to "
        "match the oracle's left fold bit-for-bit before the 1e-4 round"
    ),
)
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio features over the waveform media table: per
    16-sample window, mean energy and zero-crossing count."""
    feats = map_batches(
        _embeddings(spark, sf_dir),
        "media_id long, window_idx long, energy double, n_zero_cross long",
        PACK_AUDIO,
        audio_windows_batch,
    )
    return feats.select(
        "media_id",
        "window_idx",
        (F.round(F.col("energy"), 4) + 0.0).alias("energy"),
        "n_zero_cross",
    )


# --- perceptual-hash image dedup -------------------------------------
PHASH_MAX_HAMMING = 6   # near-dup threshold on the 64-bit signature


@register(
    "q_dedup_phash",
    oracle=f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ),
        v AS (
            SELECT vec_id, e FROM base
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id,
                   list_transform(e, x -> x * 1.05 + 0.01) AS e
            FROM base WHERE vec_id % 25 = 0
        ),
        m AS (
            SELECT vec_id, e, list_aggregate(e, 'sum') / 64.0 AS mu FROM v
        ),
        sig AS (
            SELECT vec_id,
                   list_transform(range(0, 8), j ->
                       list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                               list_transform(range(1, 9),
                                   k -> CAST(CASE WHEN e[8*j + k] > mu
                                             THEN 1 ELSE 0 END AS BIGINT))),
                           (acc, b) -> acc * 2 + b)) AS bands
            FROM m
        ),
        bandrows AS (
            SELECT vec_id, j.j, bands[j.j + 1] AS bv
            FROM sig, (SELECT unnest(range(0, 8)) AS j) j
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bandrows a JOIN bandrows b
              ON a.j = b.j AND a.bv = b.bv AND a.vec_id < b.vec_id
        ),
        scored AS (
            SELECT c.id_a, c.id_b,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(range(1, 9),
                               k -> CAST(bit_count(xor(sa.bands[k],
                                                       sb.bands[k]))
                                    AS BIGINT))),
                       (acc, h) -> acc + h) AS hamming
            FROM cand c
            JOIN sig sa ON sa.vec_id = c.id_a
            JOIN sig sb ON sb.vec_id = c.id_b
        )
        SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
        FROM scored WHERE hamming <= {PHASH_MAX_HAMMING}
    """,
    family="multimodal",
    scale_notes=(
        "image near-dup via perceptual hashing (average-hash): each "
        "image reduces to a 64-bit brightness signature (8 one-byte "
        "bands, pure codegen HOFs — the decode step is the same Arrow "
        "path q_multimodal_features grades), candidates come from an "
        "equi join on (band_idx, band_value) — the pigeonhole "
        "guarantee: hamming <= 6 over 8 bands forces >= 2 identical "
        "bands, so banding has GUARANTEED recall at the threshold, "
        "never all-pairs — and the exact Hamming verify runs only on "
        "candidate pairs (bit_count of XORed bands). This is the "
        "q_dedup_simhash construction pointed at the image modality — "
        "how production image-dataset dedup (LAION-style) actually "
        "runs. All-integer signatures: partitioning-independent"
    ),
)
def q_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-hash near-dup image pairs (hamming <= 6 on 64-bit
    signatures) via 8-band LSH candidates + exact XOR-popcount verify.

    The corpus is the fixture images plus a derived photometric-twin
    set (every 25th image re-rendered at 1.05x contrast + 0.01
    brightness): aHash thresholds against the IMAGE MEAN, so affine
    intensity changes leave the signature bits invariant — exactly the
    transform class perceptual dedup exists to catch and cosine/L2
    distance does not."""
    emb = table_parallel(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("e"),
    )
    twins = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr("transform(e, x -> x * 1.05 + 0.01)").alias("e"),
    )
    v = base.unionAll(twins)
    m = v.select(
        "vec_id",
        "e",
        F.expr(
            "aggregate(e, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / 64.0"
        ).alias("mu"),
    )
    sig = m.select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 7), j -> "
            "aggregate(sequence(1, 8), CAST(0 AS BIGINT), "
            "(acc, k) -> acc * 2 + CAST(CASE WHEN element_at(e, 8*j + k) > mu "
            "THEN 1 ELSE 0 END AS BIGINT)))"
        ).alias("bands"),
    ).cache()  # consumed by band explode AND both re-attach joins
    bandrows = sig.select(
        "vec_id", F.posexplode("bands").alias("j", "bv")
    )
    a = bandrows.alias("a")
    b = bandrows.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .distinct()
    )
    sa = sig.select(F.col("vec_id").alias("id_a"), F.col("bands").alias("ba"))
    sb = sig.select(F.col("vec_id").alias("id_b"), F.col("bands").alias("bb"))
    scored = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(sequence(1, 8), CAST(0 AS BIGINT), "
                "(acc, k) -> acc + CAST(bit_count(element_at(ba, k) ^ "
                "element_at(bb, k)) AS BIGINT))"
            ).alias("hamming"),
        )
    )
    return scored.filter(
        F.col("hamming") <= PHASH_MAX_HAMMING
    ).select("id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming"))
