"""CT processing layer — the flexcalc reference surface (SURVEY.md §2.1)
re-expressed on the Spark slice-table model (SURVEY §1.2).

Data model: a projection stack / volume is a DataFrame of 2-D slices
    (dataset_id: string, axis: int, idx: int, h: int, w: int,
     dtype: string, px: binary)
with ``px`` the raw C-order bytes of one (h, w) slice. A row's ``dtype``
tag always names the type its bytes are stored in: every reader decodes
by the tag, every writer tags what it wrote (float32 unless the op
narrows, as cast2type does).

Every per-slice operator crosses into numpy through three helpers:
- ``_decode``: one frombuffer of a group of slices sharing (h, w, dtype)
  into an (n, h, w) stack;
- ``_map_slices``: slice -> slice kernels over those stacks (one
  Arrow-vectorized ``mapInPandas``); h, w and the tag follow the result;
- ``_reduce_slices``: slice -> scalars kernels, one output row per slice,
  which a relational aggregation then folds.
Whole-stack ops assemble a dataset with ``groupBy(...).applyInPandas``.

Reference parity (cites are module::symbol — the reference source is not
available offline, see SURVEY §0):
- R2  preprocess        <- flexcalc/process.py::preprocess
- R3  residual_rings    <- flexcalc/process.py::residual_rings
- R9  bounding_box      <- flexcalc/process.py::bounding_box
- R12 affine (translate)<- flexcalc/process.py::translate/affine
- R13 register (moments)<- flexcalc/process.py::register_volumes (moments init)
- R15 append_tile       <- flexcalc/process.py::append_tile
- R18 histogram         <- flexcalc/analyze.py::histogram
- R20 centre            <- flexcalc/analyze.py::centre
- R21 moments           <- flexcalc/analyze.py::moment2
R25 (FDK/SIRT reconstruction) needs the ASTRA GPU toolbox, unavailable
offline — ``reconstruct_hook`` documents the applyInPandas extension
point and raises NotImplementedError.

Scale: one float32 slice row is h*w*4 bytes; a 4k-detector slice is
64 MB — rows stay under Arrow batch limits, stacks of any depth
distribute across executors. Only the truly-3D ops (R3/R15/R17)
assemble a whole dataset in one worker (SURVEY §4.3.4 constraint: one
dataset must fit one worker), everything else is per-slice streaming.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

SLICE_SCHEMA = StructType(
    [
        StructField("dataset_id", StringType()),
        StructField("axis", IntegerType()),
        StructField("idx", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("px", BinaryType()),
    ]
)


def slices_from_array(
    spark: SparkSession, dataset_id: str, vol: np.ndarray, axis: int = 0
) -> DataFrame:
    """Pack a dense 3-D float32 array into the slice table, slicing
    along ``axis`` (the array is transposed so the tagged axis is the
    one actually sliced — tag and layout stay consistent)."""
    vol = np.moveaxis(np.asarray(vol, dtype=np.float32), axis, 0)
    rows = [
        (dataset_id, axis, i, vol.shape[1], vol.shape[2], "float32",
         vol[i].tobytes())
        for i in range(vol.shape[0])
    ]
    n_parts = min(len(rows), spark.sparkContext.defaultParallelism) or 1
    return spark.createDataFrame(rows, SLICE_SCHEMA).repartition(n_parts)


def array_from_slices(df: DataFrame) -> np.ndarray:
    """Collect a slice table back to a dense (d, h, w) array (driver-side;
    test/debug path — production sinks write parquet)."""
    rows = sorted(df.collect(), key=lambda r: r.idx)
    return np.stack(
        [np.frombuffer(r.px, dtype=np.dtype(r.dtype)).reshape(r.h, r.w) for r in rows]
    )


def _decode(g: pd.DataFrame, p: str = "") -> np.ndarray:
    """The (n, h, w) stack of slice group ``g`` whose rows share one
    (h, w, dtype): a single frombuffer over the concatenated ``p + "px"``
    blobs, in the dtype the rows are tagged with (``p`` selects a
    prefixed copy of the slice columns, e.g. the fixed side of a join)."""
    h, w, dt = (g[p + c].iloc[0] for c in ("h", "w", "dtype"))
    return np.frombuffer(
        b"".join(bytes(b) for b in g[p + "px"]), dtype=np.dtype(dt)
    ).reshape(len(g), int(h), int(w))


def _batch_groups(pdf: pd.DataFrame):
    """Yield (positions, stack) per homogeneous (h, w, dtype) group of a
    batch: positions are integer row positions into ``pdf``, stack is
    ``_decode`` of the group. Kernels vectorize over the whole stack;
    mixed-shape batches simply split into a few homogeneous stacks."""
    pdf = pdf.reset_index(drop=True)
    for _, g in pdf.groupby(["h", "w", "dtype"], sort=False):
        yield g.index.to_numpy(), _decode(g)


def _map_slices(df: DataFrame, kernel, dtype=np.float32) -> DataFrame:
    """Slice -> slice: ``kernel`` maps each homogeneous (n, h, w) stack
    of a batch to an (n, h', w') stack, stored as ``dtype``; each row's
    h, w and dtype tag follow the result."""
    tag = np.dtype(dtype).name

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            px = [None] * len(pdf)
            h, w = pdf["h"].to_numpy().copy(), pdf["w"].to_numpy().copy()
            for pos, arr in _batch_groups(pdf):
                res = np.ascontiguousarray(kernel(arr), dtype=dtype)
                h[pos], w[pos] = res.shape[1], res.shape[2]
                for j, p in enumerate(pos):
                    px[p] = res[j].tobytes()
            yield pdf.assign(h=h, w=w, dtype=tag, px=px)

    return df.mapInPandas(mapper, SLICE_SCHEMA)


def _reduce_slices(df: DataFrame, schema: StructType, kernel) -> DataFrame:
    """Slice -> scalars: ``kernel`` maps each homogeneous (n, h, w) stack
    to one length-n array per ``schema`` column the slice table does not
    carry; the columns it does carry (dataset_id, idx) pass through. One
    output row per slice, in batch order; column dtypes promote across
    groups (uint8 minima next to float32 ones stay exact)."""
    names = schema.fieldNames()
    kept = [c for c in names if c in SLICE_SCHEMA.fieldNames()]
    computed = [c for c in names if c not in kept]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            pos, outs = zip(*((p, kernel(a)) for p, a in _batch_groups(pdf)))
            back = np.argsort(np.concatenate(pos))
            by_col = zip(computed, zip(*outs), strict=True)
            cols = {c: np.concatenate(vals)[back] for c, vals in by_col}
            yield pdf[kept].assign(**cols)[names]

    return df.mapInPandas(mapper, schema)


def bin2x2(stack: np.ndarray) -> np.ndarray:
    """2x2 block mean of an (n, h, w) stack in float64 — odd trailing
    rows/columns drop, so the result is (n, h // 2, w // 2)."""
    h, w = stack.shape[1] // 2 * 2, stack.shape[2] // 2 * 2
    a = stack[:, :h, :w].astype(np.float64)
    return (
        a[:, 0::2, 0::2] + a[:, 0::2, 1::2]
        + a[:, 1::2, 0::2] + a[:, 1::2, 1::2]
    ) / 4.0


# --------------------------------------------------------------------- R2
def preprocess(df: DataFrame, flat: np.ndarray, dark: np.ndarray) -> DataFrame:
    """Flat-field + log transform: -log((I - dark) / (flat - dark)).

    flexcalc/process.py::preprocess (R2). flat/dark are per-detector
    reference images, closed over and shipped to workers inside the
    Arrow kernel (at scale: spark broadcast variables)."""
    flat32 = np.asarray(flat, dtype=np.float32)
    dark32 = np.asarray(dark, dtype=np.float32)
    denom = np.maximum(flat32 - dark32, 1e-6)

    def kernel(stack: np.ndarray) -> np.ndarray:
        # (n, h, w) batch against (h, w) references: one broadcast op
        norm = np.clip((stack - dark32[None]) / denom[None], 1e-6, None)
        return -np.log(norm)

    return _map_slices(df, kernel)


# --------------------------------------------------------------------- R3
def residual_rings(df: DataFrame) -> DataFrame:
    """Ring-artifact removal: subtract the per-dataset mean over the
    angle axis (slice idx) from every projection.

    flexcalc/process.py::residual_rings (R3). The angle-mean is a
    per-(row,col) aggregation across slices — computed with
    applyInPandas per dataset (whole-stack op)."""

    def dering(pdf: pd.DataFrame) -> pd.DataFrame:
        imgs = _decode(pdf)
        residual = imgs.mean(axis=0) - imgs.mean()
        out = (imgs - residual[None, :, :]).astype(np.float32)
        return pdf.assign(dtype="float32", px=[o.tobytes() for o in out])

    return df.groupBy("dataset_id").applyInPandas(dering, SLICE_SCHEMA)


# --------------------------------------------------------------------- R9
def bounding_box(df: DataFrame, threshold: float = 0.0) -> DataFrame:
    """Content bounding box per dataset: min/max slice/row/col where
    px > threshold. flexcalc/process.py::bounding_box (R9).

    Per-slice reduction (_reduce_slices, tiny output per slice), then a
    relational min/max agg — no stack assembly."""
    reduced_schema = StructType(
        [
            StructField("dataset_id", StringType()),
            StructField("idx", IntegerType()),
            StructField("rmin", IntegerType()),
            StructField("rmax", IntegerType()),
            StructField("cmin", IntegerType()),
            StructField("cmax", IntegerType()),
            StructField("any_content", IntegerType()),
        ]
    )

    def kernel(arr: np.ndarray) -> tuple:
        h, w = arr.shape[1], arr.shape[2]
        row_any = (arr > threshold).any(axis=2)       # (n, h)
        col_any = (arr > threshold).any(axis=1)       # (n, w)
        has = row_any.any(axis=1)
        # first/last True via argmax on the bool mask and its flip
        return (
            np.where(has, row_any.argmax(axis=1), 0),
            np.where(has, h - 1 - row_any[:, ::-1].argmax(axis=1), -1),
            np.where(has, col_any.argmax(axis=1), 0),
            np.where(has, w - 1 - col_any[:, ::-1].argmax(axis=1), -1),
            has.astype(np.int64),
        )

    red = _reduce_slices(df, reduced_schema, kernel)
    content = red.filter(F.col("any_content") == 1)
    return content.groupBy("dataset_id").agg(
        F.min("idx").alias("z0"),
        F.max("idx").alias("z1"),
        F.min("rmin").alias("y0"),
        F.max("rmax").alias("y1"),
        F.min("cmin").alias("x0"),
        F.max("cmax").alias("x1"),
    )


# -------------------------------------------------------------------- R12
def translate(df: DataFrame, dy: int, dx: int) -> DataFrame:
    """Integer translation of every slice (zero fill) — the numpy-only
    rendering of flexcalc/process.py::translate (R12; scipy.ndimage
    interpolating variants gate behind an import-try at deploy time)."""

    def kernel(stack: np.ndarray) -> np.ndarray:
        out = np.zeros_like(stack)
        h, w = stack.shape[1], stack.shape[2]
        if abs(dy) >= h or abs(dx) >= w:
            return out  # shifted fully out of frame
        ys, yd = (dy, 0) if dy >= 0 else (0, -dy)
        xs, xd = (dx, 0) if dx >= 0 else (0, -dx)
        out[:, ys : h - yd, xs : w - xd] = stack[:, yd : h - ys, xd : w - xs]
        return out

    return _map_slices(df, kernel)


# -------------------------------------------------------------------- R13
def register_translation(df_fixed: DataFrame, df_moving: DataFrame) -> tuple[float, ...]:
    """Moments-based rigid registration (translation part): the shift
    between intensity centroids. flexcalc/process.py::register_volumes
    uses the same moments initialization before refinement (R13).

    Distributed: each side is three weighted-centroid aggregations
    (R20) over per-slice partial sums — no stack assembly."""

    def centroid(df: DataFrame) -> tuple[float, float, float]:
        parts_schema = StructType(
            [
                StructField("idx", IntegerType()),
                StructField("wsum", DoubleType()),
                StructField("wy", DoubleType()),
                StructField("wx", DoubleType()),
            ]
        )

        def kernel(arr: np.ndarray) -> tuple:
            a = arr.astype(np.float64)
            rowsum = a.sum(axis=2)                    # (n, h)
            colsum = a.sum(axis=1)                    # (n, w)
            # sum(img[y,x]*y) = sum_y y * rowsum[y] — one matvec
            return (
                rowsum.sum(axis=1),
                rowsum @ np.arange(a.shape[1], dtype=np.float64),
                colsum @ np.arange(a.shape[2], dtype=np.float64),
            )

        agg = (
            _reduce_slices(df, parts_schema, kernel)
            .agg(
                F.sum("wsum").alias("w"),
                F.sum(F.col("idx") * F.col("wsum")).alias("wz"),
                F.sum("wy").alias("wy"),
                F.sum("wx").alias("wx"),
            )
            .collect()[0]
        )
        return (agg["wz"] / agg["w"], agg["wy"] / agg["w"], agg["wx"] / agg["w"])

    cf = centroid(df_fixed)
    cm = centroid(df_moving)
    return tuple(f - m for f, m in zip(cf, cm))


# -------------------------------------------------------------------- R15
def append_tile(df_total: DataFrame, df_tile: DataFrame) -> DataFrame:
    """Feathered merge of overlapping tiles: weighted average where both
    contribute. flexcalc/process.py::append_tile (R15).

    Relational formulation: union the slice streams, group by slice
    coordinate, average the overlapping pixel blocks (weight = presence).
    """

    def blend(pdf: pd.DataFrame) -> pd.DataFrame:
        imgs = _decode(pdf).astype(np.float64)
        weights = (imgs != 0).astype(np.float64)
        wsum = weights.sum(axis=0)
        blended = np.where(wsum > 0, imgs.sum(axis=0) / np.maximum(wsum, 1), 0.0)
        return pdf.iloc[[0]].assign(
            dtype="float32", px=[blended.astype(np.float32).tobytes()]
        )

    both = df_total.unionByName(df_tile)
    return both.groupBy("dataset_id", "axis", "idx").applyInPandas(
        blend, SLICE_SCHEMA
    )


# -------------------------------------------------------------------- R10
def cast2type(
    df: DataFrame, dtype: str = "uint8", bounds: tuple[float, float] | None = None
) -> DataFrame:
    """Range-mapped dtype narrowing: clip to [lo, hi], scale to the
    integer type's full range. flexdata/data.py::cast2type (R10).

    bounds=None derives (min, max) with one distributed pass (per-slice
    partials + a relational min/max agg) — the flexcalc behavior of
    inferring bounds from the data."""
    if bounds is None:
        stats_schema = StructType(
            [StructField("lo", DoubleType()), StructField("hi", DoubleType())]
        )
        r = _reduce_slices(
            df, stats_schema,
            lambda arr: (arr.min(axis=(1, 2)), arr.max(axis=(1, 2))),
        ).agg(F.min("lo").alias("lo"), F.max("hi").alias("hi")).collect()[0]
        bounds = (r["lo"], r["hi"])
    lo, hi = bounds
    target = np.dtype(dtype)
    maxval = np.iinfo(target).max
    span = max(hi - lo, 1e-12)

    # genuine narrowing: the bytes are the rounded integers themselves
    def kernel(arr: np.ndarray) -> np.ndarray:
        scaled = np.clip((arr - lo) / span, 0.0, 1.0) * maxval
        return np.round(scaled).astype(target)

    return _map_slices(df, kernel, target)


# --------------------------------------------------------------------- R5
def interpolate_holes(df: DataFrame, mask2d: np.ndarray) -> DataFrame:
    """Dead-pixel inpainting: replace masked pixels with the mean of
    their valid 3x3 neighbors. flexcalc/process.py::interpolate_holes
    (R5), numpy-only (no scipy in this container)."""
    mask = np.asarray(mask2d, dtype=bool)

    def kernel(stack: np.ndarray) -> np.ndarray:
        n, h, w = stack.shape
        valid = (~mask).astype(np.float64)
        vals = np.where(mask[None], 0.0, stack.astype(np.float64))
        p_v = np.pad(vals, ((0, 0), (1, 1), (1, 1)))
        p_w = np.pad(valid, 1)
        num = np.zeros_like(vals)
        den = np.zeros((h, w))
        for dy in (0, 1, 2):
            for dx in (0, 1, 2):
                if dy == 1 and dx == 1:
                    continue
                num += p_v[:, dy : dy + h, dx : dx + w]
                den += p_w[dy : dy + h, dx : dx + w]
        fill = num / np.maximum(den, 1.0)[None]
        return np.where(mask[None], fill, stack)

    return _map_slices(df, kernel)


# --------------------------------------------------------------------- R7
def equivalent_density(df: DataFrame, lut_x: np.ndarray, lut_y: np.ndarray) -> DataFrame:
    """Beam-hardening correction: map intensity -> equivalent density
    through a precomputed lookup (computed driver-side from the effective
    spectrum, applied per pixel via interpolation).
    flexcalc/process.py::equivalent_density (R7)."""
    xs = np.asarray(lut_x, dtype=np.float64)
    ys = np.asarray(lut_y, dtype=np.float64)

    def kernel(stack: np.ndarray) -> np.ndarray:
        # np.interp flattens internally — the whole (n, h, w) stack maps
        # through the LUT in one call
        return np.interp(stack.astype(np.float64), xs, ys)

    return _map_slices(df, kernel)


# -------------------------------------------------------------------- R23
def calibrate_spectrum_lite(
    pairs_df: DataFrame, energies: np.ndarray, mu: np.ndarray, reg: float = 1e-3
) -> np.ndarray:
    """Effective-spectrum estimation from (path_length, intensity) pairs:
    solve min_w || exp(-L outer mu) w - I ||^2 + reg ||w||^2, w >= 0-ish.
    flexcalc/analyze.py::calibrate_spectrum (R23), with the forward
    projector replaced by caller-supplied path lengths (ASTRA-free).

    Distributed part: pairs_df((L double, I double)) is typically an
    aggregation of segmented projections; the regularized least-squares
    solve happens driver-side on the collected (small) pair set — the
    same split as the reference (numpy lstsq on pairs)."""
    pairs = pairs_df.select("L", "I").collect()
    L = np.array([r["L"] for r in pairs], dtype=np.float64)
    I = np.array([r["I"] for r in pairs], dtype=np.float64)
    A = np.exp(-np.outer(L, np.asarray(mu, dtype=np.float64)))
    n = A.shape[1]
    lhs = A.T @ A + reg * np.eye(n)
    rhs = A.T @ I
    w = np.linalg.solve(lhs, rhs)
    w = np.clip(w, 0.0, None)
    s = w.sum()
    return w / s if s > 0 else w


# -------------------------------------------------------------------- R16
def optimize_axis_offset(
    df_fixed: DataFrame, df_moving: DataFrame, offsets: list[int]
) -> int:
    """Grid-search the x-offset minimizing SSD between two stacks — the
    coarse sweep pattern of flexcalc/process.py::optimize_rotation_center
    (R16): each trial is one Spark job, the metric is a distributed
    aggregation, argmin happens driver-side.

    The fixed stack is never collected: each trial equi-joins fixed and
    shifted slices on idx (inner join, so unmatched indices contribute
    nothing), and the per-slice SSD reduces inside the join kernel —
    only one double per slice leaves the executors."""
    diff_schema = StructType([StructField("ssd", DoubleType())])
    # Each side must be ONE stack: the (axis, idx) pairing below would
    # silently cross-match slices if either side held several datasets
    # (fixed and moving keep their own dataset_ids — registration is
    # across datasets by design, so dataset_id is NOT a join key).
    for side, name in ((df_fixed, "df_fixed"), (df_moving, "df_moving")):
        n_ds = side.select("dataset_id").distinct().count()
        if n_ds > 1:
            raise ValueError(
                f"optimize_axis_offset: {name} holds {n_ds} datasets; "
                "pass one stack per side"
            )
    fixed = df_fixed.select(
        F.col("axis").alias("f_axis"),
        F.col("idx").alias("f_idx"),
        F.col("h").alias("f_h"),
        F.col("w").alias("f_w"),
        F.col("dtype").alias("f_dtype"),
        F.col("px").alias("f_px"),
    )

    best_offset, best_ssd = None, None
    for off in offsets:
        shifted = translate(df_moving, 0, off)
        paired = shifted.join(
            fixed,
            (shifted.axis == fixed.f_axis) & (shifted.idx == fixed.f_idx),
            "inner",
        )

        def ssd_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                n = len(pdf)
                ssd = np.zeros(n)
                # group on BOTH sides' shape/dtype so each pair of
                # homogeneous stacks reduces in one vectorized pass
                pdf = pdf.reset_index(drop=True)
                by = ["h", "w", "dtype", "f_h", "f_w", "f_dtype"]
                for _, g in pdf.groupby(by, sort=False):
                    a = _decode(g).astype(np.float64)
                    r = _decode(g, "f_")
                    ssd[g.index.to_numpy()] = ((a - r) ** 2).sum(axis=(1, 2))
                yield pd.DataFrame({"ssd": ssd})

        total = (
            paired.mapInPandas(ssd_partials, diff_schema)
            .agg(F.sum("ssd").alias("s"))
            .collect()[0]["s"]
        )
        if total is not None and (best_ssd is None or total < best_ssd):
            best_ssd, best_offset = total, off
    return best_offset


# --------------------------------------------------------------------- R8
def sample_slices(df: DataFrame, skip: int) -> DataFrame:
    """Angular/axial subsampling: keep every ``skip``-th slice — the
    `skip=` parameter of flexcalc/process.py::process_flex (R8). A pure
    filter: Catalyst pushes it ahead of any kernel."""
    return df.filter(F.col("idx") % skip == 0)


def bin_slices(df: DataFrame) -> DataFrame:
    """2x spatial binning per slice (detector pixel binning, the
    `sample=` parameter of R8): 2x2 block mean, halved h/w."""

    return _map_slices(df, bin2x2)


# -------------------------------------------------------------------- R22
def find_marker(df: DataFrame, radius: int = 2) -> tuple[int, int, int]:
    """Calibration-marker detection: matched filter (disk template,
    zero-mean) correlated over every slice, global argmax across the
    stack. flexcalc/analyze.py::find_marker (R22).

    Distributed shape: per-slice correlation peaks reduce map-side (one
    row per slice), the global argmax is a relational max_by — the same
    argmax-aggregation pattern as q_agg_minmax_by."""
    size = 2 * radius + 1
    ys, xs = np.mgrid[:size, :size] - radius
    template = ((ys**2 + xs**2) <= radius**2).astype(np.float64)
    template -= template.mean()

    peak_schema = StructType(
        [
            StructField("idx", IntegerType()),
            StructField("score", DoubleType()),
            StructField("py", IntegerType()),
            StructField("px_", IntegerType()),
        ]
    )

    def kernel(arr: np.ndarray) -> tuple:
        # valid-mode correlation via strided windows: einsum over the
        # (n, h', w', size, size) view never materializes it
        win = np.lib.stride_tricks.sliding_window_view(
            arr.astype(np.float64), (size, size), axis=(1, 2)
        )
        corr = np.einsum("nhwuv,uv->nhw", win, template)
        flat = corr.reshape(len(arr), -1)
        arg = flat.argmax(axis=1)
        return (
            flat[np.arange(len(arr)), arg],
            arg // corr.shape[2] + radius,
            arg % corr.shape[2] + radius,
        )

    top = (
        _reduce_slices(df, peak_schema, kernel)
        .agg(
            F.expr("max_by(idx, score)").alias("z"),
            F.expr("max_by(py, score)").alias("y"),
            F.expr("max_by(px_, score)").alias("x"),
        )
        .collect()[0]
    )
    return int(top["z"]), int(top["y"]), int(top["x"])


# -------------------------------------------------------------------- R14
def register_geometries(
    points_fix: np.ndarray, points_mov: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Rigid transform (R, T) aligning corresponding 3-D point sets
    (Kabsch / orthogonal Procrustes): R @ p_mov + T ~= p_fix.

    flexcalc/process.py::register_astra_geometry (R14) aligns two scans'
    geometries from marker/feature correspondences — driver-side numpy
    on collected small data, exactly as the reference (the points arrive
    from distributed marker detection, R22-style argmax aggregations)."""
    pf = np.asarray(points_fix, dtype=np.float64)
    pm = np.asarray(points_mov, dtype=np.float64)
    cf, cm = pf.mean(axis=0), pm.mean(axis=0)
    h = (pm - cm).T @ (pf - cf)
    u, _s, vt = np.linalg.svd(h)
    d = np.sign(np.linalg.det(vt.T @ u.T))
    r = vt.T @ np.diag([1.0, 1.0, d]) @ u.T
    t = cf - r @ cm
    return r, t


# -------------------------------------------------------------------- R17
_STL_TRI_SCHEMA = StructType(
    [
        StructField("dataset_id", StringType()),
        StructField("nx", DoubleType()),
        StructField("ny", DoubleType()),
        StructField("nz", DoubleType()),
        StructField("ax", DoubleType()), StructField("ay", DoubleType()),
        StructField("az", DoubleType()),
        StructField("bx", DoubleType()), StructField("by", DoubleType()),
        StructField("bz", DoubleType()),
        StructField("cx", DoubleType()), StructField("cy", DoubleType()),
        StructField("cz", DoubleType()),
    ]
)


def surface_triangles(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Surface mesh of a binarized volume as a triangle DataFrame: two
    triangles per exposed voxel face (voxel-face extraction — the
    skimage marching-cubes of flexcalc/process.py::generate_stl (R17) is
    unavailable offline; this produces a valid, watertight, blockier
    mesh with identical downstream STL plumbing).

    Whole-stack op (z-faces need neighbor slices) ->
    groupBy(dataset_id).applyInPandas, triangles stream out as rows —
    the mesh never assembles in one place until the STL sink."""

    def extract(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("idx")
        h, w = int(pdf["h"].iloc[0]), int(pdf["w"].iloc[0])
        vol = np.empty((len(pdf), h, w), dtype=bool)
        for pos, arr in _batch_groups(pdf):
            vol[pos] = arr > threshold
        ds = pdf["dataset_id"].iloc[0]
        solid = np.pad(vol, 1).astype(bool)
        tris = []

        def quad(p0, p1, p2, p3, n):
            # Reversed vertex order: right-hand winding must agree with
            # the outward facet normal (STL consumers derive orientation
            # from winding; the natural p0->p1->p2 order here is inward).
            tris.append((ds, *n, *p0, *p2, *p1))
            tris.append((ds, *n, *p0, *p3, *p2))

        zz, yy, xx = np.where(vol)
        for z, y, x in zip(zz, yy, xx):
            pz, py, px_ = z + 1, y + 1, x + 1  # padded coords
            # exposed faces: neighbor empty -> emit face at voxel boundary
            if not solid[pz - 1, py, px_]:
                quad((z, y, x), (z, y + 1, x), (z, y + 1, x + 1), (z, y, x + 1), (-1, 0, 0))
            if not solid[pz + 1, py, px_]:
                quad((z + 1, y, x), (z + 1, y, x + 1), (z + 1, y + 1, x + 1), (z + 1, y + 1, x), (1, 0, 0))
            if not solid[pz, py - 1, px_]:
                quad((z, y, x), (z, y, x + 1), (z + 1, y, x + 1), (z + 1, y, x), (0, -1, 0))
            if not solid[pz, py + 1, px_]:
                quad((z, y + 1, x), (z + 1, y + 1, x), (z + 1, y + 1, x + 1), (z, y + 1, x + 1), (0, 1, 0))
            if not solid[pz, py, px_ - 1]:
                quad((z, y, x), (z + 1, y, x), (z + 1, y + 1, x), (z, y + 1, x), (0, 0, -1))
            if not solid[pz, py, px_ + 1]:
                quad((z, y, x + 1), (z, y + 1, x + 1), (z + 1, y + 1, x + 1), (z + 1, y, x + 1), (0, 0, 1))
        return pd.DataFrame(tris, columns=[f.name for f in _STL_TRI_SCHEMA.fields])

    return df.groupBy("dataset_id").applyInPandas(extract, _STL_TRI_SCHEMA)


def write_stl(triangles: DataFrame, path: str) -> int:
    """Binary-STL sink for a triangle DataFrame; returns triangle count.
    flexcalc/process.py::generate_stl's file-writing half (R17)."""
    import struct

    rows = triangles.collect()
    with open(path, "wb") as fh:
        fh.write(b"\x00" * 80)
        fh.write(struct.pack("<I", len(rows)))
        for r in rows:
            fh.write(
                struct.pack(
                    "<12fH",
                    r.nx, r.ny, r.nz,
                    r.ax, r.ay, r.az,
                    r.bx, r.by, r.bz,
                    r.cx, r.cy, r.cz,
                    0,
                )
            )
    return len(rows)


# -------------------------------------------------------------------- R25
def reconstruct_hook(df: DataFrame, geometry: dict) -> DataFrame:
    """FDK/SIRT reconstruction extension point (flextomo/projector.py::FDK,
    R25). Requires the ASTRA toolbox (GPU), not installable offline —
    a deployment providing `astra` plugs its kernel into the same
    groupBy(dataset_id).applyInPandas shape used by residual_rings."""
    raise NotImplementedError(
        "Reconstruction needs the ASTRA toolbox (GPU); plug a kernel into "
        "groupBy('dataset_id').applyInPandas with SLICE_SCHEMA output."
    )
