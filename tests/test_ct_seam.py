"""The slice-kernel seam of flexcalc_spark/ct.py: every per-slice
operator crosses into numpy through ``_decode``, ``_map_slices`` or
``_reduce_slices``, and a slice row's dtype tag always names the type
of its bytes.

- mixed-shape batches: one partition holding two slice shapes, where
  every output row must line up with its own input row;
- each slice -> slice op equals a numpy reference applied to
  ``array_from_slices`` of its input, byte for byte;
- residual_rings / append_tile decode integer slices by their tag;
- an AST guard keeps new batch loops and decodes out of ct.py.
"""

from __future__ import annotations

import ast
import inspect

import numpy as np
import pytest
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from flexcalc_spark import ct


def _phantom(shape, seed):
    rng = np.random.RandomState(seed)
    vol = rng.uniform(0.0, 0.1, size=shape).astype(np.float32)
    d, h, w = shape
    vol[1 : d - 1, h // 4 : 3 * h // 4, w // 4 : 3 * w // 4] += 1.0
    return vol


@pytest.fixture(scope="module")
def mixed(spark):
    """One partition, two slice shapes: (5, 12, 10) and (3, 7, 9)."""
    vols = {"a": _phantom((5, 12, 10), 11), "b": _phantom((3, 7, 9), 12)}
    # a radius-1 disk (a plus) on b's slice 2: the matched filter's peak
    vols["b"][2, [2, 3, 3, 3, 4], [6, 5, 6, 7, 6]] += 4.0
    a, b = (ct.slices_from_array(spark, k, v) for k, v in vols.items())
    return a.unionByName(b).coalesce(1), vols


def _keys(rows):
    return [(r.dataset_id, r.idx) for r in rows]


def _shift_2_m3(s):
    """Reference translate(dy=2, dx=-3) of an (n, h, w) stack."""
    out = np.zeros_like(s)
    out[:, 2:, : s.shape[2] - 3] = s[:, : s.shape[1] - 2, 3:]
    return out


def _bin_ref(s):
    """Reference 2x2 block mean, one output pixel at a time."""
    n, h, w = s.shape[0], s.shape[1] // 2, s.shape[2] // 2
    out = np.zeros((n, h, w))
    for k in range(n):
        for y in range(h):
            for x in range(w):
                a = s[k, 2 * y : 2 * y + 2, 2 * x : 2 * x + 2].astype(np.float64)
                out[k, y, x] = (a[0, 0] + a[0, 1] + a[1, 0] + a[1, 1]) / 4.0
    return out.astype(np.float32)


@pytest.mark.parametrize(
    "op, ref",
    [(lambda df: ct.translate(df, 2, -3), _shift_2_m3), (ct.bin_slices, _bin_ref)],
    ids=["translate", "bin_slices"],
)
def test_map_slices_mixed_batch_rows_line_up(mixed, op, ref):
    df, vols = mixed
    got = op(df).collect()
    assert _keys(got) == _keys(df.collect())
    for r in got:
        want = ref(vols[r.dataset_id][r.idx][None])[0]
        assert (r.h, r.w, r.dtype) == (*want.shape, "float32")
        assert r.px == want.tobytes()


def test_reduce_slices_mixed_batch_rows_line_up(mixed):
    df, vols = mixed
    schema = StructType(
        [
            StructField("dataset_id", StringType()),
            StructField("idx", IntegerType()),
            StructField("total", DoubleType()),
            StructField("width", IntegerType()),
        ]
    )
    got = ct._reduce_slices(
        df, schema,
        lambda s: (s.astype(np.float64).sum(axis=(1, 2)), np.full(len(s), s.shape[2])),
    ).collect()
    assert _keys(got) == _keys(df.collect())
    for r in got:
        v = vols[r.dataset_id][r.idx]
        assert r.total == pytest.approx(v.astype(np.float64).sum(), rel=1e-12)
        assert r.width == v.shape[1]


def test_reduce_slices_mixed_dtype_batch_keeps_float_values(spark):
    """A uint8 group ahead of a float32 group in one batch: the float
    minima must not be stored into a uint8 column."""
    u8 = ct.cast2type(ct.slices_from_array(spark, "u", _VOL), "uint8")
    f32 = ct.slices_from_array(spark, "f", _VOL * 0.5)
    schema = StructType(
        [
            StructField("dataset_id", StringType()),
            StructField("idx", IntegerType()),
            StructField("lo", DoubleType()),
        ]
    )
    got = ct._reduce_slices(
        u8.unionByName(f32).coalesce(1), schema, lambda s: (s.min(axis=(1, 2)),)
    ).collect()
    want = {
        (ds, i): float(v.min())
        for ds, df in (("u", u8), ("f", f32))
        for i, v in enumerate(ct.array_from_slices(df))
    }
    assert {(r.dataset_id, r.idx): r.lo for r in got} == want


def test_bounding_box_and_find_marker_on_mixed_batch(mixed):
    df, vols = mixed
    bbox = {
        r.dataset_id: (r.z0, r.z1, r.y0, r.y1, r.x0, r.x1)
        for r in ct.bounding_box(df, threshold=0.5).collect()
    }
    for ds, v in vols.items():
        z, y, x = np.nonzero(v > 0.5)
        assert bbox[ds] == (z.min(), z.max(), y.min(), y.max(), x.min(), x.max())
    assert ct.find_marker(df, radius=1) == (2, 3, 6)


def _interp_ref(vol, mask):
    """Reference hole fill: mean of the valid 3x3 neighbours, per pixel."""
    out = vol.astype(np.float64)
    d, h, w = vol.shape
    for k in range(d):
        for y, x in zip(*np.nonzero(mask)):
            s, c = 0.0, 0
            for yy in (y - 1, y, y + 1):
                for xx in (x - 1, x, x + 1):
                    inside = 0 <= yy < h and 0 <= xx < w
                    if (yy, xx) != (y, x) and inside and not mask[yy, xx]:
                        s, c = s + float(vol[k, yy, xx]), c + 1
            out[k, y, x] = s / max(c, 1)
    return out.astype(np.float32)


def _cast_ref(vol, dtype, lo, hi):
    span = max(hi - lo, 1e-12)
    scaled = np.clip((vol - lo) / span, 0.0, 1.0) * np.iinfo(dtype).max
    return np.round(scaled).astype(dtype)


_VOL = _phantom((4, 9, 11), 5)
_FLAT = np.full(_VOL.shape[1:], 2.0, dtype=np.float32)
_DARK = np.full(_VOL.shape[1:], 0.02, dtype=np.float32)
_MASK = np.zeros(_VOL.shape[1:], dtype=bool)
_MASK[0, 0] = _MASK[4, 5] = _MASK[4, 6] = True
_LUT = (np.array([0.0, 0.5, 2.0]), np.array([0.0, 1.0, 5.0]))
_LO, _HI = float(_VOL.min()), float(_VOL.max())

_SLICE_OPS = {
    "preprocess": (
        lambda df: ct.preprocess(df, _FLAT, _DARK),
        lambda v: -np.log(
            np.clip((v - _DARK) / np.maximum(_FLAT - _DARK, 1e-6), 1e-6, None)
        ),
    ),
    "translate": (lambda df: ct.translate(df, 2, -3), _shift_2_m3),
    "interpolate_holes": (
        lambda df: ct.interpolate_holes(df, _MASK),
        lambda v: _interp_ref(v, _MASK),
    ),
    "equivalent_density": (
        lambda df: ct.equivalent_density(df, *_LUT),
        lambda v: np.interp(v.astype(np.float64), *_LUT),
    ),
    "bin_slices": (ct.bin_slices, _bin_ref),
    "cast2type_uint8": (
        lambda df: ct.cast2type(df, "uint8"),
        lambda v: _cast_ref(v, np.uint8, _LO, _HI),
    ),
    "cast2type_uint16_bounds": (
        lambda df: ct.cast2type(df, "uint16", bounds=(0.05, 0.9)),
        lambda v: _cast_ref(v, np.uint16, 0.05, 0.9),
    ),
}


@pytest.mark.parametrize("name", sorted(_SLICE_OPS))
def test_slice_op_equals_numpy_reference(spark, name):
    op, ref = _SLICE_OPS[name]
    df = ct.slices_from_array(spark, "p", _VOL)
    got = ct.array_from_slices(op(df))
    want = ref(ct.array_from_slices(df))
    if want.dtype.kind == "f":
        want = want.astype(np.float32)
    assert got.dtype == want.dtype
    assert got.shape == want.shape
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("dtype", ["uint8", "uint16"])
def test_residual_rings_and_append_tile_decode_by_tag(spark, dtype):
    """Both ops decoded px as float32 whatever the tag said: integer
    slices failed to reshape. They now decode by the tag and write
    float32 rows tagged float32."""
    total = ct.cast2type(ct.slices_from_array(spark, "p", _VOL), dtype, (0.0, 1.2))
    tile = ct.cast2type(
        ct.slices_from_array(spark, "p", _phantom(_VOL.shape, 6)), dtype, (0.0, 1.2)
    )
    t, tl = ct.array_from_slices(total), ct.array_from_slices(tile)
    assert t.dtype == dtype

    rings = ct.residual_rings(total).collect()
    want = (t - (t.mean(axis=0) - t.mean())[None]).astype(np.float32)
    assert sorted(r.idx for r in rings) == list(range(len(t)))
    for r in rings:
        assert (r.dtype, r.px) == ("float32", want[r.idx].tobytes())

    both = np.stack([t, tl]).astype(np.float64)
    wsum = (both != 0).sum(axis=0)
    blended = np.where(wsum > 0, both.sum(axis=0) / np.maximum(wsum, 1), 0.0)
    tiles = ct.append_tile(total, tile).collect()
    assert sorted(r.idx for r in tiles) == list(range(len(t)))
    for r in tiles:
        want = blended[r.idx].astype(np.float32)
        assert (r.dtype, r.px) == ("float32", want.tobytes())


_SEAM = {
    "_decode", "_map_slices", "_reduce_slices",
    "optimize_axis_offset", "array_from_slices",
}


def test_ct_crosses_into_numpy_only_at_the_seam():
    """mapInPandas( and np.frombuffer( appear in ct.py only inside the
    seam helpers, the paired SSD pass and the driver-side collect."""
    tree = ast.parse(inspect.getsource(ct))
    offenders = [
        (getattr(top, "name", "<module>"), node.func.attr, node.lineno)
        for top in tree.body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("mapInPandas", "frombuffer")
        and getattr(top, "name", None) not in _SEAM
    ]
    assert not offenders, offenders
