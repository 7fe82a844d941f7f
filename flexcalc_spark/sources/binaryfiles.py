"""Binary-file ingestion (SURVEY.md §2.2 "(CT source)" + multimodal
columns from the north star).

Reference parity: flexdata/data.py::read_stack reads a directory of 2-D
TIFF slices into a dense array (R1). Spark-native rendering:
``spark.read.format("binaryFile")`` — each file becomes a row
(path, modificationTime, length, content: binary) — followed by a decode
step.

Every per-batch step (decode_batch, resize_batch, features_batch,
frame_sample_batch) is a plain pandas -> pandas function;
``map_batches(df, schema, *fns)`` runs a chain of them in ONE Arrow-
batched ``mapInPandas``, so a key that packs, decodes and reduces
crosses the JVM/Python boundary once per row, not once per step.

Container formats (Avro, WARC, tar, jsonl.zst) share one executor-side
IO seam: ``write_parts(df, out_dir, suffix, rows, pack)`` writes one
``part-NNNNN<suffix>`` file per non-empty partition through
``atomic_write_bytes``, and ``map_files(df, schema, decode)`` decodes
a binaryFile scan one file per call (``read_binary_dir`` /
``stream_binary_dir``). A format module keeps only its codec, a row
function and a pack function.

Decoding dispatches through ``DECODERS``: ``raw`` (np.frombuffer
reshape), grayscale ``tiff`` (pure-Python IFD parse — both byte
orders, 8/16/32-bit int and 32/64-bit float; Compression none/LZW/
Deflate/PackBits with the horizontal predictor), ``png`` (every static color
type — gray/RGB/palette/alpha, 1-16 bit, Adam7 — collapsed to a
BT.601 luma plane), ``wav`` (integer 8/16/24/32-bit, IEEE-float
32/64-bit, and WAVE_FORMAT_EXTENSIBLE PCM), and ``jpeg``
(jpegcodec.py — baseline sequential AND
progressive SOF2 at 8/12-bit, plus lossless SOF3, gray or YCbCr,
luma plane out) are fully real
pure-Python (APNG decodes as its default image — the spec's still-
consumer fallback; TIFF RGB covers chunky and planar layouts);
out-of-envelope variants (exotic-codec TIFF,
ADPCM WAV, arithmetic/hierarchical JPEG) raise
NotImplementedError because no image
library ships in this container (plug Pillow/tifffile in where
available). The Spark-side plumbing —
schema, partitioning, UDF signature, Arrow batch shape — is real and
tested either way.

Scale: binaryFile reads are file-granular splits; a 100 TB TIFF archive
distributes one file per task. Decode parallelism = file count; pack
small files into larger archives (or parquet BinaryType columns, as the
multimodal table below) to avoid small-file listing overhead. Measured
pure-Python decode throughput (512x512 gray, quality 85): ~1.7 Mpx/s
per core for JPEG — the per-file entropy loop is the bound, so at bulk
scale plug Pillow/libjpeg-turbo into DECODERS (~100x) and keep this
decoder as the dependency-free fallback; raw/TIFF-uncompressed are
frombuffer-speed.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd

from flexcalc_spark.sources.jpegcodec import decode_jpeg as _decode_jpeg

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flexcalc_spark.ct import SLICE_SCHEMA, bin2x2

# decoded: (path, h, w, dtype, px) — px raw C-order bytes
DECODED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("dtype", StringType()),
        StructField("px", BinaryType()),
    ]
)


def _decode_raw(content: bytes, meta: dict) -> tuple[int, int, str, bytes]:
    """Deterministic REAL decoder for headerless raw arrays: metadata
    (h, w, dtype) comes from a sidecar dict, bytes pass through."""
    h, w, dtype = int(meta["h"]), int(meta["w"]), meta["dtype"]
    expected = h * w * np.dtype(dtype).itemsize
    if len(content) != expected:
        raise ValueError(f"raw blob length {len(content)} != {expected} for {meta}")
    return h, w, dtype, content


_TIFF_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2,
                    9: 4, 10: 8, 11: 4, 12: 8}


def _packbits_decode(data: bytes, max_size: int | None = None) -> bytes:
    """Apple PackBits RLE (TIFF Compression=32773), pure Python.

    Control byte n: 0..127 -> copy n+1 literals; 129..255 -> repeat the
    next byte 257-n times; 128 -> no-op. ``max_size`` caps the output
    DURING decode (zstd-decoder posture: crafted input fails at the
    offending op, not after full expansion)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:
            if i + b + 1 > n:
                raise ValueError("TIFF PackBits truncated literal run")
            out += data[i : i + b + 1]
            i += b + 1
        elif b > 128:
            if i >= n:
                raise ValueError("TIFF PackBits truncated repeat run")
            out += bytes([data[i]]) * (257 - b)
            i += 1
        if max_size is not None and len(out) > max_size:
            raise ValueError("TIFF PackBits output exceeds expected size")
    return bytes(out)


def _lzw_decode(data: bytes, max_size: int | None = None) -> bytes:
    """TIFF-variant LZW (Compression=5), pure Python: MSB-first bit
    packing, 9->12-bit codes with EARLY CHANGE (width bumps when the
    table reaches 2^w - 1, one entry before a power of two — the TIFF 6.0
    quirk), ClearCode=256, EOI=257. ``max_size`` caps the output DURING
    decode: LZW entry length grows with every code, so a crafted stream
    otherwise expands QUADRATICALLY (~1 MB in -> ~10 GB out) before any
    caller-side length check runs."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitpos, nbits = 0, 9
    total_bits = len(data) * 8
    table: list[bytes] = []

    def reset() -> None:
        nonlocal table, nbits
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        nbits = 9

    reset()
    prev: bytes | None = None
    while bitpos + nbits <= total_bits:
        byte = bitpos >> 3
        shift = bitpos & 7
        chunk = int.from_bytes(data[byte : byte + 4].ljust(4, b"\0"), "big")
        code = (chunk >> (32 - shift - nbits)) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == EOI:
            break
        if code == CLEAR:
            reset()
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW: literal expected after clear")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):        # KwKwK case
                entry = prev + prev[:1]
            else:
                raise ValueError(f"LZW: code {code} beyond table")
            table.append(prev + entry[:1])
        out += entry
        if max_size is not None and len(out) > max_size:
            raise ValueError("TIFF LZW output exceeds expected size")
        prev = entry
        if len(table) >= (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return bytes(out)


def _tiff_deflate_decode(data: bytes, max_size: int | None = None) -> bytes:
    """TIFF Deflate strips (Compression=8 'Adobe', 32946 legacy): each
    strip is one zlib stream — stdlib zlib IS the independent reference
    implementation here (RFC 1950/1951). ``max_size`` bounds the
    inflate via zlib's own incremental API (a deflate bomb expands
    ~1000:1) instead of materializing first."""
    import zlib

    try:
        if max_size is None:
            return zlib.decompress(data)
        d = zlib.decompressobj()
        out = d.decompress(data, max_size + 1)
        if len(out) > max_size:
            raise ValueError("TIFF deflate output exceeds expected size")
        return out
    except zlib.error as exc:
        raise ValueError(f"TIFF deflate strip corrupt ({exc})") from None


_TIFF_DECOMPRESSORS: dict[int, Callable[..., bytes]] = {
    1: lambda b, max_size=None: b,
    5: _lzw_decode,
    8: _tiff_deflate_decode,
    32946: _tiff_deflate_decode,
    32773: _packbits_decode,
}


def tiff_page_count(content: bytes) -> int:
    """Number of IFDs (pages) in a TIFF — the fan-out driver for
    multi-page slice stacks: binaryFile scan -> one (path, page) row
    per page -> ``_decode_tiff(content, {"page": n})`` per row."""
    import struct

    if content[:2] == b"II":
        e = "<"
    elif content[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    off = struct.unpack(e + "I", content[4:8])[0]
    n = 0
    while off:
        n += 1
        if n > 1_000_000:
            raise ValueError("TIFF IFD chain does not terminate")
        nt = struct.unpack(e + "H", content[off : off + 2])[0]
        p = off + 2 + nt * 12
        off = struct.unpack(e + "I", content[p : p + 4])[0]
    return n


def _bt601_luma(r, g, b):
    """Integer BT.601 luma: round(0.299 R + 0.587 G + 0.114 B) as exact
    integer math — the single-plane collapse shared by the TIFF and PNG
    color paths (tests pin planes against this formula)."""
    return (299 * r + 587 * g + 114 * b + 500) // 1000


def _decode_tiff(content: bytes, meta: dict) -> tuple[int, int, str, bytes]:
    """Pure-Python decoder for grayscale or RGB TIFF — chunky AND
    separate-plane (PlanarConfiguration 1/2) layouts, strip AND tiled
    (TIFF 6.0 §15) organizations; RGB collapses to a BT.601 integer
    luma plane under the single-plane contract. Parses the first IFD
    (both byte orders), decompresses strips/tiles (Compression = none,
    LZW, Deflate, or PackBits; per-channel horizontal predictor
    honored), and normalizes to native byte order. Other codecs or
    exotic sample layouts raise NotImplementedError (plug
    Pillow/tifffile into DECODERS where available)."""
    import struct

    if content[:2] == b"II":
        e = "<"
    elif content[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF: bad byte-order mark")
    if struct.unpack(e + "H", content[2:4])[0] != 42:
        raise ValueError("not a TIFF: bad magic")
    ifd_off = struct.unpack(e + "I", content[4:8])[0]
    # multi-page: meta["page"] selects the Nth IFD of the chain
    # (default 0 — the standard still-consumer behavior); use
    # tiff_page_count() to fan a stack file out to (file, page) rows
    page = int(meta.get("page", 0)) if meta else 0
    for _ in range(page):
        nt = struct.unpack(e + "H", content[ifd_off : ifd_off + 2])[0]
        p = ifd_off + 2 + nt * 12
        nxt = struct.unpack(e + "I", content[p : p + 4])[0]
        if nxt == 0:
            raise ValueError(f"TIFF has no page {page}")
        ifd_off = nxt
    n_tags = struct.unpack(e + "H", content[ifd_off : ifd_off + 2])[0]
    tags: dict[int, list[int]] = {}
    for i in range(n_tags):
        p = ifd_off + 2 + i * 12
        tag, typ, cnt = struct.unpack(e + "HHI", content[p : p + 8])
        if typ not in (1, 3, 4):          # BYTE/SHORT/LONG cover our tags
            continue
        vsz = _TIFF_TYPE_SIZES[typ] * cnt
        if vsz <= 4:
            raw = content[p + 8 : p + 8 + vsz]
        else:
            voff = struct.unpack(e + "I", content[p + 8 : p + 12])[0]
            raw = content[voff : voff + vsz]
        code = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack(f"{e}{cnt}{code}", raw))

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"TIFF missing required tag {tag}")
        return default

    compression = one(259, 1)
    decompress = _TIFF_DECOMPRESSORS.get(compression)
    if decompress is None:
        raise NotImplementedError(
            f"TIFF Compression={compression} not supported offline; "
            "only none(1)/LZW(5)/Deflate(8/32946)/PackBits(32773) "
            "decode pure-Python "
            "(plug Pillow/tifffile into DECODERS for the rest)"
        )
    spp = one(277, 1)
    if spp not in (1, 3):
        raise NotImplementedError(
            f"TIFF SamplesPerPixel={spp} not supported (1 gray / 3 RGB)"
        )
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError(f"TIFF PlanarConfiguration={planar} invalid")
    w, h = one(256), one(257)
    bps = one(258, 8)
    sample_fmt = one(339, 1)              # 1 uint, 2 int, 3 float
    predictor = one(317, 1)               # 1 none, 2 horizontal differencing
    kind = {1: "u", 2: "i", 3: "f"}.get(sample_fmt)
    if kind is None or (kind == "f" and bps not in (32, 64)) or bps % 8:
        raise NotImplementedError(
            f"TIFF sample format {sample_fmt}/{bps}bps not supported"
        )
    if spp == 3 and (kind != "u" or bps not in (8, 16)):
        raise NotImplementedError(
            f"RGB TIFF requires uint 8/16 samples, got {sample_fmt}/{bps}"
        )
    if predictor not in (1, 2) or (predictor == 2 and kind == "f"):
        raise NotImplementedError(f"TIFF Predictor={predictor} not supported")
    if 322 in tags:
        # tiled layout (TIFF 6.0 §15): row-major grid of tw x tl tiles,
        # edge tiles padded to full size; each tile decompresses
        # independently (the parallelism grain, like strips)
        tw, tl = one(322), one(323)
        if tw <= 0 or tl <= 0:
            raise ValueError("TIFF tile dimensions invalid")
        if planar == 2:
            raise NotImplementedError(
                "TIFF tiled planar-configuration not supported"
            )
        toffs = tags.get(324)
        if not toffs:
            raise ValueError("TIFF missing TileOffsets")
        tcnts = tags.get(325, [tw * tl * spp * (bps // 8)] * len(toffs))
        ta = -(-w // tw)
        td = -(-h // tl)
        if len(toffs) != ta * td:
            raise ValueError(
                f"TIFF tile count {len(toffs)} != {ta * td}"
            )
        src = np.dtype(f"{e}{kind}{bps // 8}")
        native = src.newbyteorder("=")
        if td * tl * ta * tw * spp > (1 << 28):
            # same bound as the JPEG SOF guard: the padded plane is
            # allocated from header fields before any tile data is
            # validated, so crafted tile dims must raise ValueError
            # here, not MemoryError below
            raise ValueError(
                f"TIFF tiled plane {ta * tw}x{td * tl} exceeds the "
                "2^28-sample decode bound (corrupt header, or plug a "
                "streaming reader in)"
            )
        plane = np.zeros((td * tl, ta * tw, spp), dtype=native)
        tile_n = tw * tl * spp
        for idx, (o, c) in enumerate(zip(toffs, tcnts)):
            tdata = (decompress(content[o : o + c],
                                max_size=tile_n * (bps // 8))
                     if o else b"")
            t = np.frombuffer(tdata, dtype=src)
            if t.size != tile_n:
                raise ValueError(
                    f"TIFF tile {idx} has {t.size} samples != {tile_n}"
                )
            t = t.astype(native).reshape(tl, tw, spp)
            if predictor == 2:
                # horizontal differencing integrates per TILE row
                t = np.add.accumulate(t, axis=1, dtype=native)
            ty, tx = divmod(idx, ta)
            plane[ty * tl : (ty + 1) * tl, tx * tw : (tx + 1) * tw] = t
        plane = plane[:h, :w]
        if spp == 3:
            rgb = plane.astype(np.int64)
            luma = _bt601_luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
            return h, w, native.name, luma.astype(native).tobytes()
        return h, w, native.name, plane[:, :, 0].tobytes()
    offs = tags.get(273)
    if not offs:
        raise ValueError("TIFF missing StripOffsets")
    if h * w * spp > (1 << 28):
        # same SAMPLE bound as the tile path / JPEG SOF guard: expected
        # below is header-derived, so without this a crafted w/h lets
        # LZW strips materialize multi-GB before the length check
        raise ValueError(
            f"TIFF {w}x{h} exceeds the 2^28-sample decode bound "
            "(corrupt header, or plug a streaming reader in)"
        )
    cnts = tags.get(279, [h * w * spp * (bps // 8)])
    # strips decompress independently (that's what makes them the
    # parallelism grain in real readers); each strip's inflate is
    # bounded by the plane bytes still unaccounted for, so a crafted
    # strip fails DURING decode instead of after expansion
    expected = h * w * spp * (bps // 8)
    parts: list[bytes] = []
    total = 0
    for o, c in zip(offs, cnts):
        d = (decompress(content[o : o + c], max_size=expected - total)
             if o else b"")
        total += len(d)
        parts.append(d)
    data = b"".join(parts)
    if len(data) != expected:
        raise ValueError(f"TIFF strip data {len(data)} != {expected}")
    src = np.dtype(f"{e}{kind}{bps // 8}")
    arr = np.frombuffer(data, dtype=src)
    native = src.newbyteorder("=")
    if src != native:
        arr = arr.astype(native)
    if spp == 3 and planar == 2:
        # separate-plane layout: all strips of channel 0, then 1, then
        # 2 (the concatenated stream is plane-major); predictor applies
        # within each plane's rows
        rgb = arr.reshape(3, h, w)
        if predictor == 2:
            rgb = np.add.accumulate(rgb, axis=2, dtype=native)
        rgb = rgb.astype(np.int64)
        luma = _bt601_luma(rgb[0], rgb[1], rgb[2])
        return h, w, native.name, luma.astype(native).tobytes()
    if predictor == 2:
        # horizontal differencing: each sample stores the delta to the
        # SAME CHANNEL of the left pixel; integrate per row in the
        # sample dtype (wrapping)
        arr = np.add.accumulate(
            arr.reshape(h, w, spp), axis=1, dtype=native
        ).reshape(-1)
    if spp == 3:
        # chunky RGB -> integer luma, the repo's single-plane contract
        # (same collapse as the PNG color paths)
        rgb = arr.reshape(h, w, 3).astype(np.int64)
        luma = _bt601_luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        return h, w, native.name, luma.astype(native).tobytes()
    return h, w, native.name, arr.tobytes()


# Adam7 interlace pass grid: (x0, y0, dx, dy) per pass.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
               4: (8, 16), 6: (8, 16)}


def _png_unfilter(
    raw: bytes, h: int, stride: int, bpp: int, off: int
) -> tuple[bytes, int]:
    """Reconstruct ``h`` scanlines of ``stride`` bytes from the
    decompressed stream starting at ``off`` (one filter-type byte per
    row; all five PNG filters), returning (pixel bytes, new offset)."""
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        if off >= len(raw):
            raise ValueError("PNG scanline data truncated")
        ft = raw[off]
        row = bytearray(raw[off + 1 : off + 1 + stride])
        off += 1 + stride
        if len(row) != stride:
            raise ValueError("PNG scanline data truncated")
        if ft == 1:      # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:    # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:    # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:    # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pth = a + b - c
                pa, pb, pc = abs(pth - a), abs(pth - b), abs(pth - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"PNG unknown filter type {ft}")
        out[y * stride : (y + 1) * stride] = row
        prev = row
    return bytes(out), off


def _decode_png(content: bytes, meta: dict) -> tuple[int, int, str, bytes]:
    """Pure-Python PNG decoder (stdlib zlib does the INFLATE): the full
    static-image surface — color types 0 (gray), 2 (RGB), 3 (palette),
    4 (gray+alpha), 6 (RGBA); bit depths 1/2/4/8/16 where the spec
    allows them; all five scanline filters; Adam7 interlace. Color
    collapses to a BT.601 integer luma plane and alpha is dropped,
    under the repo's single-plane (h, w, dtype, px) decoder contract;
    sub-byte grays scale to 8-bit by the exact 255/(2^d-1) expansion.
    APNG decodes as its DEFAULT image (the spec's designed fallback
    for still consumers: animation lives in ancillary acTL/fcTL/fdAT
    chunks that are safely ignored)."""
    import struct
    import zlib

    if content[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(content):
        (length,), ctype = (
            struct.unpack(">I", content[pos : pos + 4]),
            content[pos + 4 : pos + 8],
        )
        body = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = bytes(body)
        elif ctype == b"IDAT":
            idat.extend(body)
        # APNG (acTL/fcTL/fdAT) needs NO special handling for a still
        # consumer: the spec stores the DEFAULT image in ordinary IDAT
        # chunks precisely so non-animated decoders fall back to it,
        # and animation chunks are ancillary (lowercase first letter =
        # safe to ignore). fdAT frame data is simply never read.
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, bitdepth, colortype, comp, filt, interlace = ihdr
    if colortype not in _PNG_CHANNELS:
        raise ValueError(f"PNG color type {colortype} invalid")
    if bitdepth not in _PNG_DEPTHS[colortype]:
        raise ValueError(
            f"PNG bitdepth {bitdepth} invalid for color type {colortype}"
        )
    if comp != 0 or filt != 0:
        raise ValueError(
            f"PNG compression={comp}/filter={filt} methods unknown"
        )
    if interlace not in (0, 1):
        raise ValueError(f"PNG interlace method {interlace} unknown")
    if colortype == 3:
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("PNG palette image missing/invalid PLTE")
    if w == 0 or h == 0:
        raise ValueError("PNG zero dimension")
    channels = _PNG_CHANNELS[colortype]

    # Exact stream-length check BEFORE the inflate and any dimension-
    # driven allocation: the filtered stream length is a closed form of
    # the header, so a crafted IHDR (e.g. w=h=2^31) fails here instead
    # of hitting bytearray/np.zeros sized from the header (MemoryError,
    # not the codec contract's ValueError) — and the inflate itself is
    # capped at that size, so an IDAT deflate bomb can't expand past
    # the declared geometry either.
    def _pass_bytes(w_p: int, h_p: int) -> int:
        if w_p <= 0 or h_p <= 0:
            return 0
        return h_p * (1 + (w_p * channels * bitdepth + 7) // 8)

    if interlace == 0:
        expected_raw = _pass_bytes(w, h)
    else:
        expected_raw = sum(
            _pass_bytes((w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
            for x0, y0, dx, dy in _ADAM7
        )
    if w * h * channels > (1 << 28):
        # same SAMPLE bound as the JPEG SOF and TIFF tile guards: the
        # decode path widens samples to int64 (8x), so bounding the
        # filtered-byte stream alone would still admit multi-GiB
        # allocations from a plausible-looking header
        raise ValueError(
            f"PNG {w}x{h} exceeds the 2^28-sample decode bound "
            "(corrupt header, or plug a streaming decoder in)"
        )
    raw = zlib.decompressobj().decompress(bytes(idat), expected_raw + 1)
    if len(raw) != expected_raw:
        raise ValueError(
            f"PNG scanline data {len(raw)} != expected {expected_raw}"
        )

    def read_pass(w_p: int, h_p: int, off: int):
        bits_px = channels * bitdepth
        stride = (w_p * bits_px + 7) // 8
        bpp = max(1, bits_px // 8)
        data, off = _png_unfilter(raw, h_p, stride, bpp, off)
        if bitdepth == 16:
            arr = np.frombuffer(data, ">u2").astype(np.int64)
            arr = arr.reshape(h_p, w_p, channels)
        elif bitdepth == 8:
            arr = np.frombuffer(data, "u1").astype(np.int64)
            arr = arr.reshape(h_p, w_p, channels)
        else:                            # 1/2/4-bit, MSB-first per row
            a = np.frombuffer(data, "u1").reshape(h_p, stride)
            bits = np.unpackbits(a, axis=1)[:, : w_p * bitdepth]
            weights = 1 << np.arange(bitdepth - 1, -1, -1)
            arr = (bits.reshape(h_p, w_p, bitdepth) * weights).sum(
                axis=2, dtype=np.int64
            )[..., np.newaxis]
        return arr, off

    if interlace == 0:
        img, off = read_pass(w, h, 0)
    else:                                # Adam7: 7 independent sub-images
        img = np.zeros((h, w, channels), dtype=np.int64)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, off = read_pass(pw, ph, off)
            img[y0::dy, x0::dx] = sub
    if off != len(raw):
        raise ValueError(
            f"PNG scanline data {len(raw)} != expected {off}"
        )

    if colortype == 3:                   # palette -> RGB -> luma
        pal = np.frombuffer(plte, "u1").reshape(-1, 3).astype(np.int64)
        idx = img[..., 0]
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        rgb = pal[idx]
        luma = _bt601_luma(rgb[..., 0], rgb[..., 1], rgb[..., 2])
        return h, w, "uint8", luma.astype(np.uint8).tobytes()
    if colortype in (0, 4):              # gray (+alpha dropped)
        g = img[..., 0]
        if bitdepth < 8:                 # exact expansion: 2^d-1 | 255
            g = g * 255 // ((1 << bitdepth) - 1)
            return h, w, "uint8", g.astype(np.uint8).tobytes()
        dt = np.uint8 if bitdepth == 8 else np.uint16
        return h, w, np.dtype(dt).name, g.astype(dt).tobytes()
    # 2 (RGB) / 6 (RGBA, alpha dropped): BT.601 integer luma
    luma = _bt601_luma(img[..., 0], img[..., 1], img[..., 2])
    dt = np.uint8 if bitdepth == 8 else np.uint16
    return h, w, np.dtype(dt).name, luma.astype(dt).tobytes()


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """G.711 mu-law / A-law -> int16 expansion tables, DERIVED from the
    published analytic definitions at import (segment exponent +
    mantissa; mu-law bias 132, A-law XOR 0x55) — no transcribed
    constants. tests/test_sources.py proves all 512 entries equal the
    stdlib audioop reference implementation."""
    ulaw = np.zeros(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        exp = (u >> 4) & 7
        mant = u & 0x0F
        mag = (((mant << 3) + 132) << exp) - 132
        ulaw[code] = -mag if u & 0x80 else mag
    alaw = np.zeros(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        exp = (a >> 4) & 7
        mant = a & 0x0F
        mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (
            exp - 1
        )
        alaw[code] = mag if a & 0x80 else -mag
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _g711_tables()


def _decode_wav(content: bytes, meta: dict) -> tuple[int, int, str, bytes]:
    """Pure-Python RIFF/WAVE PCM decoder (stdlib struct): parses the
    chunk list, accepts integer PCM (format 1, 8/16/24/32-bit), IEEE
    float PCM (format 3, 32/64-bit), and WAVE_FORMAT_EXTENSIBLE
    (0xFFFE) wrapping either SubFormat, and returns (n_channels,
    n_samples, dtype, interleaved native-order samples) — the (h, w)
    slots carry channels x samples so the decoder contract matches the
    image path. 24-bit integers widen to int32 (<<8, the usual
    convention); G.711 mu-law/A-law (formats 7/6) expand to int16
    through tables derived from the analytic definition and verified
    entry-exact against stdlib audioop. ADPCM raises
    NotImplementedError."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE header")
    pos = 12
    fmt_chunk = None
    data = None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        (clen,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt_chunk = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch, _rate, _bps, _align, bits = struct.unpack(
        "<HHIIHH", fmt_chunk[:16]
    )
    if audio_fmt == 0xFFFE:              # WAVE_FORMAT_EXTENSIBLE
        # cbSize(2) + validBits(2) + channelMask(4) + SubFormat GUID:
        # first 2 bytes of the GUID are the wrapped format code
        if len(fmt_chunk) < 26:
            raise ValueError("WAV extensible fmt chunk truncated")
        audio_fmt = struct.unpack("<H", fmt_chunk[24:26])[0]
    if audio_fmt == 1:
        if bits not in (8, 16, 24, 32):
            raise NotImplementedError(
                f"WAV integer PCM {bits}bit not supported"
            )
        if bits == 24:                   # widen to int32 (<<8 convention)
            n_frames = len(data) // 3
            b = np.frombuffer(data[: n_frames * 3], dtype="u1")
            b = b.reshape(-1, 3).astype(np.uint32)
            vals = (b[:, 0] << 8) | (b[:, 1] << 16) | (b[:, 2] << 24)
            arr = vals.view(np.int32)
            n_samples = n_frames // n_ch
            arr = arr[: n_samples * n_ch]
            return n_ch, n_samples, "int32", arr.tobytes()
        src = {8: np.dtype("u1"), 16: np.dtype("<i2"),
               32: np.dtype("<i4")}[bits]
    elif audio_fmt == 3:                 # IEEE float PCM
        if bits not in (32, 64):
            raise NotImplementedError(f"WAV float {bits}bit not supported")
        src = np.dtype("<f4") if bits == 32 else np.dtype("<f8")
    elif audio_fmt in (6, 7):            # G.711 A-law / mu-law
        table = _ALAW_TABLE if audio_fmt == 6 else _ULAW_TABLE
        codes = np.frombuffer(data, dtype="u1")
        n_samples = len(codes) // n_ch
        pcm = table[codes[: n_samples * n_ch]]
        return n_ch, n_samples, "int16", pcm.tobytes()
    else:
        raise NotImplementedError(
            f"WAV format {audio_fmt} not supported offline; integer, "
            "IEEE-float, and G.711 mu-law/A-law PCM decode pure-Python "
            "(ADPCM needs a codec plug-in: its step table is an "
            "empirical published constant this repo cannot "
            "independently reconstruct offline)"
        )
    n_samples = len(data) // (n_ch * src.itemsize)
    arr = np.frombuffer(
        data[: n_samples * n_ch * src.itemsize], dtype=src
    )
    native = src.newbyteorder("=")
    if src != native:
        arr = arr.astype(native)
    return n_ch, n_samples, native.name, arr.tobytes()


def _typed(fn: Callable) -> Callable:
    """Normalize the low-level exception types truncated/corrupt bytes
    can surface (struct/index/key/zero-div/zlib) to the codec
    contract's ValueError at the dispatch boundary — the JPEG entry's
    struct/index normalization applied uniformly, so consumers can
    treat DECODERS[*] as raising exactly ValueError (corrupt row) or
    NotImplementedError (out-of-envelope variant), which both pass
    through untouched. Pinned by the decoder mutation sweep in
    tests/test_sources.py."""
    import functools
    import struct
    import zlib

    @functools.wraps(fn)
    def wrapped(content: bytes, meta: dict) -> tuple[int, int, str, bytes]:
        try:
            return fn(content, meta)
        except (struct.error, IndexError, KeyError, OverflowError,
                EOFError, ZeroDivisionError, zlib.error) as e:
            raise ValueError(
                f"{fn.__name__}: truncated/corrupt bytes ({e})"
            ) from e

    return wrapped


DECODERS: dict[str, Callable] = {
    "raw": _typed(_decode_raw),
    "tiff": _typed(_decode_tiff),
    "png": _typed(_decode_png),
    "jpeg": _typed(_decode_jpeg),
    "wav": _typed(_decode_wav),
}


def atomic_write_bytes(path: str, data: bytes) -> None:
    """Executor-side file write safe under speculative re-execution:
    write to a task-attempt-unique temp name, then ``os.replace`` into
    the final name (atomic rename on POSIX). Two attempts of the same
    task racing on a shared filesystem each write their own temp file
    and the rename is all-or-nothing — the final path only ever holds
    one attempt's complete bytes (both attempts produce identical
    content, so which one wins is immaterial)."""
    import uuid

    from pyspark import TaskContext

    tc = TaskContext.get()
    # driver-side / non-task callers still get a unique temp name — a
    # shared ".tmp" would reintroduce the torn-write this helper exists
    # to prevent
    suffix = (
        f".{tc.taskAttemptId()}.tmp"
        if tc is not None
        else f".{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    )
    tmp = path + suffix
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def read_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """Directory of binary files -> (path, modificationTime, length, content)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def stream_binary_dir(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """``read_binary_dir`` as a stream: each newly landed file of the
    directory becomes a row of a micro-batch."""
    return (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long,"
            " content binary"
        )
        .option("pathGlobFilter", glob)
        .load(path)
    )


def write_parts(
    df: DataFrame,
    out_dir: str,
    suffix: str,
    rows: Callable[[pd.DataFrame], list],
    pack: Callable[[list], bytes],
) -> DataFrame:
    """Distributed container sink: one ``part-NNNNN<suffix>`` file per
    non-empty partition of ``df``, holding ``pack`` of the records that
    ``rows`` makes of the partition's batches.

    Runs on executors (the driver never sees row data) and returns a lazy
    (path, n_records) DataFrame: run an action on it to write. Names are
    keyed by partition id and written through ``atomic_write_bytes``, so
    a re-executed or speculated task attempt rewrites the same bytes
    under the same name. ``out_dir`` must be on storage every executor
    can reach."""
    from flexcalc_spark.registry import _ship_package

    _ship_package(df.sparkSession)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        records = [r for pdf in batches for r in rows(pdf)]
        if not records:
            return
        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}{suffix}")
        atomic_write_bytes(path, pack(records))
        yield pd.DataFrame({"path": [path], "n_records": [len(records)]})

    return df.mapInPandas(write, "path string, n_records bigint")


def map_files(
    df: DataFrame, schema, decode: Callable[[str, bytes], list]
) -> DataFrame:
    """Binary file rows -> ``schema`` rows: ``decode(path, content)``
    runs once per file and returns that file's rows (tuples in schema
    order, or dicts keyed by field name). Rows are yielded per file, so
    peak executor memory is one file's rows, never the Arrow batch's;
    a file with no rows yields nothing. File count is the decode
    parallelism."""
    from flexcalc_spark.registry import _ship_package

    _ship_package(df.sparkSession)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()

    def per_file(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _file_frames(batches, decode, names)

    return df.select("path", "content").mapInPandas(per_file, schema)


def _file_frames(
    batches: Iterator[pd.DataFrame], decode: Callable, names: list[str]
) -> Iterator[pd.DataFrame]:
    """map_files' worker side: one frame per file that decodes to rows."""
    for pdf in batches:
        for path, content in zip(pdf["path"], pdf["content"]):
            rows = decode(path, bytes(content))
            if len(rows):
                yield pd.DataFrame(rows, columns=names)


# archive members: (archive, member, content)
MEMBER_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("member", StringType()),
        StructField("content", BinaryType()),
    ]
)


def expand_archives(df: DataFrame) -> DataFrame:
    """Expand tar (optionally .tar.gz) and zip blobs into one row per
    member file — the implementation of the small-file packing advice
    in this module's scale note: a directory of millions of tiny
    images/docs ships as thousands of archives, each a single
    binaryFile task that fans out to its members here (stdlib
    tarfile/zipfile on in-memory bytes; directory entries skipped).
    Dispatch is by magic bytes, so mixed archive directories work.
    The output joins straight into decode_files via content.

    Scale: member expansion is where the file-count explosion is
    CONTAINED — listing cost is per-archive, decode parallelism is
    per-archive-task, and members never hit the object-store namespace.
    Peak executor memory is ~2x one archive's expansion (the
    pre-bounded decompressed tar stream + the member rows). Corrupt
    archives raise ValueError per blob (degrade per row in callers that
    need bulk behavior, the media_features pattern)."""
    return map_files(df, MEMBER_SCHEMA, _expand_blob)


def _expand_blob(path: str, data: bytes) -> list[tuple[str, str, bytes]]:
    """Expand one archive blob into (archive, member, content) tuples
    — the Spark-free core of expand_archives, directly property-tested.
    The except tuple must cover the WHOLE corrupt-input surface, not
    just the nominal archive errors: a truncated .tar.gz raises
    ValueError from the bounded pre-decompression (before tarfile
    runs), a corrupted zip deflate payload raises zlib.error from
    zf.read(), an encrypted member RuntimeError, and tarfile's own
    parse errors arrive as TarError/EOFError/OSError — the r10
    'KeyError through the ValueError contract' leak class."""
    import io
    import lzma as _lzma
    import tarfile
    import zipfile
    import zlib as _zlib

    from flexcalc_spark.sources.zstdcodec import untrusted_max_output

    # the stdlib readers bound each member's read at its DECLARED size,
    # so capping the cumulative declared sizes bounds what a zip/tar.gz
    # bomb can materialize (the repo-wide untrusted-bytes ceiling)
    cap = untrusted_max_output(len(data))
    total = 0
    rows: list[tuple[str, str, bytes]] = []
    try:
        # the block-0 gate outranks every magic dispatch: a PLAIN tar
        # whose first member name begins with a codec or zip magic
        # must reach tarfile, not a decompressor/ZipFile
        if data[:4] == b"PK\x03\x04" and not _block0_is_tar(data):
            with zipfile.ZipFile(io.BytesIO(data)) as zf:
                for info in zf.infolist():
                    if info.is_dir():
                        continue
                    total += info.file_size
                    if total > cap:
                        raise ValueError(
                            f"archive {path!r} members exceed the "
                            "output bound"
                        )
                    rows.append((path, info.filename, zf.read(info)))
        else:
            # bound the DECOMPRESSED tar stream itself before tarfile
            # ever parses it: loop-body checks cannot bound pax/GNU-
            # longname pseudo-members, whose data is materialized
            # inside TarFile.next() — even during open() for the first
            # member (measured round 12). mode="r:" is load-bearing:
            # the default "r:*" lets tarfile transparently decompress
            # formats the pre-bound doesn't sniff (legacy LZMA alone-
            # format measured 28 KB -> 608 MB under a 10 KB cap), so
            # tarfile must never decompress anything itself. The
            # block-0 checksum gate keeps a plain tar whose first
            # member name starts with a codec magic (e.g. "BZh...")
            # from being misdetected as compressed. Supported
            # containers: plain/gz/bz2/xz tar.
            tar_bytes = data
            if not _block0_is_tar(data):
                tar_bytes = _bounded_tar_stream(data, cap, path)
            with tarfile.open(
                fileobj=io.BytesIO(tar_bytes), mode="r:"
            ) as tf:
                for m in tf:
                    if tf.offset > cap:  # defense; pre-bound covers it
                        raise ValueError(
                            f"archive {path!r} walk exceeds the "
                            "output bound"
                        )
                    if not m.isfile():
                        continue
                    total += m.size
                    if total > cap:
                        raise ValueError(
                            f"archive {path!r} members exceed the "
                            "output bound"
                        )
                    fh = tf.extractfile(m)
                    rows.append((path, m.name, fh.read()))
    except (tarfile.TarError, zipfile.BadZipFile, OSError,
            EOFError, _zlib.error, _lzma.LZMAError, RuntimeError) as e:
        raise ValueError(f"archive {path!r} unreadable: {e}") from e
    return rows


def _block0_is_tar(data: bytes) -> bool:
    """True when the first 512 bytes validate as a tar header block
    under the UNSIGNED header-checksum rule (tarfile also accepts the
    legacy signed variant; a signed-only tar simply fails the gate and
    still parses via the raw mode="r:" fallback when no codec magic
    matches): the gate that keeps a PLAIN tar whose first member name
    begins with a codec or zip magic from being handed to the wrong
    reader."""
    if len(data) < 512:
        return False
    block = data[:512]
    raw = bytes(block[148:156]).split(b"\0")[0].strip()
    try:
        chk = int(raw, 8)
    except ValueError:
        return False
    return chk == sum(block[:148]) + 8 * 32 + sum(block[156:])


def _bounded_tar_stream(data: bytes, cap: int, path: str) -> bytes:
    """Pre-decompress a gz/bz2/xz tar container under the output cap
    (concatenated streams supported, like the stdlib readers); data
    with no recognized codec magic passes through untouched (the
    caller opens it mode="r:", so tarfile either parses it as a plain
    tar or rejects it — it can never decompress anything itself).
    This is what actually bounds a tar bomb: tarfile materializes
    pax/longname pseudo-member data inside next()/open(), out of
    reach of any member-loop check."""
    import bz2
    import lzma
    import zlib

    from flexcalc_spark.sources.zstdcodec import bounded_decompress

    if data[:2] == b"\x1f\x8b":
        make = lambda: zlib.decompressobj(31)  # noqa: E731
    elif data[:3] == b"BZh":
        make = lambda: bz2.BZ2Decompressor()  # noqa: E731
    elif data[:6] == b"\xfd7zXZ\x00":
        make = lambda: lzma.LZMADecompressor()  # noqa: E731
    else:
        return data
    out = []
    total = 0
    rest = data
    while rest and rest.strip(b"\x00"):  # xz pads stream tails with NULs
        d = make()
        chunk = bounded_decompress(
            d, rest, cap - total, f"archive {path!r} stream",
            allow_trailing=True,
        )
        total += len(chunk)
        out.append(chunk)
        rest = d.unused_data
    return b"".join(out)


def map_batches(
    df: DataFrame, schema, *fns: Callable[[pd.DataFrame], pd.DataFrame]
) -> DataFrame:
    """Run a chain of pandas -> pandas batch functions in ONE Arrow-batched
    mapInPandas: each row crosses JVM -> Python -> JVM once however many
    steps the chain has (one mapInPandas per step ships every row across
    that boundary once per step). An empty batch ends its chain and is
    not yielded, so no batch function needs an empty-batch guard."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fn in fns:
                if not len(pdf):
                    break
                pdf = fn(pdf)
            if len(pdf):
                yield pdf

    return df.mapInPandas(run, schema)


def decode_batch(pdf: pd.DataFrame, decoder: Callable, meta: dict) -> pd.DataFrame:
    """(path, content) batch -> (path, h, w, dtype, px), one file per row."""
    # zip over the columns (not iterrows — no per-row Series); the
    # decoder call is per-file by nature (headers differ), but the raw
    # path is a zero-copy passthrough
    out = [(path, *decoder(bytes(content), meta))
           for path, content in zip(pdf["path"], pdf["content"])]
    return pd.DataFrame(out, columns=DECODED_SCHEMA.fieldNames())


def decode_files(df: DataFrame, fmt: str, meta: dict) -> DataFrame:
    """Decode binary file rows into (path, h, w, dtype, px) via the
    format's decoder (decode_batch in one Arrow pass)."""
    decode = partial(decode_batch, decoder=DECODERS[fmt], meta=meta)
    return map_batches(df, DECODED_SCHEMA, decode)


def read_stack(
    spark: SparkSession, path: str, dataset_id: str, fmt: str, meta: dict,
    glob: str = "*",
) -> DataFrame:
    """flexdata/data.py::read_stack analogue: directory of slice files ->
    the CT slice table (slice index = lexicographic file order)."""
    raw = read_binary_dir(spark, path, glob)
    # Rank PATHS ONLY, then join the index back: the global-order window
    # would otherwise funnel every decoded pixel blob through one task
    # (a 2000-slice x 64 MB stack = 128 GB into a single partition).
    # Path strings are tiny; the blobs stay where they were decoded.
    idx_map = raw.select("path").withColumn(
        "idx", (F.row_number().over(Window.orderBy("path")) - 1).cast("int")
    )
    decoded = decode_files(raw, fmt, meta)
    return decoded.join(F.broadcast(idx_map), "path").select(
        F.lit(dataset_id).alias("dataset_id"),
        F.lit(0).alias("axis"),
        "idx",
        "h",
        "w",
        "dtype",
        "px",
    )


# ---------------------------------------------------------------------------
# Multimodal table: opaque media blobs + typed metadata in one DataFrame
# ---------------------------------------------------------------------------

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),     # image | audio | video
        StructField("fmt", StringType()),          # raw | tiff | png | ...
        StructField("meta_json", StringType()),    # typed metadata as JSON
        StructField("content", BinaryType()),      # opaque blob
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_intensity", StringType()),  # str(float) | 'NOT_DECODABLE' | 'CORRUPT'
        StructField("thumb_h", IntegerType()),
        StructField("thumb_w", IntegerType()),
    ]
)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("rh", IntegerType()),
        StructField("rw", IntegerType()),
        StructField("resized_mean", StringType()),  # repr(float) | 'NOT_DECODABLE' | 'CORRUPT'
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("h", IntegerType()),
        StructField("w", IntegerType()),
        StructField("px", BinaryType()),
    ]
)


def _media_raw_groups(pdf: pd.DataFrame, corrupt: list):
    """Yield (positions, stack) per homogeneous decodable group of a media
    batch: rows grouped by (fmt, meta_json), decoded with ONE frombuffer
    over the concatenated blobs into an (n, h, w) stack. Non-raw formats
    (no decoder in this container) are skipped — callers pre-fill their
    rows with the NOT_DECODABLE marker. Malformed blobs (wrong raw
    length, truncated/invalid tiff/png/jpeg/wav) degrade PER ROW too:
    their positions are appended to ``corrupt`` and the rows skipped —
    at a 100 TB bulk pass one bit-flipped file must quarantine one row,
    never fail the batch (ADVICE r9)."""
    pdf = pdf.reset_index(drop=True)
    for (fmt, mjson), g in pdf.groupby(["fmt", "meta_json"], sort=False):
        meta = json.loads(mjson)
        if fmt == "raw":
            # headerless: shape comes from meta, one frombuffer over the
            # length-valid rows; wrong-length rows quarantine per row
            h, w, dt = int(meta["h"]), int(meta["w"]), np.dtype(meta["dtype"])
            expected = h * w * dt.itemsize
            good_pos, good_blobs = [], []
            for p, b in zip(g.index.to_numpy(), g["content"]):
                b = bytes(b)
                if len(b) == expected:
                    good_pos.append(p)
                    good_blobs.append(b)
                else:
                    corrupt.append(p)
            if good_pos:
                stack = np.frombuffer(
                    b"".join(good_blobs), dtype=dt
                ).reshape(len(good_pos), h, w)
                yield np.asarray(good_pos), stack
            continue
        # header-ful formats (tiff/png/jpeg/wav): decode per file —
        # headers differ — then stack homogeneous shapes for the
        # vectorized feature math. Degradation is PER ROW, not per
        # group: one out-of-envelope blob (e.g. an arithmetic-coded JPEG
        # among huffman ones) must flip only ITS row to NOT_DECODABLE,
        # or the output would depend on Arrow batch boundaries.
        idxs, decoded = [], []
        for p, b in zip(g.index.to_numpy(), g["content"]):
            try:
                decoded.append(DECODERS[fmt](bytes(b), meta))
                idxs.append(p)
            except NotImplementedError:
                continue                   # this row -> NOT_DECODABLE
            except Exception:
                # truncated/bit-flipped file: the _typed dispatch
                # boundary normalizes these to ValueError (mutation-
                # sweep-pinned); catching Exception stays as defense in
                # depth — any non-"unsupported variant" failure is
                # row-level corruption, not a reason to kill a batch
                corrupt.append(p)
        by_shape: dict[tuple, tuple[list, list]] = {}
        for p, (h, w, dt, px) in zip(idxs, decoded):
            ps, pxs = by_shape.setdefault((h, w, dt), ([], []))
            ps.append(p)
            pxs.append(px)
        for (h, w, dt), (ps, pxs) in by_shape.items():
            stack = np.frombuffer(b"".join(pxs), dtype=np.dtype(dt)).reshape(
                len(ps), h, w
            )
            yield np.asarray(ps), stack


def _media_means(pdf: pd.DataFrame, reduce: Callable) -> tuple:
    """Per-row (h, w, repr(mean)) arrays of a media batch, one vectorized
    ``reduce(stack) -> (h, w, means)`` per _media_raw_groups group; rows
    with no decoder read (-1, -1, 'NOT_DECODABLE'), malformed blobs
    (-1, -1, 'CORRUPT')."""
    n = len(pdf)
    h = np.full(n, -1, dtype=np.int64)
    w = np.full(n, -1, dtype=np.int64)
    mean = np.full(n, "NOT_DECODABLE", dtype=object)
    corrupt: list = []
    for pos, stack in _media_raw_groups(pdf, corrupt):
        h[pos], w[pos], means = reduce(stack)
        mean[pos] = [repr(float(m)) for m in means]
    mean[corrupt] = "CORRUPT"
    return h, w, mean


def _resized(stack: np.ndarray) -> tuple:
    small = bin2x2(stack)
    return small.shape[1], small.shape[2], small.mean(axis=(1, 2))


def _thumb_and_mean(stack: np.ndarray) -> tuple:
    # float64 mean: matches the oracle's double AVG to ulps
    means = stack.astype(np.float64).mean(axis=(1, 2))
    return stack.shape[1] // 2, stack.shape[2] // 2, means


def resize_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Resize step: decode + 2x block-mean downsample per media row.
    Block-mean preserves the global mean exactly (in double math), which
    is what the oracle of q_multimodal_resize checks."""
    rh, rw, rmean = _media_means(pdf, _resized)
    return pd.DataFrame(
        {"media_id": pdf["media_id"], "rh": rh, "rw": rw, "resized_mean": rmean}
    )


def frame_sample_batch(pdf: pd.DataFrame, every_k: int = 2) -> pd.DataFrame:
    """Frame sampling for 'video' blobs: a raw video = n_frames
    concatenated raw frames (meta: n_frames, h, w, dtype); emit every
    k-th frame as its own row. Non-raw containers raise
    NotImplementedError explicitly — a still-image decoder succeeding
    on a single frame (tiff/png/jpeg are all real decoders now) must
    not be mistaken for video support and silently emit zero frames."""
    out = []
    for mid, fmt, mjson, content in zip(
        pdf["media_id"], pdf["fmt"], pdf["meta_json"], pdf["content"]
    ):
        meta = json.loads(mjson)
        if fmt != "raw":
            raise NotImplementedError(
                f"video container '{fmt}' not supported offline; only raw "
                "concatenated frames decode (plug a codec library in "
                "where available)"
            )
        n, h, w = int(meta["n_frames"]), int(meta["h"]), int(meta["w"])
        frames = np.frombuffer(
            bytes(content), dtype=np.dtype(meta["dtype"])
        ).reshape(n, h, w)
        for i in range(0, n, every_k):
            out.append((mid, i, h, w, frames[i].tobytes()))
    return pd.DataFrame(out, columns=FRAME_SCHEMA.fieldNames())


def features_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Feature-extraction step: decode (where a decoder exists), mean
    intensity + 2x-downsampled thumbnail dims. Unsupported formats yield
    'NOT_DECODABLE' and malformed blobs 'CORRUPT' rather than failing
    the batch — the pipeline keeps flowing past stub modalities and
    bit-flipped files alike."""
    th, tw, mi = _media_means(pdf, _thumb_and_mean)
    n_bytes = np.fromiter(
        (len(c) for c in pdf["content"]), dtype=np.int64, count=len(pdf)
    )
    return pd.DataFrame(
        {"media_id": pdf["media_id"], "n_bytes": n_bytes,
         "mean_intensity": mi, "thumb_h": th, "thumb_w": tw}
    )


def media_resize(df: DataFrame) -> DataFrame:
    """Resize pass over a media table (resize_batch in one Arrow pass)."""
    return map_batches(df, RESIZED_SCHEMA, resize_batch)


def media_frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Every k-th frame of each raw video row (frame_sample_batch)."""
    return map_batches(
        df, FRAME_SCHEMA, partial(frame_sample_batch, every_k=every_k)
    )


def media_features(df: DataFrame) -> DataFrame:
    """Feature-extraction pass over a media table (features_batch)."""
    return map_batches(df, FEATURE_SCHEMA, features_batch)
