"""Zstandard (RFC 8878) frames via the libzstd that pyarrow bundles.

The Avro spec names ``zstandard`` as a container codec and LLM corpora
ship as ``.jsonl.zst`` shards, so the Avro layer (avrocodec.py) and the
shard reader (operators/sinks.py) both need zstd. pyarrow, imported by
every Arrow-UDF worker, ships libzstd; this module wraps it with the
repo-wide codec contract: corrupt, truncated or over-cap input raises
``ValueError`` (callers degrade PER ROW, never per batch).

Decoding accepts concatenated and skippable frames. libzstd refuses
frames that declare a window above 128 MiB (its default
``ZSTD_d_windowLogMax``); only ``zstd --long=28`` and up writes those,
and the reference CLI itself refuses them without ``--memory``. Such
frames raise ``ValueError`` like any other undecodable input.
Dictionaries (``Dictionary_ID != 0``) are refused the same way.

tests/test_zstd.py cross-verifies both directions against the zstd-jni
on Spark's classpath.

This module also holds the repo's shared untrusted-bytes policy
(``untrusted_max_output``, ``bounded_decompress``) used by every
decompressor fed attacker-controllable bytes.
"""

from __future__ import annotations

import pyarrow as pa

# decode granularity: the max_output check runs after every chunk, so
# a bomb materializes at most one chunk past the caller's cap
_CHUNK = 1 << 20

# ---------------------------------------------------------------------------
# xxh64 (public XXH64 specification; content-checksum field = low 32 bits)
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` (64-bit). Spec test vector pinned in tests;
    every checksummed frame from zstd-jni cross-verifies it again."""
    n = len(data)
    i = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        while i + 32 <= n:
            a1 = (_rotl((a1 + int.from_bytes(data[i:i + 8], "little") * _P2)
                        & _M64, 31) * _P1) & _M64
            a2 = (_rotl((a2 + int.from_bytes(data[i + 8:i + 16], "little")
                         * _P2) & _M64, 31) * _P1) & _M64
            a3 = (_rotl((a3 + int.from_bytes(data[i + 16:i + 24], "little")
                         * _P2) & _M64, 31) * _P1) & _M64
            a4 = (_rotl((a4 + int.from_bytes(data[i + 24:i + 32], "little")
                         * _P2) & _M64, 31) * _P1) & _M64
            i += 32
        h = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) \
            & _M64
        for a in (a1, a2, a3, a4):
            h = (h ^ (_rotl((a * _P2) & _M64, 31) * _P1) & _M64) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= (_rotl((int.from_bytes(data[i:i + 8], "little") * _P2) & _M64,
                    31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def untrusted_max_output(n_in: int) -> int:
    """The repo's one untrusted-bytes output ceiling: 512x the
    compressed input (text lands ~3-10x; 512x covers any real corpus
    ratio) with a 1 GiB floor so tiny-but-dense payloads stay
    decodable. Shared by every decompressor fed attacker-controllable
    bytes (jsonl.zst shards, Avro block codecs) so the policy can't
    silently diverge per call site."""
    return max(1 << 30, 512 * n_in)


def bounded_decompress(
    d, payload: bytes, cap: int, what: str, allow_trailing: bool = False
) -> bytes:
    """Run an incremental stdlib decompressor (zlib.decompressobj /
    bz2.BZ2Decompressor / lzma.LZMADecompressor — all share the
    decompress(data, max_length)/eof/unused_data protocol) to
    completion under an output cap. Raises ValueError past the cap, on
    a truncated stream (eof never reached — the one-shot module-level
    functions raised here too; an incremental decompressor silently
    returns the partial prefix instead, which is how two truncation
    guards got dropped when this pattern was hand-copied per codec),
    and on trailing data after the stream unless ``allow_trailing``
    (callers walking concatenated streams read ``d.unused_data``)."""
    out = d.decompress(payload, cap + 1)
    if len(out) > cap:
        raise ValueError(f"{what} exceeds output bound")
    if not d.eof:
        raise ValueError(f"{what} truncated")
    if not allow_trailing and d.unused_data:
        raise ValueError(f"{what} has trailing data")
    return out


def decompress(data: bytes, max_output: int | None = None) -> bytes:
    """Decode a sequence of zstd frames (skippable frames skipped).

    ``max_output`` caps the CUMULATIVE regenerated size mid-decode
    (ValueError past it). Pass it when decoding untrusted bytes: a
    frame without a content size is otherwise only bounded by the
    format's ~32768x-per-input-byte legal expansion."""
    if not data:
        raise ValueError("zstd: empty input")
    parts = []
    total = 0
    try:
        stream = pa.CompressedInputStream(pa.BufferReader(data), "zstd")
        while chunk := stream.read(_CHUNK):
            total += len(chunk)
            if max_output is not None and total > max_output:
                raise ValueError(
                    "zstd: output exceeds caller max_output bound")
            parts.append(chunk)
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"zstd: corrupt or truncated input ({exc})") from exc
    return b"".join(parts)


def compress(data: bytes) -> bytes:
    """Encode ``data`` as one zstd frame with its content size and an
    xxh64 content checksum, decodable by every conforming decoder."""
    frame = bytearray(pa.compress(data, codec="zstd", asbytes=True))
    # libzstd's one-shot API writes no checksum; a stored fault-detection
    # value is part of the format we promise, so set the frame header's
    # Content_Checksum_flag (RFC 8878 3.1.1.1.1) and append it ourselves
    frame[4] |= 1 << 2
    frame += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(frame)
