"""Raw Snappy (block format) via the libsnappy that pyarrow bundles.

Snappy is the default Avro codec in most production ingest pipelines;
Avro frames the raw block format (google/snappy format_description.txt),
not the streaming/framing format. tests/test_snappy.py cross-verifies
both directions against the snappy-java on Spark's classpath.

Format: a little-endian varint preamble (uncompressed length), then
tagged literal and copy elements. Corrupt input raises ``ValueError``
(the repo-wide codec contract).
"""

from __future__ import annotations

import pyarrow as pa


def _varint_decode(buf: bytes) -> tuple[int, int]:
    """The length preamble -> (value, bytes consumed); at most 5 bytes
    (the format's 32-bit length)."""
    n = 0
    for i, b in enumerate(buf[:5]):
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return n, i + 1
    if len(buf) < 5:
        raise ValueError("snappy: truncated length preamble")
    raise ValueError("snappy: length varint too long")


def decompress(data: bytes) -> bytes:
    """Decompress a raw snappy block (the Avro/parquet page framing)."""
    n, pos = _varint_decode(data)
    # The body bounds the output: a 2-byte-offset copy, the densest
    # element, emits at most 64 bytes per 3 input bytes. Check before
    # decoding because Arrow allocates the declared size up front.
    if 3 * n > 64 * (len(data) - pos):
        raise ValueError(
            f"snappy: length preamble {n} exceeds what "
            f"{len(data) - pos} body bytes can produce")
    try:
        return pa.decompress(data, decompressed_size=n, codec="snappy",
                             asbytes=True)
    except (OSError, pa.ArrowException) as exc:
        raise ValueError(f"snappy: corrupt or truncated block ({exc})") \
            from exc


def compress(data: bytes) -> bytes:
    """Compress to a raw snappy block."""
    return pa.compress(data, codec="snappy", asbytes=True)
