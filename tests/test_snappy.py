"""Raw snappy block codec vs the official snappy-java implementation.

snappycodec.py wraps the libsnappy that pyarrow bundles; Spark's
classpath ships snappy-java (used for shuffle compression), so the
cross-implementation tests compress/decompress in BOTH directions
against ``org.xerial.snappy.Snappy`` via py4j.
"""

from __future__ import annotations

import os
import random

import pytest

from flexcalc_spark.sources import snappycodec as sn


def _varint(n: int) -> bytes:
    """The format's little-endian base-128 length preamble."""
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _cases() -> list[bytes]:
    rng = random.Random(42)
    return [
        b"",
        b"a",
        b"abc",  # below the 4-byte match minimum
        b"abcd" * 100,
        bytes(range(256)) * 300,
        b"the quick brown fox " * 5000,  # > 64 KiB, compressible
        os.urandom(200_000),  # incompressible, multi-fragment
        b"\x00" * 100_000,  # maximal overlapping copies
        bytes(rng.choices(b"abc", k=150_000)),
    ]


def test_roundtrip_all_cases():
    for i, c in enumerate(_cases()):
        z = sn.compress(c)
        assert sn.decompress(z) == c, i


def test_compression_actually_compresses():
    c = b"the quick brown fox " * 5000
    assert len(sn.compress(c)) < len(c) // 10


def test_one_byte_offset_and_four_byte_literal_decode():
    """Hand-craft a 1-byte-offset overlapping copy and a 3-byte literal
    length so those element forms are pinned without Java."""
    # literal "ab", then copy len=5 off=2 with a 1-byte offset tag
    body = bytes([1 << 2]) + b"ab" + bytes([((5 - 4) << 2) | 1 | (0 << 5), 2])
    data = _varint(7) + body
    assert sn.decompress(data) == b"abababa"
    # a 70000-byte literal needs a 3-byte (tag 62) length encoding
    lit = os.urandom(70_000)
    data = _varint(len(lit)) + bytes([62 << 2]) + (
        len(lit) - 1
    ).to_bytes(3, "little") + lit
    assert sn.decompress(data) == lit


def test_corrupt_raises():
    good = sn.compress(b"hello world " * 100)
    with pytest.raises(ValueError):
        sn.decompress(good[:-3])  # truncated
    with pytest.raises(ValueError):
        # preamble length lie
        sn.decompress(_varint(999) + good[1:])
    with pytest.raises(ValueError):
        # copy offset beyond output start
        sn.decompress(_varint(4) + bytes([((4 - 4) << 2) | 1, 9]))


def test_java_cross_implementation(spark):
    S = spark._jvm.org.xerial.snappy.Snappy
    for i, c in enumerate(_cases()):
        if not c:
            continue  # snappy-java rejects empty input arrays
        assert bytes(S.uncompress(bytearray(sn.compress(c)))) == c, i
        assert sn.decompress(bytes(S.compress(bytearray(c)))) == c, i


def test_corruption_fuzz_raises_only_valueerror():
    """Parity with the zstd/avro/warc mutation sweeps: every
    truncation, bit flip, or byte edit must either decode or raise
    ValueError — never an untyped slice/index error."""
    rng = random.Random(0xEE)
    base = sn.compress(b"the quick brown fox " * 3000)
    for _ in range(300):
        m = bytearray(base)
        op = rng.randrange(3)
        if op == 0 and len(m) > 4:
            del m[rng.randrange(2, len(m)):]
        elif op == 1:
            m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
        else:
            m[rng.randrange(len(m))] = rng.randrange(256)
        try:
            sn.decompress(bytes(m))
        except ValueError:
            pass  # the contract
        # any OTHER exception type propagates and fails the test


def test_preamble_beyond_body_bound_raises_before_allocation():
    """Arrow allocates the declared length up front, so a 10-byte body
    whose preamble claims 4 GiB must be refused before decoding: no
    body can expand past 64 output bytes per 3 input bytes. The pool's
    peak shows no 4 GiB output buffer was ever allocated."""
    import pyarrow as pa

    crafted = _varint((1 << 32) - 1) + bytes([8 << 2]) + b"ABCDEFGHI"
    with pytest.raises(ValueError, match="preamble"):
        sn.decompress(crafted)
    assert pa.default_memory_pool().max_memory() < 1 << 32
    # the densest legal body (long runs of 64-byte copies) still decodes
    zeros = b"\x00" * 1_000_000
    assert sn.decompress(sn.compress(zeros)) == zeros
