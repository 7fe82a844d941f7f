"""Zstandard (RFC 8878) codec vs the official zstd-jni implementation.

zstdcodec.py wraps the libzstd that pyarrow bundles; Spark's classpath
ships zstd-jni (used for shuffle/parquet compression), so the
cross-implementation tests run BOTH directions against
``com.github.luben.zstd.Zstd`` via py4j — the same standard
snappycodec/avrocodec are held to. The remaining tests pin the
wrapper's own contract: every frame we write carries a content checksum,
and corrupt, truncated, over-window and over-cap input raises
``ValueError`` only.
"""

from __future__ import annotations

import os
import random

import pytest

from flexcalc_spark.sources import zstdcodec as zc

ZSTD_MAGIC = 0xFD2FB528


def _cases() -> dict[str, bytes]:
    rng = random.Random(7)
    return {
        "text": b"the quick brown fox jumps over the lazy dog. " * 4000,
        "json": b'{"user": 123, "event": "click", "value": 4.5}\n' * 3000,
        "rand": random.Random(11).randbytes(100_000),
        "zeros": b"\x00" * 200_000,
        "lowent": bytes(rng.choices(b"ab", k=120_000)),
        "mixed": (random.Random(5).randbytes(5_000) + b"A" * 50_000
                  + random.Random(6).randbytes(5_000) + b"pattern" * 8000),
        "short": b"abc",
        "one": b"x",
        "empty": b"",
        "utf": "héllo wörld ünïcode ".encode() * 6000,
        "ascii_nomatch": bytes(rng.choices(b"abcdefgh", k=80_000)),
        "skewed": bytes(rng.choices(
            b"aaaaaaaaaaaaaaaabcdefghijklmnopqrstuvwxyz0123", k=90_000)),
        "cyrillic": _cyrillic_text(),
        "high_bytes": bytes(random.Random(13).choices(
            bytes(range(120, 250)), k=80_000)),
    }


def _cyrillic_text() -> bytes:
    r = random.Random(9)
    return "".join(
        chr(0x430 + r.randrange(32)) if i % 7 else " "
        for i in range(40_000)
    ).encode("utf-8")


def test_xxh64_spec_vector():
    # the published XXH64 test vector; non-empty inputs are pinned by
    # every checksummed frame in the JNI tests below
    assert zc.xxh64(b"") == 0xEF46DB3751D8E999
    assert zc.xxh64(b"", seed=1) != zc.xxh64(b"")


def test_encoder_roundtrip():
    for name, c in _cases().items():
        assert zc.decompress(zc.compress(c)) == c, name


def test_encoder_actually_compresses():
    c = b'{"user": 123, "event": "click", "value": 4.5}\n' * 3000
    assert len(zc.compress(c)) < len(c) // 2
    # incompressible input falls back to raw blocks (no expansion
    # beyond the fixed frame overhead)
    r = _cases()["rand"]
    assert len(zc.compress(r)) <= len(r) + 64


def test_multiblock_and_rle():
    # > 128 KiB forces multiple blocks; a constant input compresses to
    # a few bytes per block
    c = b"\x07" * 300_000
    z = zc.compress(c)
    assert len(z) < 64
    assert zc.decompress(z) == c
    c2 = os.urandom(200_000)
    assert zc.decompress(zc.compress(c2)) == c2


def test_multi_frame_and_skippable():
    a, b = b"hello ", b"world"
    skippable = (0x184D2A50).to_bytes(4, "little") + (3).to_bytes(
        4, "little") + b"xyz"
    data = zc.compress(a) + skippable + zc.compress(b)
    assert zc.decompress(data) == a + b


def test_known_reference_frames_decode():
    """Byte-pinned zstd-jni level-3 frames (captured once) so the
    sequence/FSE/repeat-offset paths are exercised without a JVM — the
    Java test below regenerates these live."""
    for hexs, want in [
        ("28b52ffd60e8024d00001000000100e32b8005", b"\x00" * 1000),
        ("28b52ffd6058014d0000106162010053aa1c16", b"ab" * 300),
        ("28b52ffd603001ad0000707b2275736572223a203132337d0a01001fa29a4a",
         b'{"user": 123}\n' * 40),
    ]:
        assert zc.decompress(bytes.fromhex(hexs)) == want


def test_corrupt_raises():
    good = zc.compress(b"hello world " * 100)
    with pytest.raises(ValueError, match="truncated"):
        zc.decompress(good[:-3])  # truncated
    with pytest.raises(ValueError):
        zc.decompress(b"\x00\x00\x00\x00" + good[4:])  # bad magic
    with pytest.raises(ValueError):
        zc.decompress(good + b"garbage!")  # trailing bytes
    with pytest.raises(ValueError):
        zc.decompress(b"")
    # checksum mismatch: flip a content byte inside a checksummed frame
    framed = bytearray(zc.compress(b"payload-bytes-here"))
    framed[-6] ^= 0xFF
    with pytest.raises(ValueError):
        zc.decompress(bytes(framed))
    # dictionary id refused (typed boundary, not silence)
    with_dict = bytearray(zc.compress(b"x"))
    with_dict[4] |= 1  # Dictionary_ID_flag = 1
    with_dict.insert(5, 7)  # nonzero 1-byte dict id (before the FCS byte)
    with pytest.raises(ValueError):
        zc.decompress(bytes(with_dict))


def test_java_cross_implementation(spark):
    """Both directions vs the official implementation, all levels."""
    Z = spark._jvm.com.github.luben.zstd.Zstd
    cases = _cases()
    for lvl in (1, 3, 9, 19, 22):
        for name, c in cases.items():
            if not c:
                continue
            jc = bytes(Z.compress(bytearray(c), lvl))
            assert zc.decompress(jc) == c, (lvl, name)
    for name, c in cases.items():
        if not c:
            continue
        got = bytes(Z.decompress(bytearray(zc.compress(c)), len(c)))
        assert got == c, name
    # long-offset and >64K-match shapes the mixed cases may not hit
    for c in (bytes(random.Random(3).randbytes(50)) * 4000,
              b"X" * 70_000 + b"Y" + b"X" * 70_000):
        assert bytes(Z.decompress(bytearray(zc.compress(c)), len(c))) == c


def test_java_checksummed_frames(spark):
    """Reference frames WITH content checksums: decoding them verifies
    libzstd's checksum check on real payloads."""
    ctx = spark._jvm.com.github.luben.zstd.ZstdCompressCtx()
    ctx.setLevel(3)
    ctx.setChecksum(True)
    for name, c in _cases().items():
        if not c:
            continue
        jc = bytes(ctx.compress(bytearray(c)))
        assert zc.decompress(jc) == c, name


def test_every_frame_carries_checksum_verified_by_zstd_jni(spark):
    """compress() appends an xxh64 content checksum to libzstd's
    frame: the flag is set on every frame, zstd-jni accepts the frame,
    and rejects it once a content byte is flipped."""
    Z = spark._jvm.com.github.luben.zstd.Zstd
    for name, c in _cases().items():
        framed = zc.compress(c)
        assert (framed[4] >> 2) & 1 == 1, name  # Content_Checksum_flag
        if not c:
            continue
        assert bytes(Z.decompress(bytearray(framed), len(c))) == c, name
    # incompressible input is stored as a raw block, so the byte before
    # the 4-byte checksum is plain content only the checksum guards
    c = random.Random(17).randbytes(10_000)
    flipped = bytearray(zc.compress(c))
    flipped[-5] ^= 0x01
    with pytest.raises(Exception, match="(?i)checksum"):
        Z.decompress(bytearray(flipped), len(c))
    with pytest.raises(ValueError):
        zc.decompress(bytes(flipped))


def test_large_frame_decodes_under_zstd_jni(spark):
    """A > 1 MiB frame we write decodes under the reference decoder
    with its default window limit (real shards are 100 MB-1 GB)."""
    data = (b"some log line with request id 12345 and a payload\n"
            * 40_000)  # ~2 MB
    framed = zc.compress(data)
    assert zc.decompress(framed) == data
    Z = spark._jvm.com.github.luben.zstd.Zstd
    assert bytes(Z.decompress(bytearray(framed), len(data))) == data


def test_roundtrip_property_fuzz():
    """Structured fuzz without the JVM: random payloads across block
    breakpoints (empty / tiny / exactly-one-block / multi-block / RLE
    runs / high-byte alphabets) must round-trip."""
    rng = random.Random(0xC0DEC)
    sizes = [0, 1, 3, 4, 5, 63, 64, 1023, 1024,
             128 * 1024 - 1, 128 * 1024, 128 * 1024 + 1, 300_001]
    alphabets = [bytes([7]), b"ab", b"abcdefgh",
                 bytes(range(256)), bytes(range(128, 256))]
    for size in sizes:
        for alpha in alphabets:
            payload = bytes(rng.choices(alpha, k=size))
            assert zc.decompress(zc.compress(payload)) == payload, (
                size, alpha[:4])


def test_corruption_fuzz_raises_only_valueerror():
    """The repo-wide codec contract: corrupt bytes raise ValueError so
    upstream readers can degrade PER ROW — an OSError or ArrowException
    leaking from libzstd breaks that silently. Deterministic sweep:
    truncations, bit flips, and byte edits over compressed, raw-block,
    RLE and reference frames; each mutation must either decode (a
    mutation may land in an ignored field) or raise ValueError
    specifically."""
    rng = random.Random(0xFADE)
    bases = [
        zc.compress(b'{"user": 123, "event": "click"}\n' * 2000),
        zc.compress(bytes(rng.choices(b"abcdefgh", k=40_000))),
        zc.compress(bytes(rng.choices(bytes(range(128, 250)),
                                      k=40_000))),
        zc.compress(random.Random(1).randbytes(10_000)),  # raw blocks
        zc.compress(b"\x07" * 50_000),  # RLE block
        # pinned reference frame (predefined sequence tables)
        bytes.fromhex("28b52ffd60e8024d00001000000100e32b8005"),
    ]
    checked = 0
    for base in bases:
        for _ in range(120):
            mutated = bytearray(base)
            op = rng.randrange(3)
            if op == 0 and len(mutated) > 8:  # truncate
                del mutated[rng.randrange(4, len(mutated)):]
            elif op == 1:  # bit flip
                mutated[rng.randrange(len(mutated))] ^= 1 << rng.randrange(8)
            else:  # byte overwrite
                mutated[rng.randrange(len(mutated))] = rng.randrange(256)
            try:
                zc.decompress(bytes(mutated))
            except ValueError:
                pass  # the contract
            # any OTHER exception type propagates and fails the test
            checked += 1
    assert checked == len(bases) * 120


def _frame_header(fcs_flag: int, window_desc: int | None,
                  fcs_bytes: bytes) -> bytearray:
    """Hand-build a non-single-segment frame header (no checksum)."""
    out = bytearray(ZSTD_MAGIC.to_bytes(4, "little"))
    out.append(fcs_flag << 6)
    if window_desc is not None:
        out.append(window_desc)
    out += fcs_bytes
    return out


def _rle_block(size: int, byte: int, last: bool) -> bytes:
    return ((size << 3) | (1 << 1) | (1 if last else 0)).to_bytes(
        3, "little") + bytes([byte])


_WINDOW_128K = (17 - 10) << 3  # window descriptor: 2^17 bytes


def test_output_bound_enforced_during_decode():
    """Crafted frames whose blocks break the format's size limits fail
    at the offending block instead of expanding ~32768:1."""
    # (a) declared window 1 KiB (wd=0) but an RLE block regenerating
    # 128 KiB violates Block_Maximum_Size = min(window, 128 KiB)
    attack = _frame_header(0, 0x00, b"")
    for i in range(200):
        attack += _rle_block(131072, 0x41, last=(i == 199))
    with pytest.raises(ValueError):
        zc.decompress(bytes(attack))
    # (b) a raw block claiming > 128 KiB is corrupt whatever the window
    big_raw = _frame_header(0, _WINDOW_128K, b"")
    big_raw += ((131073 << 3) | 1).to_bytes(3, "little") + b"\x00" * 131073
    with pytest.raises(ValueError):
        zc.decompress(bytes(big_raw))
    # (c) output passing the declared FCS raises: fcs_flag=1 declares
    # 256 bytes but the chained RLE blocks regenerate 128 KiB each
    lying = _frame_header(1, _WINDOW_128K, (0).to_bytes(2, "little"))
    for i in range(50):
        lying += _rle_block(131072, 0x42, last=(i == 49))
    with pytest.raises(ValueError):
        zc.decompress(bytes(lying))


def test_window_above_128_mib_raises():
    """libzstd refuses frames declaring a window above 128 MiB (only
    ``zstd --long=28`` and up writes them); that surfaces as the
    contract's ValueError, while a 128 MiB window still decodes."""
    def frame(window_log: int) -> bytes:
        return bytes(_frame_header(0, (window_log - 10) << 3, b"")
                     + _rle_block(100, 0x41, last=True))

    assert zc.decompress(frame(27)) == b"A" * 100
    for window_log in (28, 31):
        with pytest.raises(ValueError):
            zc.decompress(frame(window_log))


def _bomb_compressed_block(n_seq: int, last: bool) -> bytes:
    """A btype=2 block that regenerates ~65.5 KiB PER SEQUENCE from ~2
    bytes of input each: empty raw literals, RLE sequence tables (0-bit
    state updates) with ll=0 / of_code=0 (repeat-offset) / ML code 52
    (base 65539, 16 extra bits, supplied as zeros in the backward
    bitstream)."""
    assert n_seq < 128
    body = bytearray()
    body.append(0x00)               # literals: raw, regenerated size 0
    body.append(n_seq)              # sequences count, 1-byte form
    body.append(0x54)               # scm: RLE mode for ll / of / ml
    body += bytes([0, 0, 52])       # RLE symbols: ll=0, of=0, ml=52
    body += b"\x00" * (2 * n_seq)   # 16 ml extra bits per sequence
    body.append(0x01)               # backward-bitstream sentinel
    return ((len(body) << 3) | (2 << 1) | (1 if last else 0)).to_bytes(
        3, "little") + bytes(body)


def test_compressed_block_bomb_capped_mid_decode():
    """One compressed block whose sequences would regenerate ~8.3 MB
    (127 seqs x 65539 B) against a 128 KiB Block_Maximum_Size must
    raise, capped or not. A format-legal no-FCS bomb (512 RLE blocks,
    64 MiB from ~2 KB) stops at the caller's cap with the output-bound
    error instead of materializing."""
    frame = _frame_header(0, _WINDOW_128K, b"")  # no FCS
    frame += _rle_block(1000, 0x41, last=False)  # history for offsets
    frame += _bomb_compressed_block(127, last=True)
    with pytest.raises(ValueError):
        zc.decompress(bytes(frame))
    with pytest.raises(ValueError):
        zc.decompress(bytes(frame), max_output=10_000)
    legal = _frame_header(0, _WINDOW_128K, b"")
    for i in range(512):
        legal += _rle_block(131072, 0x41, last=(i == 511))
    with pytest.raises(ValueError, match="output bound"):
        zc.decompress(bytes(legal), max_output=1 << 20)


def test_no_fcs_frame_bounded_by_caller_max_output():
    """A no-FCS streaming frame is format-legal at ~32768x expansion —
    untrusted-bytes callers pass max_output for a hard mid-decode
    ceiling (the jsonl.zst and Avro readers do)."""
    frame = _frame_header(0, _WINDOW_128K, b"")  # fcs_flag=0: no FCS
    for i in range(1000):
        frame += _rle_block(100, 0x58, last=(i == 999))
    # uncapped: legal, decodes to 100 KB
    assert zc.decompress(bytes(frame)) == b"\x58" * 100_000
    with pytest.raises(ValueError, match="max_output"):
        zc.decompress(bytes(frame), max_output=50_000)
    # a cap looser than the content leaves decoding unchanged
    assert zc.decompress(zc.compress(b"ok" * 50), max_output=1 << 20) \
        == b"ok" * 50
