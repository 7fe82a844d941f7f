"""Pure-Python Apache Avro object-container codec + Spark source/sink.

The ``spark-avro`` datasource jar is an external Spark module that is
not loadable offline in this container (SURVEY.md: "Avro is correctly
absent: its jar isn't loadable offline"), but Avro remains one of the
three dominant row-interchange formats real ingest directories ship
(beside JSON-lines and ORC). This module closes that boundary the same
way jpegcodec.py closed the image one: a pure-Python
implementation of the PUBLIC specification — Apache Avro 1.12.x
"Specification" (binary encoding + object container files) — with the
verification standard raised one notch above the JPEG lockstep-encoder
trick: Spark's own classpath DOES ship the official Java
implementation's core jar (avro-1.12.1.jar, used internally by Spark's
shuffle/RDD serialization), so tests round-trip BOTH directions against
``org.apache.avro`` via py4j: files we write are read back record-exact
by ``DataFileReader``/``GenericDatumReader``, and files
``DataFileWriter`` writes are read record-exact by this decoder
(tests/test_avro.py).

Supported (the full spec surface minus RPC):

- all eight primitives (``null boolean int long float double bytes
  string``), ``record``, ``enum``, ``array``, ``map``, ``union``,
  ``fixed``; named-type references; nested/recursive schemas;
- object container files: header metadata map, 16-byte sync markers,
  multi-block files, NEGATIVE block counts on read (the spec's
  size-prefixed variant), and ALL SIX of the spec's codecs: ``null``,
  ``deflate`` (raw RFC 1951 via zlib), ``snappy`` (snappycodec.py —
  raw snappy blocks + the spec's big-endian CRC32 of the uncompressed
  block), ``bzip2`` and ``xz`` (stdlib bz2/lzma), and ``zstandard``
  (zstdcodec.py); snappy and zstandard wrap the libsnappy/libzstd that
  pyarrow bundles, cross-verified both directions against the
  classpath's snappy-java and zstd-jni (tests/test_snappy.py,
  tests/test_zstd.py);
- logical types (the warehouse-interchange workhorses): ``decimal``
  (bytes or fixed two's-complement unscaled), ``uuid``, ``date``,
  ``time-millis/micros``, ``timestamp-millis/micros`` and their
  ``local-`` variants convert to/from rich Python values
  (decimal.Decimal, datetime.date/time/datetime — timestamps aware
  UTC, local-timestamps naive); raw base-typed values still pass
  through on write, and UNRECOGNIZED logical types fall back to the
  base type ("a reader SHOULD ignore a logical type it doesn't
  recognize");
- SCHEMA RESOLUTION (``read_container(data, reader_schema=...)``): the
  spec's evolution rules — field add via reader default, field drop,
  alias renames, numeric promotions (int→long→float→double),
  string↔bytes, union re-matching, enum reader-default — verified to
  produce the same resolved records as Java's
  ``GenericDatumReader(writer, reader)`` on the same container bytes.

Python value mapping: null→None, boolean→bool, int/long→int,
float/double→float, bytes/fixed→bytes, string→str, enum→str symbol,
array→list, map→dict, union→branch value, record→dict.

Scale: the Spark integration below is file-granular like every
container format without a splittable-input plugin — ``binaryFile``
scan, one container decoded per ``binaryfiles.map_files`` call; the
writer emits one container per DataFrame partition through
``binaryfiles.write_parts``. At 100 TB the per-file unit is the right
one anyway (Avro ingest directories are
many-file by construction — producers roll files on time/size); a 4 MB
pandas batch decodes in ~0.1 s, so decode parallelism = file count,
identical posture to the TIFF/JPEG sources (binaryfiles.py). Blobs stay
on executors; only the requested columns cross into Spark rows.
"""

from __future__ import annotations

import json
import struct
import zlib
from functools import partial

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

# the spec's six container codecs — ONE definition shared by the write
# gate, the read gate, and _decompress_block's dispatch (three
# synchronized copies drifted apart is how an asymmetric surface ships)
CODECS = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")

_PRIMITIVES = frozenset(
    ("null", "boolean", "int", "long", "float", "double", "bytes", "string")
)
_NAMED_KINDS = frozenset(("record", "enum", "fixed"))


# ---------------------------------------------------------------------------
# varint / zigzag (spec "Binary Encoding > Primitive Types")
# ---------------------------------------------------------------------------


def zigzag_encode(n: int) -> bytes:
    """Encode a signed int as the Avro zigzag base-128 varint."""
    n = int(n)
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    z &= 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    """Decode a zigzag varint at ``pos``; return (value, new_pos)."""
    z = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("avro: truncated varint")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 70:
            raise ValueError("avro: varint too long")
    return (z >> 1) ^ -(z & 1), pos


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------


def _register_named(
    schema: object, names: dict, enclosing_ns: str | None = None
) -> None:
    """Walk a parsed schema, registering named types by full name.

    Namespace resolution per the spec: a name containing dots IS a
    fullname; otherwise the type's own ``namespace`` attribute applies,
    and absent that the namespace is INHERITED from the innermost
    enclosing named type — so ``ns.Inner`` is a legal reference to a
    bare-named Inner nested inside a record with namespace ``ns``
    (Java Avro and fastavro emit such references)."""
    if isinstance(schema, list):
        for s in schema:
            _register_named(s, names, enclosing_ns)
        return
    if not isinstance(schema, dict):
        return
    t = schema.get("type")
    ns = enclosing_ns
    if t in _NAMED_KINDS:
        name = schema["name"]
        if "." in name:
            full = name
            ns = name.rsplit(".", 1)[0]
        else:
            ns = schema.get("namespace", enclosing_ns)
            full = f"{ns}.{name}" if ns else name
        names[full] = schema
        names.setdefault(name, schema)
    if t == "record":
        for f in schema["fields"]:
            _register_named(f["type"], names, ns)
    elif t == "array":
        _register_named(schema["items"], names, ns)
    elif t == "map":
        _register_named(schema["values"], names, ns)


def _resolve(schema: object, names: dict) -> object:
    """Resolve a named-type reference string to its definition."""
    if isinstance(schema, str) and schema not in _PRIMITIVES:
        try:
            return names[schema]
        except KeyError:
            raise ValueError(f"avro: unknown type name {schema!r}") from None
    return schema


def _kind(schema: object) -> str:
    if isinstance(schema, list):
        return "union"
    if isinstance(schema, str):
        return schema
    return schema["type"]


# ---------------------------------------------------------------------------
# datum encode / decode
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# logical types (Avro 1.12 spec §"Logical Types"): decimal, uuid, date,
# time-millis/micros, timestamp-millis/micros, local-timestamp-*.
# Rich Python values convert to the base encoding on write and back on
# read; raw base-typed values pass through unchanged (so files written
# against the raw convention — e.g. the Java-parity tests — still work).
# Unrecognized logical types fall back to the base type, as the spec
# directs readers to do.
# ---------------------------------------------------------------------------

_EPOCH_DATE = None  # initialized lazily (datetime import kept local)


def _logical_epochs():
    import datetime as dt

    return (
        dt.date(1970, 1, 1),
        dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc),
        dt.datetime(1970, 1, 1),
    )


def _logical_to_raw(schema: dict, value):
    """Convert a rich Python value to the logical type's base encoding;
    base-typed values pass through."""
    import datetime as dt
    import decimal as dec
    import uuid as uuid_mod

    lt = schema.get("logicalType")
    if lt == "decimal" and isinstance(value, dec.Decimal):
        scale = int(schema.get("scale", 0))
        q = value.scaleb(scale)
        if q != q.to_integral_value():
            raise ValueError(
                f"avro: decimal {value} does not fit scale {scale}"
            )
        unscaled = int(q)
        size = schema.get("size") if schema.get("type") == "fixed" else None
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        if size is not None:
            if nbytes > size:
                raise ValueError(
                    f"avro: decimal {value} overflows fixed size {size}"
                )
            nbytes = size
        return unscaled.to_bytes(nbytes, "big", signed=True)
    if lt == "uuid" and isinstance(value, uuid_mod.UUID):
        return str(value)
    if lt == "date" and isinstance(value, dt.date) and not isinstance(
        value, dt.datetime
    ):
        epoch_d, _, _ = _logical_epochs()
        return (value - epoch_d).days
    if lt in ("time-millis", "time-micros") and isinstance(value, dt.time):
        us = (
            value.hour * 3_600_000_000
            + value.minute * 60_000_000
            + value.second * 1_000_000
            + value.microsecond
        )
        return us // 1000 if lt == "time-millis" else us
    if lt in (
        "timestamp-millis", "timestamp-micros",
        "local-timestamp-millis", "local-timestamp-micros",
    ) and isinstance(value, dt.datetime):
        _, epoch_utc, epoch_naive = _logical_epochs()
        if lt.startswith("local-"):
            v = value.replace(tzinfo=None)
            delta = v - epoch_naive
        else:
            v = value if value.tzinfo is not None else value.replace(
                tzinfo=dt.timezone.utc
            )
            delta = v - epoch_utc
        us = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000
              + delta.microseconds)
        return us // 1000 if lt.endswith("millis") else us
    return value


def _raw_to_logical(schema: dict, value):
    """Convert a decoded base value to the rich Python type the logical
    annotation names; unknown annotations pass through (spec rule)."""
    import datetime as dt
    import decimal as dec

    lt = schema.get("logicalType")
    if lt == "decimal" and isinstance(value, (bytes, bytearray)):
        scale = int(schema.get("scale", 0))
        unscaled = int.from_bytes(bytes(value), "big", signed=True)
        return dec.Decimal(unscaled).scaleb(-scale)
    if lt == "date" and isinstance(value, int):
        epoch_d, _, _ = _logical_epochs()
        return epoch_d + dt.timedelta(days=value)
    if lt in ("time-millis", "time-micros") and isinstance(value, int):
        us = value * 1000 if lt == "time-millis" else value
        return (
            dt.datetime.min + dt.timedelta(microseconds=us)
        ).time()
    if lt in (
        "timestamp-millis", "timestamp-micros",
        "local-timestamp-millis", "local-timestamp-micros",
    ) and isinstance(value, int):
        us = value * 1000 if lt.endswith("millis") else value
        _, epoch_utc, epoch_naive = _logical_epochs()
        base = epoch_naive if lt.startswith("local-") else epoch_utc
        return base + dt.timedelta(microseconds=us)
    return value  # uuid stays str; unknown annotations pass through


def _encode(schema: object, value: object, out: bytearray, names: dict) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, dict) and "logicalType" in schema:
        value = _logical_to_raw(schema, value)
    k = _kind(schema)
    if k == "null":
        if value is not None:
            raise ValueError("avro: non-null value for null schema")
    elif k == "boolean":
        out.append(1 if value else 0)
    elif k in ("int", "long"):
        out += zigzag_encode(int(value))
    elif k == "float":
        out += struct.pack("<f", float(value))
    elif k == "double":
        out += struct.pack("<d", float(value))
    elif k == "bytes":
        b = bytes(value)
        out += zigzag_encode(len(b))
        out += b
    elif k == "string":
        b = str(value).encode("utf-8")
        out += zigzag_encode(len(b))
        out += b
    elif k == "record":
        for f in schema["fields"]:
            try:
                fv = value[f["name"]]
            except KeyError:
                if "default" in f:
                    fv = _json_default(f["type"], f["default"], names)
                else:
                    raise ValueError(
                        f"avro: record missing field {f['name']!r}"
                    ) from None
            _encode(f["type"], fv, out, names)
    elif k == "enum":
        try:
            out += zigzag_encode(schema["symbols"].index(value))
        except ValueError:
            raise ValueError(f"avro: {value!r} not in enum symbols") from None
    elif k == "array":
        items = list(value)
        if items:
            out += zigzag_encode(len(items))
            for it in items:
                _encode(schema["items"], it, out, names)
        out += zigzag_encode(0)
    elif k == "map":
        if value:
            out += zigzag_encode(len(value))
            for mk, mv in value.items():
                _encode("string", mk, out, names)
                _encode(schema["values"], mv, out, names)
        out += zigzag_encode(0)
    elif k == "union":
        idx = _union_index(schema, value, names)
        out += zigzag_encode(idx)
        _encode(schema[idx], value, out, names)
    elif k == "fixed":
        b = bytes(value)
        if len(b) != schema["size"]:
            raise ValueError(
                f"avro: fixed size {schema['size']} != {len(b)} bytes"
            )
        out += b
    else:
        raise ValueError(f"avro: unsupported schema kind {k!r}")


def _json_default(schema: object, dv: object, names: dict):
    """Convert a JSON-encoded field ``default`` (Avro spec rules) to the
    Python datum ``_encode`` expects: bytes/fixed defaults are JSON
    strings holding one ISO-8859-1 char per byte; a union default is
    written against the FIRST branch; containers convert recursively.
    Primitive kinds (null/boolean/int/long/float/double/string/enum)
    map 1:1. Malformed defaults raise a typed ValueError (never the
    bytes(str) TypeError)."""
    sch = _resolve(schema, names)
    k = _kind(sch)
    if k == "union":
        return _json_default(sch[0], dv, names)
    if k == "null":
        if dv is not None:
            raise ValueError("avro: null default must be JSON null")
        return None
    if k == "boolean":
        if not isinstance(dv, bool):
            raise ValueError("avro: boolean default must be a JSON bool")
        return dv
    if k in ("int", "long"):
        if not isinstance(dv, int) or isinstance(dv, bool):
            raise ValueError(f"avro: {k} default must be a JSON integer")
        return dv
    if k in ("float", "double"):
        # coerce to float so a union default like ['double','long'] + 0
        # strict-matches the FIRST branch downstream (the spec rule);
        # without this the int 0 would take the long branch
        if not isinstance(dv, (int, float)) or isinstance(dv, bool):
            raise ValueError(f"avro: {k} default must be a JSON number")
        return float(dv)
    if k in ("bytes", "fixed"):
        if not isinstance(dv, str):
            raise ValueError(f"avro: {k} default must be a JSON string")
        try:
            return dv.encode("latin-1")
        except UnicodeEncodeError:
            raise ValueError(
                f"avro: {k} default has codepoints above 255"
            ) from None
    if k == "array":
        if not isinstance(dv, list):
            raise ValueError("avro: array default must be a JSON array")
        return [_json_default(sch["items"], x, names) for x in dv]
    if k == "map":
        if not isinstance(dv, dict):
            raise ValueError("avro: map default must be a JSON object")
        return {
            mk: _json_default(sch["values"], mv, names)
            for mk, mv in dv.items()
        }
    if k == "record":
        if not isinstance(dv, dict):
            raise ValueError("avro: record default must be a JSON object")
        out = {}
        for f in sch["fields"]:
            if f["name"] in dv:
                out[f["name"]] = _json_default(f["type"], dv[f["name"]], names)
            elif "default" in f:
                out[f["name"]] = _json_default(
                    f["type"], f["default"], names
                )
            else:
                raise ValueError(
                    f"avro: record default missing field {f['name']!r}"
                )
        return out
    return dv


def _union_index(branches: list, value: object, names: dict) -> int:
    """Pick the first union branch whose kind matches the Python value.

    Strict type match wins in branch order — in particular a str always
    takes a string branch over an enum branch when both are present
    (first-match rule; callers wanting the enum must order it first).
    One spec-sanctioned promotion applies as a fallback: an int (non-
    bool) datum matches a float/double branch when the union has no
    int/long branch. Rich logical-type values (datetime/date/time/
    Decimal/UUID) match the branch whose logicalType accepts them."""
    import datetime as _dt
    import decimal as _dec
    import uuid as _uuid

    float_fallback = None
    for i, br in enumerate(branches):
        sch = _resolve(br, names)
        bk = _kind(sch)
        lt = sch.get("logicalType") if isinstance(sch, dict) else None
        if isinstance(value, _dt.datetime):
            if lt in (
                "timestamp-millis", "timestamp-micros",
                "local-timestamp-millis", "local-timestamp-micros",
            ):
                return i
            continue
        if isinstance(value, _dt.date):
            if lt == "date":
                return i
            continue
        if isinstance(value, _dt.time):
            if lt in ("time-millis", "time-micros"):
                return i
            continue
        if isinstance(value, _dec.Decimal):
            if lt == "decimal":
                return i
            continue
        if isinstance(value, _uuid.UUID):
            if bk == "string":
                return i
            continue
        if value is None:
            if bk == "null":
                return i
        elif bk == "boolean":
            if isinstance(value, bool):
                return i
        elif bk in ("int", "long"):
            if isinstance(value, int) and not isinstance(value, bool):
                return i
        elif bk in ("float", "double"):
            if isinstance(value, float):
                return i
            if (
                float_fallback is None
                and isinstance(value, int)
                and not isinstance(value, bool)
            ):
                float_fallback = i
        elif bk == "string":
            if isinstance(value, str):
                return i
        elif bk in ("bytes", "fixed"):
            if isinstance(value, (bytes, bytearray)):
                return i
        elif bk == "array":
            if isinstance(value, (list, tuple)):
                return i
        elif bk in ("map", "record"):
            if isinstance(value, dict):
                return i
        elif bk == "enum":
            if isinstance(value, str):
                return i
    if float_fallback is not None:
        return float_fallback  # int -> float/double promotion
    raise ValueError(f"avro: no union branch for {type(value).__name__}")


def _decode(schema: object, buf: bytes, pos: int, names: dict):
    schema = _resolve(schema, names)
    val, pos = _decode_base(schema, buf, pos, names)
    if isinstance(schema, dict) and "logicalType" in schema:
        val = _raw_to_logical(schema, val)
    return val, pos


def _decode_base(schema: object, buf: bytes, pos: int, names: dict):
    k = _kind(schema)
    if k == "null":
        return None, pos
    if k == "boolean":
        if pos >= len(buf):
            raise ValueError("avro: truncated boolean")
        return buf[pos] != 0, pos + 1
    if k in ("int", "long"):
        return zigzag_decode(buf, pos)
    if k == "float":
        if pos + 4 > len(buf):
            raise ValueError("avro: truncated float")
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if k == "double":
        if pos + 8 > len(buf):
            raise ValueError("avro: truncated double")
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if k in ("bytes", "string"):
        n, pos = zigzag_decode(buf, pos)
        if n < 0 or pos + n > len(buf):
            raise ValueError("avro: truncated bytes/string")
        raw = bytes(buf[pos : pos + n])
        return (raw.decode("utf-8") if k == "string" else raw), pos + n
    if k == "record":
        rec = {}
        for f in schema["fields"]:
            rec[f["name"]], pos = _decode(f["type"], buf, pos, names)
        return rec, pos
    if k == "enum":
        idx, pos = zigzag_decode(buf, pos)
        syms = schema["symbols"]
        if not 0 <= idx < len(syms):
            raise ValueError("avro: enum index out of range")
        return syms[idx], pos
    if k == "array":
        items = []
        while True:
            cnt, pos = zigzag_decode(buf, pos)
            if cnt == 0:
                return items, pos
            if cnt < 0:
                # size-prefixed block variant: skip the byte-size long
                cnt = -cnt
                _, pos = zigzag_decode(buf, pos)
            if cnt > 1 << 26:
                # zero-width item types (null, empty records) consume
                # no payload bytes, so a corrupted count varint would
                # otherwise allocate unbounded memory instead of
                # raising — every other decode path is byte-bounded
                # (r11 review finding)
                raise ValueError("avro: implausible array block count")
            for _ in range(cnt):
                it, pos = _decode(schema["items"], buf, pos, names)
                items.append(it)
    if k == "map":
        m = {}
        while True:
            cnt, pos = zigzag_decode(buf, pos)
            if cnt == 0:
                return m, pos
            if cnt < 0:
                cnt = -cnt
                _, pos = zigzag_decode(buf, pos)
            if cnt > 1 << 26:
                raise ValueError("avro: implausible map block count")
            for _ in range(cnt):
                mk, pos = _decode("string", buf, pos, names)
                m[mk], pos = _decode(schema["values"], buf, pos, names)
    if k == "union":
        idx, pos = zigzag_decode(buf, pos)
        if not 0 <= idx < len(schema):
            raise ValueError("avro: union index out of range")
        return _decode(schema[idx], buf, pos, names)
    if k == "fixed":
        n = schema["size"]
        if pos + n > len(buf):
            raise ValueError("avro: truncated fixed")
        return bytes(buf[pos : pos + n]), pos + n
    raise ValueError(f"avro: unsupported schema kind {k!r}")


# ---------------------------------------------------------------------------
# object container files (spec "Object Container Files")
# ---------------------------------------------------------------------------


def _sync_marker(schema_json: str) -> bytes:
    """Deterministic 16-byte sync marker (spec requires 16 bytes, not
    randomness; determinism keeps written fixtures byte-stable)."""
    import hashlib

    return hashlib.md5(b"flexcalc-avro\0" + schema_json.encode()).digest()


def write_container(
    schema: object,
    records: list,
    codec: str = "null",
    max_block_records: int = 4096,
) -> bytes:
    """Serialize ``records`` to Avro object-container bytes."""
    if codec not in CODECS:
        raise NotImplementedError(
            f"avro codec {codec!r} is not in the Avro 1.12 spec"
        )
    schema_json = json.dumps(schema, separators=(",", ":"), sort_keys=True)
    names: dict = {}
    _register_named(schema, names)
    sync = _sync_marker(schema_json)
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out += zigzag_encode(len(meta))
    for mk, mv in sorted(meta.items()):
        _encode("string", mk, out, names)
        _encode("bytes", mv, out, names)
    out += zigzag_encode(0)
    out += sync
    for start in range(0, len(records), max_block_records):
        chunk = records[start : start + max_block_records]
        body = bytearray()
        for rec in chunk:
            _encode(schema, rec, body, names)
        payload = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            # spec: snappy block + big-endian CRC32 of the UNCOMPRESSED data
            from flexcalc_spark.sources import snappycodec

            crc = zlib.crc32(payload) & 0xFFFFFFFF
            payload = snappycodec.compress(payload) + crc.to_bytes(4, "big")
        elif codec == "bzip2":
            import bz2

            payload = bz2.compress(payload)
        elif codec == "xz":
            import lzma

            payload = lzma.compress(payload, format=lzma.FORMAT_XZ)
        elif codec == "zstandard":
            from flexcalc_spark.sources import zstdcodec

            payload = zstdcodec.compress(payload)
        out += zigzag_encode(len(chunk))
        out += zigzag_encode(len(payload))
        out += payload
        out += sync
    return bytes(out)


def _adapt(w: object, r: object, value, names_w: dict, names_r: dict):
    """Schema-resolution adapter (Avro spec "Schema Resolution"):
    convert a datum decoded under WRITER schema ``w`` to READER schema
    ``r``. Runs on the decoded tree (container files decode whole
    datums, so post-hoc adaptation is equivalent): record field
    add(default)/drop/aliases, numeric promotions (int→long→float→
    double), string↔bytes, enum reader-default, union re-matching,
    recursive containers. Logical-type conversion follows the WRITER's
    annotations (applied during decode). Mismatches raise ValueError."""
    w = _resolve(w, names_w)
    r = _resolve(r, names_r)
    if _kind(w) == "union":
        # recover the concrete writer branch by value (the same
        # matching the encoder uses, incl. rich logical values)
        w = _resolve(w[_union_index(w, value, names_w)], names_w)
    kw, kr = _kind(w), _kind(r)
    if kr == "union":
        last_err = None
        for br in r:
            try:
                return _adapt(w, br, value, names_w, names_r)
            except ValueError as exc:
                last_err = exc
        raise ValueError(f"avro: no reader union branch accepts datum "
                         f"({last_err})")
    if kr == "record":
        if kw != "record" or not isinstance(value, dict):
            raise ValueError("avro: reader record vs non-record datum")
        out = {}
        for f in r["fields"]:
            srcs = [f["name"]] + list(f.get("aliases", []))
            hit = next((s for s in srcs if s in value), None)
            if hit is not None:
                wf = next(
                    (x["type"] for x in w["fields"] if x["name"] == hit),
                    None,
                )
                out[f["name"]] = (
                    _adapt(wf, f["type"], value[hit], names_w, names_r)
                    if wf is not None
                    else value[hit]
                )
            elif "default" in f:
                out[f["name"]] = _json_default(f["type"], f["default"],
                                               names_r)
            else:
                raise ValueError(
                    f"avro: reader field {f['name']!r} absent and has "
                    "no default"
                )
        return out
    if kr == "enum":
        if value in r["symbols"]:
            return value
        if "default" in r:
            return r["default"]
        raise ValueError(f"avro: enum symbol {value!r} not in reader")
    if kr == "array":
        if not isinstance(value, list):
            raise ValueError("avro: reader array vs non-list datum")
        wi = w["items"] if kw == "array" else None
        return [_adapt(wi, r["items"], x, names_w, names_r) for x in value]
    if kr == "map":
        if not isinstance(value, dict):
            raise ValueError("avro: reader map vs non-dict datum")
        wv = w["values"] if kw == "map" else None
        return {
            mk: _adapt(wv, r["values"], mv, names_w, names_r)
            for mk, mv in value.items()
        }
    # primitives/fixed: normalize a writer-annotated rich value back to
    # its base encoding first, validate/promote at the base level, then
    # re-apply the READER's annotation (covers annotation add/drop/keep
    # across evolution)
    if isinstance(w, dict) and w.get("logicalType"):
        value = _logical_to_raw(w, value)

    def fin(v):
        if isinstance(r, dict) and "logicalType" in r:
            return _raw_to_logical(r, v)
        return v

    if kr == "null":
        if value is not None:
            raise ValueError("avro: reader null vs non-null datum")
        return None
    if kr == "boolean":
        if not isinstance(value, bool):
            raise ValueError("avro: reader boolean vs non-bool datum")
        return value
    if kr in ("int", "long"):
        if isinstance(value, bool) or not isinstance(value, int):
            raise ValueError(f"avro: reader {kr} vs non-int datum")
        return fin(value)
    if kr in ("float", "double"):
        # promotion chain int -> long -> float -> double
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise ValueError(f"avro: reader {kr} vs non-numeric datum")
        return float(value)
    if kr == "string":
        if isinstance(value, (bytes, bytearray)):
            return bytes(value).decode("utf-8")  # bytes -> string promo
        if not isinstance(value, str):
            raise ValueError("avro: reader string vs non-string datum")
        return value
    if kr == "bytes":
        if isinstance(value, str):
            return value.encode("utf-8")  # string -> bytes promotion
        if not isinstance(value, (bytes, bytearray)):
            raise ValueError("avro: reader bytes vs non-bytes datum")
        return fin(bytes(value))
    if kr == "fixed":
        if not isinstance(value, (bytes, bytearray)) or len(value) != r[
            "size"
        ]:
            raise ValueError("avro: reader fixed size mismatch")
        return fin(bytes(value))
    raise ValueError(f"avro: unsupported reader kind {kr!r}")


def _decompress_block(codec: str, payload: bytes) -> bytes:
    """One container block's payload -> uncompressed bytes, each codec
    bounded by the shared untrusted-bytes ceiling and run through
    zstdcodec.bounded_decompress, which also restores the one-shot
    functions' truncation errors (an incremental decompressor returns
    a silent partial prefix otherwise). Corrupt-data errors keep their
    stdlib types (zlib.error, OSError from bz2); read_container wraps
    them all as ValueError at the boundary."""
    from flexcalc_spark.sources.zstdcodec import (
        bounded_decompress,
        untrusted_max_output,
    )

    cap = untrusted_max_output(len(payload))
    if codec == "deflate":
        return bounded_decompress(
            zlib.decompressobj(-15), payload, cap, "avro: deflate block")
    if codec == "snappy":
        from flexcalc_spark.sources import snappycodec

        if len(payload) < 4:
            raise ValueError("avro: snappy block missing CRC")
        crc = int.from_bytes(payload[-4:], "big")
        out = snappycodec.decompress(payload[:-4])
        if zlib.crc32(out) & 0xFFFFFFFF != crc:
            raise ValueError("avro: snappy block CRC mismatch")
        return out
    if codec == "bzip2":
        import bz2

        return bounded_decompress(
            bz2.BZ2Decompressor(), payload, cap, "avro: bzip2 block")
    if codec == "xz":
        import lzma

        try:
            return bounded_decompress(
                lzma.LZMADecompressor(), payload, cap, "avro: xz block")
        except lzma.LZMAError as exc:
            raise ValueError(f"avro: corrupt xz block ({exc})") from exc
    if codec == "zstandard":
        from flexcalc_spark.sources import zstdcodec

        # a no-FCS frame is only format-bounded at ~32768x input
        return zstdcodec.decompress(payload, max_output=cap)
    return payload  # codec "null"


def read_container(
    data: bytes, reader_schema: object | None = None
) -> tuple[object, list]:
    """Parse Avro object-container bytes → (schema, records). With
    ``reader_schema``, records are RESOLVED to it per the spec's
    schema-resolution rules (_adapt) and it is returned as the
    schema. Corrupt input raises ValueError (the repo-wide codec
    contract): schema-shape KeyError/IndexError and the stdlib
    decompressors' own error types (zlib.error, bz2's OSError,
    LZMAError) are wrapped at this boundary — a mutation sweep
    (tests/test_avro.py) pins that nothing else escapes."""
    try:
        return _read_container_inner(data, reader_schema)
    except (KeyError, IndexError) as exc:
        # untrusted bytes produced a malformed schema/structure walk
        raise ValueError(f"avro: malformed container ({exc!r})") from exc


def _read_container_inner(
    data: bytes, reader_schema: object | None = None
) -> tuple[object, list]:
    if data[:4] != MAGIC:
        raise ValueError("avro: bad container magic")
    names: dict = {}
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        cnt, pos = zigzag_decode(data, pos)
        if cnt == 0:
            break
        if cnt < 0:
            cnt = -cnt
            _, pos = zigzag_decode(data, pos)
        for _ in range(cnt):
            mk, pos = _decode("string", data, pos, names)
            meta[mk], pos = _decode("bytes", data, pos, names)
    schema = json.loads(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in CODECS:
        raise NotImplementedError(
            f"avro codec {codec!r} not available offline"
        )
    _register_named(schema, names)
    sync = data[pos : pos + SYNC_SIZE]
    pos += SYNC_SIZE
    records: list = []
    while pos < len(data):
        cnt, pos = zigzag_decode(data, pos)
        if cnt < 0:
            cnt = -cnt
        size, pos = zigzag_decode(data, pos)
        if size < 0 or pos + size > len(data):
            raise ValueError("avro: truncated block")
        payload = data[pos : pos + size]
        pos += size
        try:
            payload = _decompress_block(codec, payload)
        except (zlib.error, OSError, EOFError) as exc:
            raise ValueError(
                f"avro: corrupt {codec} block ({exc})"
            ) from exc
        bpos = 0
        for _ in range(cnt):
            rec, bpos = _decode(schema, payload, bpos, names)
            records.append(rec)
        if bpos != len(payload):
            raise ValueError("avro: block not fully consumed")
        if data[pos : pos + SYNC_SIZE] != sync:
            raise ValueError("avro: sync marker mismatch")
        pos += SYNC_SIZE
    if reader_schema is not None:
        names_r: dict = {}
        _register_named(reader_schema, names_r)
        records = [
            _adapt(schema, reader_schema, rec, names, names_r)
            for rec in records
        ]
        return reader_schema, records
    return schema, records


# ---------------------------------------------------------------------------
# Spark source / sink (file-granular, executor-side blobs)
# ---------------------------------------------------------------------------


def write_avro(df, out_dir: str, schema: object, codec: str = "deflate"):
    """Distributed Avro sink: one ``part-NNNNN.avro`` container per
    non-empty DataFrame partition, written on executors by
    ``binaryfiles.write_parts`` (partition-id names, atomic rename);
    returns the lazy (path, n_records) DataFrame — run an action on it
    to force the write."""
    from flexcalc_spark.sources.binaryfiles import write_parts

    names = [f["name"] for f in schema["fields"]]
    return write_parts(
        df, out_dir, ".avro", partial(_records, names=names),
        partial(write_container, schema, codec=codec),
    )


def _records(pdf, names: list) -> list:
    """One batch's ``names`` columns as record dicts; NaN/NaT -> None,
    so nullable (union) fields encode as null."""
    clean = pdf[names].astype(object)
    return clean.where(pdf[names].notna(), None).to_dict("records")


def read_avro(spark, path: str, spark_schema: str, reader_schema: object | None = None):
    """Distributed Avro source: the directory's ``*.avro`` containers
    through ``binaryfiles.map_files``, one container decoded per call.
    ``spark_schema`` is the explicit result schema (DDL string), explicit
    like every hot-path read in this repo. ``reader_schema`` applies the
    spec's schema resolution per file, so a directory of containers
    written under EVOLVING schemas reads as one relation. Decode
    parallelism = file count."""
    from flexcalc_spark.sources.binaryfiles import map_files, read_binary_dir

    decode = partial(_container_records, reader_schema=reader_schema)
    return map_files(read_binary_dir(spark, path, "*.avro"), spark_schema, decode)


def _container_records(path: str, blob: bytes, reader_schema: object | None) -> list:
    """One container file's records, for ``map_files``."""
    return read_container(blob, reader_schema=reader_schema)[1]
