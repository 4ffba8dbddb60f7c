"""From-scratch WARC/1.0 reader + deterministic writer (stdlib only).

Common Crawl — the corpus shape this engine targets (BASELINE.json
north_star: "Common-Crawl-style web pages") — ships crawl data as
WARC files per ISO 28500: a concatenation of records, each record a
header block (``WARC/1.0`` version line + ``Name: value`` headers,
CRLF-terminated, blank-line delimited) followed by exactly
``Content-Length`` bytes of content block and a ``\\r\\n\\r\\n``
record separator. Crawl archives gzip each record as its OWN gzip
member so readers can split files without decompressing the whole
stream.

This module implements both directions from the public spec:

- :func:`build_warc` — a deterministic writer (stable record ids
  derived from the target URI, no wall clock, no randomness) used by
  tests and the driver query to synthesize input; per-record gzip
  members via ``gzip.compress(..., mtime=0)`` for byte stability.
- :func:`parse_warc` — a bounded, content-length-driven parser.
  Parsing NEVER scans content for delimiters (a payload containing
  the literal string ``WARC/1.0`` must not confuse it); the only
  framing authority is the ``Content-Length`` header, exactly as the
  spec requires. Malformed records degrade to error entries instead
  of raising, so one corrupt record quarantines without poisoning
  the rest of the file (mirrors the reference's per-file quarantine
  posture, process_run.py error branch).

Decompression is BOUNDED (``zlib.decompressobj`` with a
``max_length`` budget) — a gzip-bomb member yields a
``warc_too_large`` error entry, never an executor OOM (same contract
as the transport-gzip branch, operators/extract_branches.py).

Reference analog: the reference watches a directory of already-split
files (process_run.py:35-52) and never parses containers itself; the
WARC source is the Spark-native generalization — one binary column
row per WARC file, exploded into per-record rows by an Arrow-batched
kernel (operators/extract_branches.py holds the portfolio/gzip
analog).
"""
from __future__ import annotations

import gzip
import hashlib
import zlib
from dataclasses import dataclass, field

_CRLF = b"\r\n"
_MAX_HEADER_BYTES = 64 * 1024  # spec headers are tiny; bound the scan
_MAX_MEMBER_BYTES = 64 * 1024 * 1024  # per-member decompression budget


@dataclass
class WarcRecord:
    """One parsed WARC record (or an error placeholder)."""

    warc_type: str | None = None
    target_uri: str | None = None
    warc_date: str | None = None
    record_id: str | None = None
    content_type: str | None = None
    http_status: int | None = None
    http_content_type: str | None = None
    payload: bytes | None = None
    error: str | None = None
    headers: dict[str, str] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------
def _record_id(uri: str, date: str) -> str:
    # deterministic urn:uuid from (uri, date) — stable across runs,
    # unique per capture (real crawlers use random UUIDs; determinism
    # is what makes the fixture corpus byte-reproducible)
    h = hashlib.md5(f"{uri}\x00{date}".encode("utf-8")).hexdigest()
    return (f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-"
            f"{h[16:20]}-{h[20:32]}>")


def build_response_record(
    uri: str,
    date: str,
    payload: bytes,
    http_status: int = 200,
    http_content_type: str = "text/html; charset=utf-8",
) -> bytes:
    """Serialize one WARC `response` record (uncompressed).

    The content block is a full HTTP/1.1 response message
    (status line + headers + CRLF CRLF + body), like Common Crawl's
    response records.
    """
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
              500: "Internal Server Error"}.get(http_status, "Unknown")
    http = (
        f"HTTP/1.1 {http_status} {reason}\r\n"
        f"Content-Type: {http_content_type}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode("ascii") + payload
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: {_record_id(uri, date)}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"\r\n"
    ).encode("ascii")
    return headers + http + _CRLF + _CRLF


def build_conversion_record(uri: str, date: str, text: str) -> bytes:
    """Serialize one WET `conversion` record (uncompressed) — Common
    Crawl's extracted-text distribution format. The record id hashes
    `uri \\n date` (newline separator, unlike response records'
    \\x00: the Spark/DuckDB twins of this builder live in engine
    varchars, which cannot hold NUL). Byte-identical to
    artifacts.wet_records' JVM expression."""
    body = text.encode("utf-8")
    h = hashlib.md5(f"{uri}\n{date}".encode("utf-8")).hexdigest()
    rid = (f"<urn:uuid:{h[0:8]}-{h[8:12]}-{h[12:16]}-"
           f"{h[16:20]}-{h[20:32]}>")
    headers = (
        f"WARC/1.0\r\n"
        f"WARC-Type: conversion\r\n"
        f"WARC-Record-ID: {rid}\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: text/plain\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"\r\n"
    ).encode("ascii")
    return headers + body + _CRLF + _CRLF


def build_warc(records: list[bytes], per_record_gzip: bool = True) -> bytes:
    """Concatenate serialized records into one WARC file.

    ``per_record_gzip=True`` emits one gzip member per record
    (``mtime=0`` so output is byte-stable) — the Common Crawl layout.
    """
    if per_record_gzip:
        return b"".join(gzip.compress(r, mtime=0) for r in records)
    return b"".join(records)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------
def _gunzip_members(data: bytes):
    """Yield decompressed members of a multi-member gzip stream, then
    ``(None, error)`` if a member is corrupt/truncated/over budget.

    Generator of ``(member_bytes, None)`` tuples — members AHEAD of a
    bad one are always yielded (the bad member's boundary is
    unrecoverable, so parsing must stop there, but never by
    discarding the good prefix). Bounded by ``_MAX_MEMBER_BYTES``
    per member via incremental decompression.
    """
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(rest, _MAX_MEMBER_BYTES)
        except zlib.error:
            yield None, "warc_gzip_corrupt"
            return
        if d.unconsumed_tail:  # member exceeded the budget
            yield None, "warc_too_large"
            return
        if not d.eof:  # truncated member
            yield None, "warc_gzip_truncated"
            return
        yield out, None
        rest = d.unused_data


def _parse_headers(block: bytes) -> dict[str, str] | None:
    lines = block.split(_CRLF)
    if not lines or not lines[0].startswith(b"WARC/"):
        return None
    headers: dict[str, str] = {}
    last_key: str | None = None
    for line in lines[1:]:
        if not line:
            continue
        if line[:1] in (b" ", b"\t"):
            # ISO 28500 folded header line: continuation of the
            # previous field's value (folding replaced by one space).
            # Rejecting these aborted the WHOLE rest of a valid file;
            # a folded line containing ':' was worse — silently parsed
            # as a bogus extra header, truncating the real value.
            if last_key is None:
                return None  # fold before any field: malformed
            try:
                headers[last_key] += " " + line.strip().decode("utf-8")
            except UnicodeDecodeError:
                return None
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            return None
        try:
            last_key = k.strip().decode("ascii").lower()
            headers[last_key] = v.strip().decode("utf-8")
        except UnicodeDecodeError:
            return None
    return headers


def _parse_http_block(block: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an application/http content block into
    (status, content-type, body). A non-HTTP block comes back as
    (None, None, block)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    sep = block.find(_CRLF + _CRLF)
    if sep < 0:
        return None, None, block
    head, body = block[:sep], block[sep + 4:]
    lines = head.split(_CRLF)
    parts = lines[0].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        if k.strip().lower() == b"content-type":
            try:
                ctype = v.strip().decode("utf-8")
            except UnicodeDecodeError:
                ctype = None
            break
    return status, ctype, body


def _parse_concatenated(data: bytes) -> list[WarcRecord]:
    out: list[WarcRecord] = []
    pos, n = 0, len(data)
    while pos < n:
        # tolerate extra separator CRLFs between records
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        hdr_end = data.find(_CRLF + _CRLF, pos, pos + _MAX_HEADER_BYTES)
        if hdr_end < 0:
            out.append(WarcRecord(error="warc_bad_header"))
            break
        headers = _parse_headers(data[pos:hdr_end])
        if headers is None:
            out.append(WarcRecord(error="warc_bad_header"))
            break
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            out.append(WarcRecord(error="warc_bad_length"))
            break
        body_start = hdr_end + 4
        if clen < 0 or body_start + clen > n:
            out.append(WarcRecord(error="warc_truncated"))
            break
        block = data[body_start:body_start + clen]
        status, http_ctype, payload = (None, None, block)
        ctype = headers.get("content-type")
        if ctype and ctype.split(";")[0].strip() == "application/http":
            status, http_ctype, payload = _parse_http_block(block)
        out.append(WarcRecord(
            warc_type=headers.get("warc-type"),
            target_uri=headers.get("warc-target-uri"),
            warc_date=headers.get("warc-date"),
            record_id=headers.get("warc-record-id"),
            content_type=ctype,
            http_status=status,
            http_content_type=http_ctype,
            payload=payload,
            headers=headers,
        ))
        pos = body_start + clen
    return out


def parse_warc(data: bytes | None) -> list[WarcRecord]:
    """Parse a WARC file (gzip-per-record, whole-file gzip, or plain).

    Never raises on malformed input: a structural failure appends one
    error record (``error`` set, other fields None) and stops at the
    failure point — everything parsed before it is kept.
    """
    if not data:
        return []
    if data[:2] == b"\x1f\x8b":
        out: list[WarcRecord] = []
        for m, err in _gunzip_members(data):
            if err is not None:
                # records from the good members ahead of the bad one
                # are kept; the bad member's boundary is unrecoverable
                out.append(WarcRecord(error=err))
                break
            out.extend(_parse_concatenated(m))
        return out
    return _parse_concatenated(data)
