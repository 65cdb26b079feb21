"""WARC (Web ARChive, ISO 28500) record parsing — the ingestion format
of web-scale LLM corpora (Common Crawl's WARC/WET files).

A WARC file is a sequence of records: a `WARC/1.0` version line, CRLF
header lines (`WARC-Type`, `WARC-Target-URI`, `Content-Length`, ...),
CRLF CRLF, `Content-Length` octets of payload, CRLF CRLF. Common Crawl
stores each record as its OWN gzip member, concatenated — that is the
property that makes a 100 TB crawl splittable: any worker can start at
a member boundary and stream records without seeing the rest of the
file, so ingestion parallelizes at record granularity, not file
granularity. `parse_warc` handles both the plain and the
member-per-record gzip form (multistream inflate via
zlib.decompressobj and unused_data).

Engine shape: WARC bytes ride a binary column; parsing is a
mapInArrow batch over payloads (same plumbing as every codec in
operators/), so a crawl ingests at scan speed with no shuffle.

Reference parity note: the reference warehouse ingests CSV/JSON/REST
(analytics/etl); a web-archive source exceeds parity the way the
codec suite does — it is what an LLM-corpus deployment of this engine
reads first.

Error contract (same as the codecs): malformed or truncated input
raises ValueError only.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import zlib

# Forged Content-Length guard, checked before slicing (same role as
# jpeg._MAX_PIXELS): a tiny record claiming a huge payload must fail
# closed, not allocate.
_MAX_RECORD = 1 << 28
# Running cap on TOTAL inflated bytes — a gzip bomb (zeros compress
# ~1000:1) must fail with ValueError during chunked inflation, never
# allocate first (cap-before-allocate, the repo-wide codec rule).
_MAX_INFLATED = 1 << 28
_GZ_CHUNK = 1 << 16


def _inflate_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the Common Crawl layout)
    into one byte string; ValueError on corrupt or truncated streams.

    Streamed in fixed compressed chunks with a bounded output budget
    per call, for two reasons: (1) the running `_MAX_INFLATED` cap
    fires DURING inflation, so a gzip bomb raises ValueError instead
    of exhausting memory; (2) member boundaries hand over at most one
    chunk of `unused_data`, so a shard with tens of thousands of
    members (the Common Crawl shape) stays linear — the naive
    re-feed-the-whole-tail loop is O(N²/member) in memcpy."""
    out = bytearray()
    view = memoryview(data)
    n = len(data)
    pos = 0
    d = zlib.decompressobj(wbits=31)
    buf = b""
    fed = False  # current member has consumed bytes but not finished
    while True:
        if not buf:
            if pos >= n:
                if fed:
                    raise ValueError("warc: truncated gzip member")
                break
            buf = bytes(view[pos : pos + _GZ_CHUNK])
            pos += len(buf)
        try:
            out += d.decompress(buf, 1 << 20)
        except zlib.error as exc:
            raise ValueError(f"warc: bad gzip member: {exc}") from exc
        fed = True
        if len(out) > _MAX_INFLATED:
            raise ValueError(
                f"warc: inflated size exceeds cap {_MAX_INFLATED}"
            )
        if d.eof:
            buf = d.unused_data  # at most one chunk: next member's head
            d = zlib.decompressobj(wbits=31)
            fed = False
        else:
            buf = d.unconsumed_tail
    return bytes(out)


def parse_warc(data: bytes) -> list[dict]:
    """Parse WARC bytes (plain, or gzip member-per-record) into a list
    of records: {type, uri, content_length, payload (bytes),
    headers (dict)}. Strict framing: every record must carry a valid
    Content-Length and the trailing CRLF CRLF; anything else is
    ValueError."""
    if data[:2] == b"\x1f\x8b":
        data = _inflate_members(data)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError("warc: truncated record header")
        lines = data[pos:head_end].split(b"\r\n")
        if not lines[0].startswith(b"WARC/"):
            raise ValueError(
                f"warc: bad version line {lines[0][:20]!r}"
            )
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, sep, v = line.partition(b":")
            if not sep or not k.strip():
                raise ValueError(f"warc: bad header line {line[:40]!r}")
            key = k.strip().decode("latin-1").lower()
            # first occurrence wins (deterministic, and a forged
            # duplicate Content-Length/WARC-Type cannot override the
            # real one); ISO 28500's repeatable fields like
            # WARC-Concurrent-To keep their first value only —
            # a documented simplification
            headers.setdefault(key, v.strip().decode("latin-1"))
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError("warc: missing/bad Content-Length") from exc
        if clen < 0 or clen > _MAX_RECORD:
            raise ValueError(f"warc: implausible Content-Length {clen}")
        body_at = head_end + 4
        rec_end = body_at + clen
        if rec_end + 4 > n:
            raise ValueError("warc: truncated record payload")
        if data[rec_end : rec_end + 4] != b"\r\n\r\n":
            raise ValueError("warc: record missing trailing CRLFCRLF")
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri", ""),
                "content_length": clen,
                "payload": data[body_at:rec_end],
                "headers": headers,
            }
        )
        pos = rec_end + 4
    return records


def payload_digest(payload: bytes) -> str:
    """The labelled payload digest Common Crawl writes in
    ``WARC-Payload-Digest``: SHA-1 in RFC 4648 base32, prefixed with
    its algorithm label (``sha1:3I42H3S6...``). Revisit records carry
    the digest of the payload they DIDN'T re-store — matching it
    against the referred response is the cross-crawl dedup key."""
    return "sha1:" + base64.b32encode(
        hashlib.sha1(payload).digest()
    ).decode("ascii")


def _check_header_field(field: str, what: str) -> None:
    # WARC header names/values must be ASCII and single-line: a
    # non-ASCII or CR/LF-bearing value would either blow the
    # ValueError-only contract (UnicodeEncodeError) or inject a forged
    # header line — callers percent-encode first, per the spec's URI
    # rules; a ':' in a NAME would split into a bogus header
    if not field.isascii() or "\r" in field or "\n" in field:
        raise ValueError(
            f"warc: {what} not single-line ASCII: {field[:40]!r}"
        )


def build_warc(
    records: list[tuple], per_record_gzip: bool = False
) -> bytes:
    """Hermetic WARC writer: records are (warc_type, target_uri,
    payload) triples, optionally extended with a 4th element — a dict
    of extra WARC headers (``WARC-Payload-Digest``, ``WARC-Profile``,
    ``WARC-Refers-To-Target-URI``, ... — what a ``revisit`` record
    carries). ``per_record_gzip=True`` writes each record as its own
    gzip member — the Common Crawl layout whose member boundaries make
    the file splittable."""
    out = bytearray()
    for rec_tuple in records:
        rtype, uri, payload = rec_tuple[0], rec_tuple[1], rec_tuple[2]
        extra: dict[str, str] = rec_tuple[3] if len(rec_tuple) > 3 else {}
        for field in (rtype, uri):
            _check_header_field(field, "header value")
        head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode("ascii")]
        if uri:
            head.append(b"WARC-Target-URI: " + uri.encode("ascii"))
        for k, v in extra.items():
            _check_header_field(k, "header name")
            if ":" in k:
                raise ValueError(f"warc: ':' in header name {k[:40]!r}")
            _check_header_field(v, "header value")
            head.append(f"{k}: {v}".encode("ascii"))
        head.append(
            b"Content-Length: " + str(len(payload)).encode("ascii")
        )
        rec = b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"
        if per_record_gzip:
            out += gzip.compress(rec, compresslevel=1, mtime=0)
        else:
            out += rec
    return bytes(out)
