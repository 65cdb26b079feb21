"""Charset detection + decoding for crawled byte payloads.

Between WARC ingestion and any text operator sits the step every real
crawl pipeline runs: the payload is BYTES in an unknown encoding, and
the text stack needs str. The detection ladder here is the practical
subset of the public WHATWG encoding sniff, in its standard order:

1. **BOM** — UTF-8 / UTF-16 LE / UTF-16 BE byte-order marks win
   outright (and are stripped before decoding).
2. **meta declaration** — a ``<meta charset=...>`` or http-equiv
   ``charset=`` token inside the first 1024 bytes (scanned through a
   latin-1 view, which can represent any byte).
3. **UTF-8 validation** — a payload that strictly decodes as UTF-8 is
   UTF-8 (the empty-prefix property of UTF-8 makes false positives on
   real legacy-encoded text vanishingly rare).
4. **windows-1252 fallback** — the WHATWG default; never fails, so
   the decode step cannot throw on arbitrary bytes.

Scale shape: pure per-row byte work in a mapInArrow batch — the same
record-granularity, zero-shuffle argument as WARC/sitemap parsing.
"""

from __future__ import annotations

import re

_META_RE = re.compile(
    r"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_-]+)", re.IGNORECASE
)

#: charset aliases normalized to codec names Python accepts
_ALIASES = {
    "utf8": "utf-8",
    "iso-8859-1": "windows-1252",  # the WHATWG mapping
    "latin-1": "windows-1252",
    "us-ascii": "windows-1252",
}


def _sniff(data: bytes) -> tuple[str, str, bytes, str | None]:
    """The ladder → (charset, method, BOM-stripped body, decoded text
    or None). The utf8-valid step RETURNS its decode: validation IS a
    full strict decode, and throwing it away would double the CPU of
    the most common case on a crawl-scale hot path."""
    if data[:3] == b"\xef\xbb\xbf":
        return "utf-8", "bom", data[3:], None
    if data[:2] == b"\xff\xfe":
        return "utf-16-le", "bom", data[2:], None
    if data[:2] == b"\xfe\xff":
        return "utf-16-be", "bom", data[2:], None
    head = data[:1024].decode("latin-1")
    m = _META_RE.search(head)
    if m:
        cs = m.group(1).lower()
        return _ALIASES.get(cs, cs), "meta", data, None
    try:
        return "utf-8", "utf8-valid", data, data.decode("utf-8", "strict")
    except UnicodeDecodeError:
        return "windows-1252", "fallback", data, None


def detect_charset(data: bytes) -> tuple[str, str]:
    """→ (charset, method) with method in bom / meta / utf8-valid /
    fallback. Never raises: step 4 accepts anything."""
    charset, method, _, _ = _sniff(data)
    return charset, method


# str.translate table patching the 32-byte 0x80-0x9F window where
# WHATWG windows-1252 differs from latin-1; the five bytes Python's
# cp1252 leaves undefined stay as their C1 controls (= latin-1).
_W1252_DELTA = str.maketrans(
    {
        x: bytes([x]).decode("windows-1252")
        for x in range(0x80, 0xA0)
        if x not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
    }
)


def _decode_1252(body: bytes) -> str:
    """WHATWG windows-1252: Python's cp1252 leaves bytes 0x81/0x8D/
    0x8F/0x90/0x9D UNDEFINED (strict decode raises), but the WHATWG
    table maps them to the corresponding C1 controls — so this decode,
    unlike the stdlib codec, is total over arbitrary bytes. The
    undefined-byte path is latin-1 + a 27-entry translate (both
    C speed), not a per-byte Python loop."""
    try:
        return body.decode("windows-1252")
    except UnicodeDecodeError:
        return body.decode("latin-1").translate(_W1252_DELTA)


def decode_payload(data: bytes) -> tuple[str, str, str]:
    """→ (charset, method, text): detect, strip any BOM, decode. A
    meta-declared charset Python does not know falls back to
    windows-1252 with method 'fallback' rather than raising — a crawl
    decode step must accept every byte string (the per-row quarantine
    argument, but here even quarantining is unnecessary)."""
    charset, method, body, decoded = _sniff(data)
    if decoded is not None:
        return charset, method, decoded
    if charset == "windows-1252":
        return charset, method, _decode_1252(body)
    try:
        return charset, method, body.decode(charset, "strict")
    except (UnicodeDecodeError, LookupError):
        return "windows-1252", "fallback", _decode_1252(body)
