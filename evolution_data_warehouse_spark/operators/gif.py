"""Pure-numpy GIF87a/GIF89a codec for the multimodal corpus path.

LZW is the last compression family the image suite lacked (JPEG has
Huffman+DCT, PNG has DEFLATE, BMP has RLE): GIF's variable-width LZW
with deferred clear codes, the 4-pass interlace, global and local
palettes, and the 89a extension blocks (graphic control / comment /
application) are all decoded for real here. The hermetic encoder emits
genuinely compressed LZW (dictionary build, width growth, table-full
clear), so round-trips exercise the same code paths a real web GIF
does; tests additionally decode the real-encoder GIFs that ship inside
CPython's idlelib as third-party conformance vectors.

Reference parity note: the reference warehouse
(haelbrek/Evolution-DATA-WAREHOUSE) treats media as opaque blobs (no
decode anywhere in analytics/etl); this codec exceeds parity the same
way operators/jpeg.py does — a 100 TB training-data corpus needs decode
validation inside the engine, not beside it.

Error contract (identical to jpeg.py/multimodal.py): every malformed,
truncated, or oversized input raises ValueError; deliberate format
gates raise NotImplementedError; nothing else escapes. That contract is
what lets decode_image_tolerant_row quarantine corrupt objects per
row instead of killing the task.

Decode semantics: `decode_gif` returns the FIRST frame as RGB
(h, w, uint8x3) — a transparent index resolves to its palette color
(transparency is compositing metadata, not pixel data); animation demux
at frame granularity is the video operators' domain (operators/
video.py), and `gif_meta` exposes the frame count without decoding.
"""

from __future__ import annotations

import struct

import numpy as np

# Same plausibility cap as jpeg.py::_MAX_PIXELS / multimodal.py::
# _BMP_MAX_PIXELS — checked BEFORE any allocation so a tiny forged
# header can't pin a core or OOM past the quarantine contract.
_GIF_MAX_PIXELS = 1 << 26

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


# ---------------------------------------------------------------------------
# LZW (GIF variant: LSB-first bit packing, variable 3..12-bit codes)
# ---------------------------------------------------------------------------


def _lzw_decode(mcs: int, data: bytes, n_expected: int) -> bytearray:
    """Decode a GIF LZW stream (already de-sub-blocked) to exactly
    ``n_expected`` palette indices.

    Implements the full decoder state machine: clear-code table resets,
    the KwKwK (code == next_free) case, width growth when the table
    reaches 2**width, the 12-bit cap with deferred clear (a full table
    keeps decoding without adding entries, as the spec allows), and
    strict bounds checks so corrupt streams fail with ValueError.
    """
    if not 2 <= mcs <= 11:
        raise ValueError(f"gif: bad LZW minimum code size {mcs}")
    clear = 1 << mcs
    eoi = clear + 1
    prefix = [0] * 4096
    suffix = [0] * 4096
    out = bytearray()
    width = mcs + 1
    next_free = clear + 2
    prev = -1
    bitbuf = 0
    nbits = 0
    pos = 0
    n_data = len(data)
    while True:
        while nbits < width:
            if pos >= n_data:
                raise ValueError("gif: truncated LZW stream (no EOI)")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            width = mcs + 1
            next_free = clear + 2
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("gif: first LZW code is not a literal")
            out.append(code)
            prev = code
            continue
        if code < clear:
            seq = [code]
        elif clear + 2 <= code < next_free:
            seq = []
            cc = code
            while cc >= clear + 2:
                seq.append(suffix[cc])
                cc = prefix[cc]
            seq.append(cc)
            seq.reverse()
        elif code == next_free and next_free < 4096:
            # KwKwK: current sequence = prev sequence + its first byte
            seq = []
            cc = prev
            while cc >= clear + 2:
                seq.append(suffix[cc])
                cc = prefix[cc]
            seq.append(cc)
            seq.reverse()
            seq.append(seq[0])
        else:
            raise ValueError(f"gif: LZW code {code} out of range")
        out.extend(seq)
        if len(out) > n_expected:
            raise ValueError("gif: LZW output exceeds frame size")
        if next_free < 4096:
            prefix[next_free] = prev
            suffix[next_free] = seq[0]
            next_free += 1
            if next_free == (1 << width) and width < 12:
                width += 1
        prev = code
    if len(out) != n_expected:
        raise ValueError(
            f"gif: LZW produced {len(out)} of {n_expected} pixels"
        )
    return out


def _lzw_encode(mcs: int, indices: bytes) -> bytes:
    """Encode palette indices as a real GIF LZW stream (dictionary
    build, width growth, clear-and-reset when the table fills).

    Width timing simulates the DECODER's table exactly: the decoder
    installs one entry per data code received except the first after a
    clear, so its table runs one entry behind the encoder's — except
    right after the final data code, whose emission installs nothing on
    the encoder side (there is no following symbol) and the lag closes
    to zero. A naive "encoder next_free + 1" rule therefore writes the
    EOI (or a trailing clear) one bit too narrow whenever the decoder's
    table crosses 2**width on that very last install; tracking
    (dec_nf, dec_width) explicitly is correct at every boundary."""
    clear = 1 << mcs
    eoi = clear + 1
    bitbuf = 0
    nbits = 0
    out = bytearray()
    dec_nf = clear + 2
    dec_width = mcs + 1
    n_since_clear = 0

    def emit_code(code: int, is_data: bool) -> None:
        nonlocal bitbuf, nbits, dec_nf, dec_width, n_since_clear
        bitbuf |= code << nbits
        nbits += dec_width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8
        if not is_data:
            return
        n_since_clear += 1
        if n_since_clear >= 2 and dec_nf < 4096:
            dec_nf += 1
            if dec_nf == (1 << dec_width) and dec_width < 12:
                dec_width += 1

    def emit_clear() -> None:
        nonlocal dec_nf, dec_width, n_since_clear
        emit_code(clear, False)
        dec_nf = clear + 2
        dec_width = mcs + 1
        n_since_clear = 0

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_free = clear + 2
    emit_clear()
    prev = b""
    for b in indices:
        cand = prev + bytes([b])
        if cand in table:
            prev = cand
            continue
        emit_code(table[prev], True)
        if next_free < 4096:
            table[cand] = next_free
            next_free += 1
        else:
            emit_clear()
            table = {bytes([i]): i for i in range(clear)}
            next_free = clear + 2
        prev = bytes([b])
    if prev:
        emit_code(table[prev], True)
    emit_code(eoi, False)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


class _Reader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("gif: truncated file")
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b

    def u8(self) -> int:
        return self.take(1)[0]

    def u16(self) -> int:
        return struct.unpack("<H", self.take(2))[0]

    def subblocks(self) -> bytes:
        """Concatenate data sub-blocks up to the 0x00 terminator."""
        parts = []
        while True:
            n = self.u8()
            if n == 0:
                return b"".join(parts)
            parts.append(self.take(n))

    def skip_subblocks(self) -> None:
        while True:
            n = self.u8()
            if n == 0:
                return
            self.pos += n
            if self.pos > len(self.data):
                raise ValueError("gif: truncated sub-block")


def _palette(r: _Reader, packed: int) -> np.ndarray | None:
    if not packed & 0x80:
        return None
    n = 2 << (packed & 0x07)
    raw = r.take(3 * n)
    return np.frombuffer(raw, dtype=np.uint8).reshape(n, 3)


def _interlace_order(h: int) -> list[int]:
    """Row order of the 4 interlace passes — the single source both the
    decoder (scatter) and encoder (gather) use, so the two sides cannot
    drift into a complementary-bug pair."""
    return [y for start, step in _INTERLACE_PASSES for y in range(start, h, step)]


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    out = np.empty_like(rows)
    out[_interlace_order(rows.shape[0])] = rows
    return out


def decode_gif(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode the first frame of a GIF to (width, height, RGB uint8
    pixels). Raises ValueError on any malformation; a frame without any
    palette (no local and no global color table) is undecodable and
    also a ValueError."""
    r = _Reader(data)
    sig = r.take(6)
    if sig not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"gif: bad signature {sig!r}")
    r.u16()  # logical screen width (frame carries its own dimensions)
    r.u16()  # logical screen height
    packed = r.u8()
    r.u8()  # background color index
    r.u8()  # pixel aspect ratio
    gct = _palette(r, packed)
    while True:
        block = r.u8()
        if block == 0x3B:
            raise ValueError("gif: no image data before trailer")
        if block == 0x21:  # extension: label + sub-blocks, all skippable
            r.u8()
            r.skip_subblocks()
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        r.u16()  # image left
        r.u16()  # image top
        w = r.u16()
        h = r.u16()
        ipacked = r.u8()
        if w == 0 or h == 0:
            raise ValueError("gif: zero-sized image")
        if h * w > _GIF_MAX_PIXELS:
            raise ValueError(
                f"gif: implausible dimensions {w}x{h} "
                f"(cap {_GIF_MAX_PIXELS} pixels)"
            )
        lct = _palette(r, ipacked)
        pal = lct if lct is not None else gct
        if pal is None:
            raise ValueError("gif: frame has no color table")
        mcs = r.u8()
        stream = r.subblocks()
        idx = np.frombuffer(
            bytes(_lzw_decode(mcs, stream, w * h)), dtype=np.uint8
        ).reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("gif: pixel index outside color table")
        if ipacked & 0x40:
            idx = _deinterlace(idx)
        return w, h, pal[idx]


def gif_meta(data: bytes) -> dict:
    """Container-level metadata without pixel decode: version, logical
    screen size, frame count, comment text, and whether any frame is
    transparent or interlaced. Walks every block, so truncation
    anywhere raises ValueError."""
    r = _Reader(data)
    sig = r.take(6)
    if sig not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"gif: bad signature {sig!r}")
    version = sig[3:].decode("ascii")
    sw = r.u16()
    sh = r.u16()
    packed = r.u8()
    r.u8()
    r.u8()
    gct_n = (2 << (packed & 0x07)) if packed & 0x80 else 0
    if gct_n:
        r.take(3 * gct_n)
    n_frames = 0
    interlaced = False
    transparent = False
    comment = ""
    while True:
        block = r.u8()
        if block == 0x3B:
            break
        if block == 0x21:
            label = r.u8()
            if label == 0xFE and not comment:
                comment = r.subblocks().decode("latin-1")
            elif label == 0xF9:
                gce = r.subblocks()
                if len(gce) >= 1 and gce[0] & 0x01:
                    transparent = True
            else:
                r.skip_subblocks()
            continue
        if block != 0x2C:
            raise ValueError(f"gif: unexpected block 0x{block:02x}")
        r.take(8)
        ipacked = r.u8()
        if ipacked & 0x40:
            interlaced = True
        if ipacked & 0x80:
            r.take(3 * (2 << (ipacked & 0x07)))
        r.u8()
        r.skip_subblocks()
        n_frames += 1
    return {
        "version": version,
        "screen_width": sw,
        "screen_height": sh,
        "n_palette": gct_n,
        "n_frames": n_frames,
        "interlaced": interlaced,
        "transparent": transparent,
        "comment": comment,
    }


# ---------------------------------------------------------------------------
# hermetic encoder (tests + synthetic corpus payloads)
# ---------------------------------------------------------------------------


def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    transparent: int | None = None,
    comment: str | None = None,
) -> bytes:
    """Encode one paletted frame as GIF (89a when a transparency index
    or comment is given, else 87a) with REAL LZW compression."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2:
        raise ValueError("gif: indices must be (h, w)")
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise ValueError("gif: palette must be (2..256, 3)")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("gif: index outside palette")
    h, w = idx.shape
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"gif: unencodable dimensions {w}x{h}")
    bits = max(2, int(pal.shape[0] - 1).bit_length())
    n_slots = 1 << bits
    table = np.zeros((n_slots, 3), dtype=np.uint8)
    table[: pal.shape[0]] = pal
    is89 = transparent is not None or comment is not None
    out = bytearray(b"GIF89a" if is89 else b"GIF87a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (bits - 1))  # GCT present, size 2**bits
    out += b"\x00\x00"
    out += table.tobytes()
    if transparent is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transparent & 0xFF, 0])
    if comment is not None:
        body = comment.encode("latin-1")[:255]
        out += bytes([0x21, 0xFE])
        if body:  # a zero-length sub-block IS the terminator
            out += bytes([len(body)]) + body
        out += b"\x00"
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h)
    out.append(0x40 if interlace else 0x00)
    rows = idx[_interlace_order(h)] if interlace else idx
    out.append(bits)
    lzw = _lzw_encode(bits, rows.tobytes())
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
