"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
metadata struct alongside. The Spark-side machinery — schema, Arrow
batch shape, `mapInArrow` signatures, partitioning — is real and
tested. Decode comes in two tiers:

* REAL stdlib codecs (no PIL/libjpeg needed): BMP (24-bit BGR, 32-bit
  BGRA, 1/4/8-bit paletted, RLE4/RLE8 compression, 16/32-bit
  BI_BITFIELDS with arbitrary channel masks and 16-bit BI_RGB 555;
  bottom-up or top-down rows), the binary netpbm family (P6 RGB at
  maxval 255 or 16-bit big-endian, P5 grayscale, P4 bilevel), and PNG
  at EVERY spec color type (grayscale 1/2/4/8/16-bit, RGB, paletted
  1/2/4/8-bit with PLTE, gray+alpha, RGBA; Adam7-interlaced or not,
  zlib inflate + full None/Sub/Up/Average/Paeth unfiltering,
  CRC-checked). These parse the actual byte format —
  `decode_image_row` dispatches on magic bytes and emits
  width/height plus exact per-channel pixel sums (integer sums, so the
  output is bit-deterministic and oracle-checkable). Conformance is
  pinned to real third-party encoders, not just hermetic round-trips:
  the CPython-shipped test images decode with bit-identical channel
  sums across the independent PNG/BMP/PPM paths
  (test_real_file_cross_format_conformance).
* JPEG decodes for real too — pure-numpy Huffman + IDCT in
  operators/jpeg.py, both baseline-sequential (SOF0/SOF1, sampling
  factors 1-2, restart markers) and progressive (SOF2, spectral
  selection + successive approximation). Arithmetic-coded JPEG raises
  ValueError (a different entropy path, stated plainly).

The original deterministic fake (`decode_documents`) remains for
plumbing-only tests.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import map_columns, map_rows

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, format string"
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a media column: utf-8 bytes of the text as the payload."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


# ---------------------------------------------------------------------------
# Real stdlib image codecs (BMP / PPM / PNG)
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray, top_down: bool = False) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as an uncompressed BI_RGB BMP
    (24-bit BGR or 32-bit BGRA; bottom-up rows with 4-byte padding by
    default, top-down rows — negative biHeight — on request)."""
    h, w, ch = pixels.shape
    stride = (ch * w + 3) // 4 * 4
    img_size = stride * h
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, 8 * ch, 0, img_size,
        2835, 2835, 0, 0,
    )
    rows = np.zeros((h, stride), dtype=np.uint8)
    # BGR(A) byte order; bottom row first unless top-down
    bgr = pixels[..., [2, 1, 0, 3]] if ch == 4 else pixels[..., ::-1]
    ordered = bgr if top_down else bgr[::-1]
    rows[:, : ch * w] = ordered.reshape(h, ch * w)
    return header + rows.tobytes()


# Same plausibility cap as the JPEG decoder (jpeg.py::_MAX_PIXELS):
# dimensions are attacker-controlled header fields, and a paletted
# decode allocates h*w index + 3*h*w RGB bytes — bound it BEFORE any
# allocation so a tiny crafted payload cannot escape the
# ValueError-only quarantine contract via OOM or pinned CPU.
_BMP_MAX_PIXELS = 1 << 26


def _paletted_bmp_header(
    w: int, h: int, bpp: int, compression: int, img_size: int,
    palette: np.ndarray,
) -> bytes:
    """File header + BITMAPINFOHEADER + BGRX quad palette shared by
    every paletted encoder (8-bit, sub-8-bit, RLE)."""
    n = palette.shape[0]
    off = 14 + 40 + 4 * n
    header = struct.pack(
        "<2sIHHI", b"BM", off + img_size, 0, 0, off
    ) + struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, bpp, compression, img_size, 2835, 2835, n, 0,
    )
    quads = np.zeros((n, 4), dtype=np.uint8)
    quads[:, :3] = palette[:, ::-1]  # RGB → BGRX
    return header + quads.tobytes()


def encode_bmp8(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Encode an (h, w) uint8 index array + (n, 3) RGB palette as an
    8-bit paletted BI_RGB BMP (BGRX quad palette after the info
    header, bottom-up rows)."""
    h, w = indices.shape
    stride = (w + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w] = indices[::-1]
    return (
        _paletted_bmp_header(w, h, 8, 0, stride * h, palette)
        + rows.tobytes()
    )


def _decode_bmp_rle(body: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Decode BI_RLE8 (bpp=8) / BI_RLE4 (bpp=4) pixel data into an
    (h, w) palette-index array in BOTTOM-UP storage order (row 0 is
    the bottom scanline — the caller flips). Escape codes per the
    format: (0,0) end-of-line, (0,1) end-of-bitmap, (0,2) delta dx,dy,
    (0,n≥3) absolute run padded to a 16-bit boundary. Pixels skipped
    by deltas stay palette index 0, the documented convention. The
    per-image byte loop is inherently sequential; parallelism lives at
    the map-pass row level, same as the JPEG entropy decode."""
    out = np.zeros((h, w), dtype=np.uint8)
    x = y = i = 0
    n = len(body)
    while True:
        if i + 2 > n:
            raise ValueError("truncated BMP RLE data")
        cnt, val = body[i], body[i + 1]
        i += 2
        if cnt:  # encoded run: cnt copies of val (or its nibble pair)
            if y >= h or x + cnt > w:
                raise ValueError("BMP RLE run overflows row")
            if bpp == 8:
                out[y, x : x + cnt] = val
            else:
                pair = ((val >> 4) & 0xF, val & 0xF)
                for k in range(cnt):
                    out[y, x + k] = pair[k & 1]
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta: skip right/up
            if i + 2 > n:
                raise ValueError("truncated BMP RLE delta")
            x, y = x + body[i], y + body[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE delta out of bounds")
        else:  # absolute mode: val literal pixels
            if y >= h or x + val > w:
                raise ValueError("BMP RLE absolute run overflows row")
            data_bytes = val if bpp == 8 else (val + 1) // 2
            padded = data_bytes + (data_bytes & 1)
            if i + padded > n:
                raise ValueError("truncated BMP RLE absolute run")
            if bpp == 8:
                out[y, x : x + val] = np.frombuffer(
                    body, dtype=np.uint8, count=val, offset=i
                )
            else:
                by = np.frombuffer(
                    body, dtype=np.uint8, count=data_bytes, offset=i
                )
                nib = np.stack([(by >> 4) & 0xF, by & 0xF], axis=1).reshape(-1)
                out[y, x : x + val] = nib[:val]
            i += padded
            x += val


def encode_bmp_sub8(
    indices: np.ndarray, palette: np.ndarray, bpp: int
) -> bytes:
    """Encode an (h, w) index array + (n, 3) RGB palette as a 1- or
    4-bit uncompressed paletted BMP (nibbles/bits packed MSB-first,
    rows padded to 32-bit boundaries, bottom-up)."""
    if bpp not in (1, 4):
        raise ValueError(f"encode_bmp_sub8 handles bpp 1/4, got {bpp}")
    h, w = indices.shape
    stride = (bpp * w + 31) // 32 * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    flipped = indices[::-1].astype(np.uint8)
    if bpp == 4:
        padded = np.zeros((h, (w + 1) // 2 * 2), dtype=np.uint8)
        padded[:, :w] = flipped
        packed = (padded[:, 0::2] << 4) | padded[:, 1::2]
    else:
        padded = np.zeros((h, (w + 7) // 8 * 8), dtype=np.uint8)
        padded[:, :w] = flipped
        packed = np.packbits(padded, axis=1)
    rows[:, : packed.shape[1]] = packed
    return (
        _paletted_bmp_header(w, h, bpp, 0, stride * h, palette)
        + rows.tobytes()
    )


def encode_bmp_rle(
    indices: np.ndarray, palette: np.ndarray, bpp: int = 8
) -> bytes:
    """Encode an (h, w) index array + (n, 3) RGB palette as a BI_RLE8
    (bpp=8) or BI_RLE4 (bpp=4) compressed BMP. Repeats of ≥3 become
    encoded runs, literal stretches of ≥3 become absolute-mode runs
    (word-aligned per the format), shorter stretches fall back to
    length-1/2 encoded runs; every row ends with an end-of-line escape
    and the stream with end-of-bitmap."""
    if bpp not in (4, 8):
        raise ValueError(f"encode_bmp_rle handles bpp 4/8, got {bpp}")
    h, w = indices.shape
    out = bytearray()

    def emit_run(cnt: int, v: int) -> None:
        val = v if bpp == 8 else ((v << 4) | v) & 0xFF
        while cnt:
            c = min(cnt, 255)
            out.extend((c, val))
            cnt -= c

    def emit_literal(seg: list[int]) -> None:
        j = 0
        while j < len(seg):
            chunk = seg[j : j + 255]
            j += len(chunk)
            if len(chunk) < 3:  # absolute mode needs ≥3 pixels
                for v in chunk:
                    emit_run(1, v)
                continue
            out.extend((0, len(chunk)))
            if bpp == 8:
                out.extend(chunk)
                data_bytes = len(chunk)
            else:
                pix = chunk + [0]
                out.extend(
                    ((pix[k] << 4) | pix[k + 1]) & 0xFF
                    for k in range(0, len(chunk), 2)
                )
                data_bytes = (len(chunk) + 1) // 2
            if data_bytes & 1:  # pad to a 16-bit boundary
                out.append(0)

    for y in range(h - 1, -1, -1):  # RLE rows are stored bottom-up
        row = indices[y]
        x = 0
        lit: list[int] = []
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if run >= 3:
                if lit:
                    emit_literal(lit)
                    lit = []
                emit_run(run, int(row[x]))
            else:
                lit.extend(int(v) for v in row[x : x + run])
            x += run
        if lit:
            emit_literal(lit)
        out.extend((0, 0))  # end of line
    out.extend((0, 1))  # end of bitmap
    return (
        _paletted_bmp_header(
            w, h, bpp, 1 if bpp == 8 else 2, len(out), palette
        )
        + bytes(out)
    )


def decode_bmp(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a BMP → (w, h, RGB(A) array). Handles 24-bit BGR, 32-bit
    BGRA, and 1/4/8-bit paletted pixels (BI_RGB uncompressed, plus
    BI_RLE8/BI_RLE4 run-length compression), in bottom-up (positive
    biHeight) or top-down (negative) row order."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(data) < 54:  # 14-byte file header + 40-byte BITMAPINFOHEADER
        raise ValueError("truncated BMP header")
    (offset,) = struct.unpack_from("<I", data, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", data, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if compression not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"unsupported BMP compression {compression} (BI_RGB/BI_RLE8/"
            f"BI_RLE4/BI_BITFIELDS only)"
        )
    ok_bpp = {0: (1, 4, 8, 16, 24, 32), 1: (8,), 2: (4,), 3: (16, 32)}[
        compression
    ]
    if bpp not in ok_bpp:
        raise ValueError(
            f"invalid BMP bpp {bpp} for compression {compression}"
        )
    top_down = h < 0
    h = abs(h)
    if h == 0 or w <= 0:
        raise ValueError(f"unsupported BMP dimensions {w}x{h}")
    if h * w > _BMP_MAX_PIXELS:
        raise ValueError(
            f"implausible BMP dimensions {w}x{h} "
            f"(cap {_BMP_MAX_PIXELS} pixels)"
        )
    if offset > len(data):
        raise ValueError("BMP pixel offset beyond payload")
    if compression == 3 or bpp == 16:
        # masked pixels: BI_BITFIELDS carries explicit channel masks —
        # 3 DWORDs right after a 40-byte header, in-header at the same
        # file offset (54) for V2/V3/V4/V5, with an alpha mask from V3
        # (hdr_size >= 56) on; 16-bit BI_RGB defaults to 555
        if compression == 3:
            if len(data) < 66:
                raise ValueError("truncated BMP bitfields masks")
            rm, gm, bm = struct.unpack_from("<III", data, 54)
            am = (
                struct.unpack_from("<I", data, 66)[0]
                if hdr_size >= 56 and len(data) >= 70
                else 0
            )
        else:
            rm, gm, bm, am = 0x7C00, 0x03E0, 0x001F, 0
        if not (rm and gm and bm):
            raise ValueError("BMP bitfields with a zero channel mask")
        nb = bpp // 8
        stride = (nb * w + 3) // 4 * 4
        if offset + stride * h > len(data):
            raise ValueError("truncated BMP pixel data")
        body = np.frombuffer(
            data, dtype=np.uint8, count=stride * h, offset=offset
        ).reshape(h, stride)[:, : nb * w]
        words = (
            np.ascontiguousarray(body)
            .view("<u2" if bpp == 16 else "<u4")
            .reshape(h, w)
            .astype(np.uint32)
        )
        if not top_down:
            words = words[::-1]

        def chan(mask: int) -> np.ndarray:
            shift = (mask & -mask).bit_length() - 1
            peak = mask >> shift  # max raw value the mask can hold
            raw = (words & np.uint32(mask)) >> np.uint32(shift)
            # exact integer rescale to 8-bit (x * 255 // peak); widen
            # first — raw*255 overflows uint32 for masks > 24 bits wide
            return ((raw.astype(np.uint64) * 255) // peak).astype(np.uint8)

        chans = [chan(rm), chan(gm), chan(bm)] + ([chan(am)] if am else [])
        return w, h, np.stack(chans, axis=2)
    if bpp >= 24:
        ch = bpp // 8
        stride = (ch * w + 3) // 4 * 4
        if offset + stride * h > len(data):
            raise ValueError("truncated BMP pixel data")
        body = np.frombuffer(
            data, dtype=np.uint8, count=stride * h, offset=offset
        )
        rows = body.reshape(h, stride)[:, : ch * w].reshape(h, w, ch)
        if not top_down:
            rows = rows[::-1]
        if bpp == 24:
            return w, h, rows[:, :, ::-1]  # BGR → RGB
        return w, h, rows[:, :, [2, 1, 0, 3]]  # BGRA → RGBA
    # paletted (1/4/8-bit, uncompressed or RLE)
    (n_colors,) = struct.unpack_from("<I", data, 46)
    n = n_colors or (1 << bpp)
    pal_at = 14 + hdr_size
    if pal_at + 4 * n > offset:
        raise ValueError("BMP palette overruns pixel offset")
    quads = np.frombuffer(
        data, dtype=np.uint8, count=4 * n, offset=pal_at
    ).reshape(n, 4)
    if compression:
        if top_down:
            raise ValueError("RLE BMP must be bottom-up")
        idx = _decode_bmp_rle(data[offset:], w, h, bpp)[::-1]
    else:
        stride = (bpp * w + 31) // 32 * 4
        if offset + stride * h > len(data):
            raise ValueError("truncated BMP pixel data")
        body = np.frombuffer(
            data, dtype=np.uint8, count=stride * h, offset=offset
        ).reshape(h, stride)
        if bpp == 8:
            idx = body[:, :w]
        elif bpp == 4:
            nib = np.stack(
                [(body >> 4) & 0xF, body & 0xF], axis=2
            ).reshape(h, -1)
            idx = nib[:, :w]
        else:  # 1-bit, MSB-first within each byte
            idx = np.unpackbits(body, axis=1)[:, :w]
        if not top_down:
            idx = idx[::-1]
    if int(idx.max(initial=0)) >= n:
        raise ValueError("BMP pixel index outside palette")
    return w, h, quads[idx, :3][:, :, ::-1]  # BGRX → RGB


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) RGB array as binary PPM (P6): uint8 input
    writes maxval 255; uint16 input writes maxval 65535 with big-endian
    samples per the netpbm spec."""
    h, w, _ = pixels.shape
    if pixels.dtype == np.uint16:
        return f"P6\n{w} {h}\n65535\n".encode("ascii") + (
            pixels.astype(">u2").tobytes()
        )
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.tobytes()


def decode_ppm(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode the binary netpbm family, honoring '#' comments: P6
    (RGB), P5 (grayscale, expanded to RGB), and P4 (1-bit, MSB-first
    packed rows; 1 = black per the PBM spec). Any spec maxval is
    accepted — 1-byte samples below 256, big-endian 2-byte above —
    and samples come back RAW (0..maxval, no rescale; for the common
    maxval 255 that IS full-range 8-bit). Everything returns
    (w, h, RGB)."""
    magic = data[:2]
    if magic not in (b"P6", b"P5", b"P4"):
        raise ValueError("not a binary PPM/PGM/PBM payload")
    # header = whitespace-separated tokens (magic, w, h[, maxval]) with
    # '#' comments running to end-of-line; pixel data starts after the
    # single whitespace byte that terminates the last header token
    n_tokens = 3 if magic == b"P4" else 4
    pos, tokens = 0, []
    while len(tokens) < n_tokens:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(data[start:pos])
    pos += 1  # the single whitespace after the last header token
    w, h = int(tokens[1]), int(tokens[2])
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid PPM dimensions {w}x{h}")
    if magic == b"P4":
        rowbytes = (w + 7) // 8
        if pos + rowbytes * h > len(data):
            raise ValueError("truncated PBM pixel data")
        body = np.frombuffer(
            data, dtype=np.uint8, count=rowbytes * h, offset=pos
        ).reshape(h, rowbytes)
        bits = np.unpackbits(body, axis=1)[:, :w]
        g = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
        return w, h, np.repeat(g[:, :, None], 3, axis=2)
    maxval = int(tokens[3])
    ch = 3 if magic == b"P6" else 1
    if 1 <= maxval <= 255:
        # 1-byte samples per the netpbm spec; values are returned RAW
        # (0..maxval, no rescale) — deterministic, and for the common
        # maxval 255 identical to full-range 8-bit
        if pos + ch * w * h > len(data):
            raise ValueError("truncated PPM pixel data")
        body = np.frombuffer(
            data, dtype=np.uint8, count=ch * w * h, offset=pos
        ).reshape(h, w, ch)
    elif 256 <= maxval <= 65535:
        # 2-byte big-endian samples per the netpbm spec
        if pos + 2 * ch * w * h > len(data):
            raise ValueError("truncated PPM pixel data")
        body = (
            np.frombuffer(data, dtype=">u2", count=ch * w * h, offset=pos)
            .reshape(h, w, ch)
            .astype(np.uint16)
        )
    else:
        raise ValueError(f"invalid PPM maxval {maxval}")
    if ch == 1:
        return w, h, np.repeat(body, 3, axis=2)
    return w, h, body


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _png_filter_row(ftype: int, raw: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one raw scanline (encoder side)."""
    raw16 = raw.astype(np.int16)
    left = np.concatenate([np.zeros(bpp, np.int16), raw16[:-bpp]])
    up = prev.astype(np.int16)
    upleft = np.concatenate([np.zeros(bpp, np.int16), up[:-bpp]])
    if ftype == 0:
        out = raw16
    elif ftype == 1:
        out = raw16 - left
    elif ftype == 2:
        out = raw16 - up
    elif ftype == 3:
        out = raw16 - (left + up) // 2
    else:  # Paeth
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, upleft))
        out = raw16 - pred
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(ftype: int, filt: np.ndarray, prev: np.ndarray, bpp: int) -> np.ndarray:
    """Reconstruct one scanline from its filtered bytes (decoder side).
    Sub/Average/Paeth are sequential in the left neighbor, so those run
    per-byte — scanlines are row-sized, and the batch around this is
    Arrow-vectorized, so the loop is bounded by image width."""
    n = len(filt)
    if ftype == 0:
        return filt.copy()
    if ftype == 2:
        return ((filt.astype(np.int16) + prev) % 256).astype(np.uint8)
    out = np.zeros(n, dtype=np.uint8)
    for i in range(n):
        left = int(out[i - bpp]) if i >= bpp else 0
        up = int(prev[i])
        upleft = int(prev[i - bpp]) if i >= bpp else 0
        if ftype == 1:
            pred = left
        elif ftype == 3:
            pred = (left + up) // 2
        elif ftype == 4:
            p = left + up - upleft
            pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
            pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else upleft)
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[i] = (int(filt[i]) + pred) % 256
    return out


# Adam7 interlacing: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def encode_png(
    pixels: np.ndarray,
    filter_per_row=None,
    text: dict[str, str] | None = None,
    interlace: int = 0,
    depth: int = 8,
) -> bytes:
    """Encode an (h, w, 3|4) array as a PNG (color type 2 or 6).
    ``filter_per_row(y)`` picks the filter type per scanline (default:
    y % 5, exercising every filter). ``text`` adds tEXt metadata chunks
    (keyword → latin-1 value, per the PNG spec), written in sorted-key
    order for determinism. ``interlace=1`` writes Adam7 (each of the 7
    sub-images filtered independently, per spec); ``depth=16`` writes
    big-endian 16-bit samples (pixels must then be uint16)."""
    h, w, ch = pixels.shape
    color_type = {3: 2, 4: 6}[ch]
    if depth not in (8, 16) or interlace not in (0, 1):
        raise ValueError(f"unsupported encode (depth={depth}, interlace={interlace})")
    pick = filter_per_row or (lambda y: y % 5)
    stream = _png_filtered_stream(pixels, depth, ch, interlace, pick)
    return _png_container(
        w, h, color_type, depth, stream, interlace=interlace, text=text
    )


def _pack_bits_row(vals: np.ndarray, depth: int) -> np.ndarray:
    """Pack one row of sub-8-bit samples MSB-first into whole bytes
    (the PNG/BMP packed-row convention)."""
    bits = (
        (vals[:, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(-1)
    return np.packbits(bits)


def _png_container(
    w: int,
    h: int,
    color_type: int,
    depth: int,
    stream: bytes,
    plte: bytes | None = None,
    interlace: int = 0,
    text: dict[str, str] | None = None,
) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    out += b"".join(
        _png_chunk(b"tEXt", k.encode("latin-1") + b"\x00" + v.encode("latin-1"))
        for k, v in sorted((text or {}).items())
    )
    return out + _png_chunk(b"IDAT", zlib.compress(stream)) + _png_chunk(b"IEND", b"")


def _png_filtered_stream(
    planes: np.ndarray, depth: int, fch: int, interlace: int, pick
) -> bytes:
    """Filter an (h, w, fch) sample grid into a PNG pixel stream
    (packing sub-8 samples first; filters operate on the packed
    bytes, filter unit max(1, fch*depth//8) per spec)."""
    bpp = max(1, fch * depth // 8)
    passes = [(0, 0, 1, 1)] if interlace == 0 else list(_ADAM7)
    stream = bytearray()
    for x0, y0, dx, dy in passes:
        block = planes[y0::dy, x0::dx]
        hp, wp = block.shape[0], block.shape[1]
        if hp == 0 or wp == 0:
            continue
        if depth < 8:
            rows = np.stack(
                [_pack_bits_row(block[y, :, 0], depth) for y in range(hp)]
            )
        elif depth == 8:
            rows = block.reshape(hp, wp * fch).astype(np.uint8)
        else:
            b16 = block.astype(">u2").view(np.uint8)
            rows = b16.reshape(hp, wp * fch * 2)
        prev = np.zeros(rows.shape[1], dtype=np.uint8)
        for y in range(hp):
            raw = rows[y]
            ftype = pick(y)
            stream.append(ftype)
            stream.extend(_png_filter_row(ftype, raw, prev, bpp).tobytes())
            prev = raw
    return bytes(stream)


def encode_png_indexed(
    indices: np.ndarray,
    palette: np.ndarray,
    depth: int = 8,
    interlace: int = 0,
    filter_per_row=None,
) -> bytes:
    """Encode a paletted (color type 3) PNG at depth 1/2/4/8 — the
    dominant shape of real web PNGs (icons, screenshots, pixel art).
    Indices pack MSB-first at sub-8 depths; the PLTE carries the RGB
    palette; every scanline filter is exercised by default."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if depth not in (1, 2, 4, 8) or interlace not in (0, 1):
        raise ValueError(f"unsupported indexed encode (depth={depth})")
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= (1 << depth):
        raise ValueError("palette must be (1..2**depth, 3)")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("index outside palette")
    h, w = idx.shape
    pick = filter_per_row or (lambda y: y % 5)
    stream = _png_filtered_stream(idx[:, :, None], depth, 1, interlace, pick)
    return _png_container(w, h, 3, depth, stream, plte=pal.tobytes(), interlace=interlace)


def encode_png_gray(
    gray: np.ndarray,
    depth: int = 8,
    alpha: np.ndarray | None = None,
    interlace: int = 0,
    filter_per_row=None,
) -> bytes:
    """Encode a grayscale (color type 0, depth 1/2/4/8/16) or
    gray+alpha (type 4, depth 8/16) PNG."""
    g = np.asarray(gray)
    if alpha is None:
        if depth not in (1, 2, 4, 8, 16):
            raise ValueError(f"unsupported gray depth {depth}")
    elif depth not in (8, 16):
        raise ValueError(f"unsupported gray+alpha depth {depth}")
    if int(g.max(initial=0)) >= (1 << depth):
        raise ValueError("gray sample exceeds depth")
    h, w = g.shape
    if alpha is None:
        planes = g[:, :, None]
        ctype, fch = 0, 1
    else:
        a = np.asarray(alpha)
        if a.shape != g.shape:
            raise ValueError("alpha shape must match gray")
        if int(a.max(initial=0)) >= (1 << depth):
            raise ValueError("alpha sample exceeds depth")
        planes = np.stack([g, a], axis=2)
        ctype, fch = 4, 2
    pick = filter_per_row or (lambda y: y % 5)
    stream = _png_filtered_stream(planes, depth, fch, interlace, pick)
    return _png_container(w, h, ctype, depth, stream, interlace=interlace)


def decode_png_text(data: bytes) -> dict[str, str]:
    """Extract tEXt metadata chunks from a PNG (CRC-checked chunk walk,
    same framing as decode_png) — the metadata-curation half of real
    image handling: keywords like title/author/software drive corpus
    filtering without ever inflating the pixel data."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, out = len(_PNG_SIG), {}
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk body")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"tEXt":
            k, _, v = body.partition(b"\x00")
            out[k.decode("latin-1")] = v.decode("latin-1")
        elif tag == b"IEND":
            break
        pos += 12 + length
    return out


_PNG_MAX_PIXELS = 1 << 26  # same dimension-bomb cap as jpeg/_BMP/_GIF
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}


def decode_png(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a PNG of ANY spec color type — grayscale (0, depths
    1/2/4/8/16), RGB (2), paletted (3, depths 1/2/4/8, PLTE),
    gray+alpha (4), RGBA (6) — interlaced (Adam7) or not →
    (w, h, pixels). Paletted resolves through the PLTE (tRNS is
    compositing metadata and is ignored, like the GIF transparent
    index); grayscale expands to RGB with the spec's exact
    bit-replication scale (255/(2**d-1) is integral for every legal
    d). uint8 out for depth <= 8, uint16 for 16. CRC-checked per
    chunk; multiple IDAT chunks are concatenated; each Adam7 pass
    unfilters independently and scatters into the full-resolution grid
    per the spec's (x0, y0, dx, dy) lattice."""
    if data[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr, plte = len(_PNG_SIG), bytearray(), None, None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise ValueError("truncated PNG chunk body")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if (
        color_type not in _PNG_CHANNELS
        or depth not in _PNG_DEPTHS[color_type]
        or interlace not in (0, 1)
    ):
        raise NotImplementedError(
            f"unsupported PNG shape (depth={depth}, "
            f"color_type={color_type}, interlace={interlace})"
        )
    fch = _PNG_CHANNELS[color_type]
    # Dimension bomb guard BEFORE any allocation or inflation: a forged
    # IHDR (e.g. 60000x60000 interlaced) would otherwise provoke a
    # multi-GiB np.zeros + unbounded inflate from a ~100-byte payload,
    # and MemoryError escapes the per-row ValueError quarantine
    # contract.  Same cap as jpeg._MAX_PIXELS / _BMP_MAX_PIXELS.
    if w == 0 or h == 0 or w * h > _PNG_MAX_PIXELS:
        raise ValueError(f"PNG dimensions {w}x{h} out of bounds")
    # The filter unit is whole bytes: max(1, bits-per-pixel // 8).
    bpp = max(1, fch * depth // 8)
    # The exact decompressed size is implied by IHDR: per (sub-)image,
    # hp rows of (1 filter byte + rowbytes).  Cap the inflate at that
    # size so a zlib bomb can never materialize more than one legal
    # image's worth of bytes (mirrors warc._inflate_members).
    def _rowbytes(wp: int) -> int:
        return (wp * fch * depth + 7) // 8

    if interlace == 0:
        expected = h * (1 + _rowbytes(w))
    else:
        expected = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp and hp:
                expected += hp * (1 + _rowbytes(wp))
    dec = zlib.decompressobj()
    try:
        inflated = dec.decompress(bytes(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT decompress failed: {exc}") from exc
    if len(inflated) > expected:
        raise ValueError("PNG IDAT inflates beyond the IHDR-implied size")
    if not dec.eof:
        raise ValueError("PNG IDAT stream truncated")
    stream = np.frombuffer(inflated, dtype=np.uint8)

    def unfilter_block(off: int, wp: int, hp: int) -> tuple[np.ndarray, int]:
        """Unfilter one (sub-)image of wp x hp pixels starting at byte
        ``off`` of the decompressed stream → ((hp, wp, fch) raw
        samples, next offset). 16-bit samples are rejoined from their
        big-endian byte pairs AFTER unfiltering (filters operate on
        bytes); sub-8-bit rows unpack MSB-first packed samples."""
        rowbytes = (wp * fch * depth + 7) // 8
        end = off + hp * (1 + rowbytes)
        if end > len(stream):
            raise ValueError("PNG pixel stream length mismatch")
        block = stream[off:end].reshape(hp, 1 + rowbytes)
        prev = np.zeros(rowbytes, dtype=np.uint8)
        rows = np.zeros((hp, rowbytes), dtype=np.uint8)
        for y in range(hp):
            prev = _png_unfilter_row(int(block[y, 0]), block[y, 1:], prev, bpp)
            rows[y] = prev
        if depth == 8:
            return rows.reshape(hp, wp, fch), end
        if depth == 16:
            px16 = rows.reshape(hp, wp, fch, 2).astype(np.uint16)
            return (px16[..., 0] << 8) | px16[..., 1], end
        bits = np.unpackbits(rows, axis=1)
        weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
        vals = (bits.reshape(hp, -1, depth) * weights).sum(
            axis=2, dtype=np.uint8
        )
        return vals[:, :wp].reshape(hp, wp, 1), end

    if interlace == 0:
        samples, end = unfilter_block(0, w, h)
        if end != len(stream):
            raise ValueError("PNG pixel stream length mismatch")
    else:
        samples = np.zeros(
            (h, w, fch), dtype=np.uint8 if depth <= 8 else np.uint16
        )
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp == 0 or hp == 0:
                continue  # pass contributes no scanlines for these dims
            block, off = unfilter_block(off, wp, hp)
            samples[y0::dy, x0::dx] = block
        if off != len(stream):
            raise ValueError("PNG pixel stream length mismatch")

    if color_type in (2, 6):
        return w, h, samples
    if color_type == 3:
        if plte is None or len(plte) % 3 or not 3 <= len(plte) <= 768:
            raise ValueError("paletted PNG missing or invalid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samples[:, :, 0]
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return w, h, pal[idx]
    # grayscale (0) / gray+alpha (4): expand gray to RGB
    if depth == 16:
        g = samples
    else:
        scale = 255 // ((1 << depth) - 1)  # integral for d in 1,2,4,8
        g = (samples.astype(np.uint16) * scale).astype(np.uint8)
    rgb = np.repeat(g[:, :, :1], 3, axis=2)
    if color_type == 0:
        return w, h, rgb
    return w, h, np.concatenate([rgb, g[:, :, 1:]], axis=2)


_PNM_FORMATS = {b"P6": "ppm", b"P5": "pgm", b"P4": "pbm"}


def decode_pixels(data: bytes) -> tuple[str, int, int, np.ndarray]:
    """Dispatch on magic bytes to the engine's real decoders:
    (format, width, height, pixels). The one magic-byte dispatcher —
    channel sums, dHash and histograms all decode through it. Unknown
    magics raise ValueError (quarantine contract)."""
    if data[:2] == b"\xff\xd8":
        from evolution_data_warehouse_spark.operators.jpeg import decode_jpeg

        return ("jpeg", *decode_jpeg(data))
    if data[:4] == b"GIF8":
        from evolution_data_warehouse_spark.operators.gif import decode_gif

        return ("gif", *decode_gif(data))
    if data[:2] == b"BM":
        return ("bmp", *decode_bmp(data))
    if data[:2] in _PNM_FORMATS:
        return (_PNM_FORMATS[data[:2]], *decode_ppm(data))
    if data[: len(_PNG_SIG)] == _PNG_SIG:
        return ("png", *decode_png(data))
    raise ValueError(f"unrecognized image magic {data[:8]!r}")


def decode_image_auto(data: bytes) -> dict:
    """Decode for real (:func:`decode_pixels`). Returns format,
    dimensions, and EXACT per-channel integer pixel sums (alpha ignored
    for RGBA) — integer outputs keep the operator bit-deterministic.
    Unknown magics raise ValueError (quarantine contract)."""
    fmt, w, h, px = decode_pixels(data)
    sums = px.reshape(-1, px.shape[2]).astype(np.int64).sum(axis=0)
    return {
        "format": fmt,
        "width": w,
        "height": h,
        "sum_r": int(sums[0]),
        "sum_g": int(sums[1]),
        "sum_b": int(sums[2]),
    }


REAL_DECODE_SCHEMA = (
    "doc_id long, format string, width int, height int, "
    "sum_r long, sum_g long, sum_b long"
)


def decode_image_row(doc_id, payload):
    """map_rows fn: real BMP/PPM/PNG parse of one payload →
    (doc_id, format, width, height, exact channel sums)."""
    yield (doc_id, *decode_image_auto(bytes(payload)).values())


def _synth_image_payload(doc_id):
    """map_rows fn synthesizing a REAL image per doc (format cycles
    bmp/ppm/png by doc_id % 3) with closed-form pixel content — r = x
    gradient, g = y gradient, b = doc_id % 256 — so an oracle can
    compute the exact decoded channel sums from doc_id alone. The PNG
    rows cycle through all five filter types, so decoding these
    payloads exercises the full unfilter path, not just filter 0."""
    d = int(doc_id)
    w, h = 4 + d % 13, 3 + d % 7
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
    px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
    px[:, :, 2] = d % 256
    yield d, (encode_bmp, encode_ppm, encode_png)[d % 3](px)


def synth_image_payloads(df: DataFrame) -> DataFrame:
    """(doc_id, payload binary): :func:`_synth_image_payload` per doc."""
    return map_rows(
        df.select("doc_id"), _synth_image_payload, "doc_id long, payload binary"
    )


def decode_documents_real(df: DataFrame) -> DataFrame:
    """documents → synthesized real image payloads → real decode.
    Two map passes over the same partitioning (no shuffle between
    them: both are narrow maps)."""
    return map_rows(
        synth_image_payloads(df), decode_image_row, REAL_DECODE_SCHEMA
    )


TOLERANT_DECODE_SCHEMA = (
    "doc_id long, status string, format string, width int, height int, "
    "sum_r long, sum_g long, sum_b long"
)


def decode_image_tolerant_row(doc_id, payload):
    """map_rows fn: like decode_image_row but per-row fault-tolerant —
    the production shape. At corpus scale some payloads are always
    corrupt, and one bad object must not fail the task (and, after
    retries, the job): each row decodes inside its own try, emitting
    status='ok' with features or status='error' with nulls, so the
    caller routes failures to quarantine exactly like the relational
    quality suite (operators/quality.py) routes bad rows. Relies on
    the decoders' hardened contract: EVERY malformed input raises
    ValueError/NotImplementedError (fuzz-tested), so nothing else
    needs catching and a genuine code bug still fails loudly."""
    try:
        f = decode_image_auto(bytes(payload))
    except (ValueError, NotImplementedError):
        yield (doc_id, "error") + (None,) * 6
        return
    yield (doc_id, "ok", *f.values())


def decode_documents_tolerant(
    df: DataFrame, corrupt_every: int = 4
) -> DataFrame:
    """documents → synthesized payloads, every ``corrupt_every``-th one
    truncated to half its bytes → tolerant decode. The corruption rule
    is closed-form in doc_id so an oracle can state exactly which rows
    error and which decode."""
    maimed = synth_image_payloads(df).select(
        "doc_id",
        F.when(
            F.col("doc_id") % corrupt_every == 0,
            F.expr("substring(payload, 1, int(length(payload) / 2))"),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    return map_rows(maimed, decode_image_tolerant_row, TOLERANT_DECODE_SCHEMA)


def decode_documents(df: DataFrame) -> DataFrame:
    """documents table → fake-decoded feature table via Arrow batches:
    deterministic in the payload bytes, for plumbing-only checks."""

    def fake_decode(batch):
        n_bytes = pc.binary_length(batch["payload"]).to_numpy()
        return {
            "doc_id": batch["doc_id"],
            "n_bytes": n_bytes,
            "fake_width": 16 + n_bytes % 32,
            "fake_height": 16 + (n_bytes // 32) % 32,
            "format": ["fake/png"] * batch.num_rows,
        }

    payloads = with_binary_payload(df).select("doc_id", "payload")
    return map_columns(payloads, fake_decode, DECODE_SCHEMA)


RESIZE_SCHEMA = "doc_id long, width int, height int, n_tiles int"


def resize_documents(df: DataFrame, target: int = 16) -> DataFrame:
    """Fake resize: derive tile grid from the fake decode dimensions.
    Real path would call PIL.Image.resize — same pass shape."""

    def resize(batch):
        n_bytes = pc.binary_length(batch["payload"]).to_numpy()
        w = 16 + n_bytes % 32
        h = 16 + (n_bytes // 32) % 32
        return {
            "doc_id": batch["doc_id"],
            "width": [target] * batch.num_rows,
            "height": [target] * batch.num_rows,
            "n_tiles": ((w + target - 1) // target)
            * ((h + target - 1) // target),
        }

    payloads = with_binary_payload(df).select("doc_id", "payload")
    return map_columns(payloads, resize, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int"


def frame_sample_documents(
    df: DataFrame, frame_size: int = 256, stride: int = 4
) -> DataFrame:
    """Fake video frame sampling: the payload is split into fixed-size
    frames and every ``stride``-th frame is emitted with its true byte
    length (the tail frame may be short) — the row-explosion shape of
    real frame extraction."""

    def frames(doc_id, payload):
        n = len(payload)
        for i in range(0, (n + frame_size - 1) // frame_size, stride):
            yield doc_id, i, min(frame_size, n - i * frame_size)

    payloads = with_binary_payload(df).select("doc_id", "payload")
    return map_rows(payloads, frames, FRAME_SCHEMA)


AUDIO_SCHEMA = "doc_id long, n_bytes long, first_byte int, last_byte int, loudness_fake double"


def audio_features_documents(df: DataFrame) -> DataFrame:
    """Fake audio feature extraction: first/last byte + their midpoint
    as a stand-in loudness — deterministic in the payload, same pass
    shape a librosa-backed extractor would use."""

    def features(batch):
        payloads = batch["payload"].to_pylist()
        firsts = np.array([b[0] if len(b) else 0 for b in payloads])
        lasts = np.array([b[-1] if len(b) else 0 for b in payloads])
        return {
            "doc_id": batch["doc_id"],
            "n_bytes": pc.binary_length(batch["payload"]),
            "first_byte": firsts,
            "last_byte": lasts,
            "loudness_fake": (firsts + lasts) / 2.0,
        }

    payloads = with_binary_payload(df).select("doc_id", "payload")
    return map_columns(payloads, features, AUDIO_SCHEMA)
