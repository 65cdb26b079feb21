"""AVI (RIFF) MJPEG container: pure-stdlib mux/demux + frame sampling.

The engine carries video as opaque ``binary`` columns until a pipeline
needs frames. For MJPEG-in-AVI — the classic frame-per-chunk format —
both directions are real here, no external codec:

* ``encode_avi_mjpeg`` writes a spec-shaped RIFF: ``hdrl`` list with
  ``avih``/``strh``/``strf`` headers (fourcc ``MJPG``), a ``movi``
  list of word-aligned ``00dc`` chunks each holding one complete JPEG,
  and an ``idx1`` index.
* ``parse_avi_mjpeg`` walks the chunk tree back, bounds-checking every
  read, and returns the untouched per-frame JPEG bytes plus the
  declared geometry; a mismatch between the ``avih`` frame count and
  the ``movi`` payload is an error, not a shrug.
* ``sample_avi_frames`` yields every ``stride``-th frame — the
  decode-only-what-you-sample shape a 100 TB video corpus wants: the
  demux is a cheap byte walk, the expensive JPEG decode
  (operators/jpeg.py) runs only on sampled frames.

Error contract: malformed structure or truncation anywhere raises
``ValueError`` only — the same fuzz-verified quarantine contract as
every image decoder in operators/multimodal.py, so the per-row
tolerant path can route corrupt containers to quarantine rows.

Reference parity: haelbrek/Evolution-DATA-WAREHOUSE stores media as
opaque blobs end-to-end (its ETL never decodes; e.g. the blob
inventory in analytics/etl). Real demux extends that surface the way
a training-data pipeline grows next, while keeping the engine's
mapInArrow batch shape unchanged.
"""

from __future__ import annotations

import struct

_AVIH_FIELDS = 14  # 56-byte main header = 14 little-endian u32s
_AVIIF_KEYFRAME = 0x10


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 25
) -> bytes:
    """Mux complete JPEG byte strings into an AVI-MJPEG container."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    if width <= 0 or height <= 0 or fps <= 0:
        raise ValueError("invalid AVI geometry")
    max_frame = max(len(f) for f in frames)

    avih = struct.pack(
        "<14I",
        max(1, 1_000_000 // fps),  # dwMicroSecPerFrame (informational)
        min(max_frame * fps, 0xFFFFFFFF),  # dwMaxBytesPerSec (u32 cap)
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        len(frames),  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_frame,  # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,  # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids", b"MJPG",
        0, 0, 0,  # flags, priority, language
        0,  # initial frames
        1, fps,  # scale / rate = frames per second
        0, len(frames),  # start, length (in frames)
        max_frame,  # suggested buffer
        -1, 0,  # quality (default), sample size (varies)
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)

    movi_body = bytearray(b"movi")
    idx = bytearray()
    for f in frames:
        # idx1 offsets point at the chunk fourcc, relative to the
        # byte position of the "movi" tag (first chunk lands at 4)
        idx += struct.pack(
            "<4sII I", b"00dc", _AVIIF_KEYFRAME, len(movi_body), len(f)
        )
        movi_body += chunk(b"00dc", f)
    movi = chunk(b"LIST", bytes(movi_body))
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _walk_chunks(data: bytes, start: int, end: int):
    """Yield (tag, body_start, body_size) over a sibling RIFF chunk
    run, honouring word alignment; raise ValueError on any overrun.
    Shared by every RIFF container here (AVI in this module, WAVE in
    operators/audio.py) — one copy of the spec-critical walk."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise ValueError("RIFF chunk overruns its parent")
        yield tag, body, size
        pos = body + size + (size & 1)


def parse_avi_mjpeg(data: bytes) -> dict:
    """Demux an AVI-MJPEG payload → {width, height, fps, frames:
    [jpeg_bytes, ...]}. The JPEG bytes come back exactly as muxed
    (chunk padding stripped); header/payload inconsistencies raise
    ValueError."""
    if data[:4] != b"RIFF" or len(data) < 12 or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = 8 + riff_size
    if end > len(data) or riff_size < 4:
        raise ValueError("truncated AVI payload")

    avih = None
    micro_per_frame = 0
    scale = rate = 0
    frames: list[bytes] = []
    saw_movi = False
    for tag, body, size in _walk_chunks(data, 12, end):
        if tag != b"LIST" or size < 4:
            continue  # idx1 / JUNK — the movi walk is authoritative
        kind = data[body : body + 4]
        if kind == b"hdrl":
            for t2, b2, s2 in _walk_chunks(data, body + 4, body + size):
                if t2 == b"avih":
                    if s2 < 4 * _AVIH_FIELDS:
                        raise ValueError("truncated AVI main header")
                    avih = struct.unpack_from(f"<{_AVIH_FIELDS}I", data, b2)
                    micro_per_frame = avih[0]
                elif t2 == b"LIST" and s2 >= 4 and (
                    data[b2 : b2 + 4] == b"strl"
                ):
                    for t3, b3, s3 in _walk_chunks(data, b2 + 4, b2 + s2):
                        # dwScale/dwRate sit at strh bytes 20/24; the
                        # FIRST video stream wins (AVI convention).
                        # rate/scale carries the exact rational rate —
                        # the int fps floors it (29.97 reports as 29),
                        # still better than the avih µs reciprocal
                        # which also misses integer non-divisor rates
                        if t3 == b"strh" and s3 >= 28 and scale == 0 and (
                            data[b3 : b3 + 4] == b"vids"
                        ):
                            scale, rate = struct.unpack_from(
                                "<II", data, b3 + 20
                            )
        elif kind == b"movi":
            saw_movi = True
            for t2, b2, s2 in _walk_chunks(data, body + 4, body + size):
                if t2 in (b"00dc", b"00db"):
                    frames.append(data[b2 : b2 + s2])
    if avih is None or not saw_movi:
        raise ValueError("AVI missing hdrl/movi lists")
    if avih[4] != len(frames):
        raise ValueError(
            f"AVI frame-count mismatch: header says {avih[4]}, "
            f"movi carries {len(frames)}"
        )
    if scale:
        fps = rate // scale  # exact for integer rates (scale=1)
    elif micro_per_frame:
        fps = 1_000_000 // micro_per_frame  # fallback: no strh seen
    else:
        fps = 0
    return {
        "width": avih[8],
        "height": avih[9],
        "fps": fps,
        "frames": frames,
    }


def sample_avi_frames(
    data: bytes, stride: int = 2
) -> list[tuple[int, bytes]]:
    """Every ``stride``-th frame as (frame_idx, jpeg_bytes) — demux is
    a byte walk; only the sampled frames ever reach the JPEG decoder."""
    if stride < 1:
        raise ValueError("stride must be >= 1")
    parsed = parse_avi_mjpeg(data)
    return [
        (i, f) for i, f in enumerate(parsed["frames"]) if i % stride == 0
    ]
