"""Real RIFF-WAVE (PCM) audio codec for the multimodal corpus path.

Closes the audio modality the same way operators/jpeg.py, gif.py, and
video.py closed images and video: the container and sample formats are
parsed for real — RIFF chunk walking with word alignment, the fmt
chunk (PCM and WAVE_FORMAT_EXTENSIBLE with a PCM subformat), and
8-bit-unsigned / 16/24/32-bit signed little-endian sample frames —
so audio-bearing corpora get real validation, duration, and
sample-level features inside the engine instead of beside it.
(`multimodal.audio_features_documents` remains the declared plumbing fake
for schema-shape tests.)

Reference parity note: the reference warehouse treats media as opaque
blobs (no decode anywhere in analytics/etl); this exceeds parity the
way every codec here does.

Error contract (identical to the image codecs): malformed, truncated,
or oversized input raises ValueError, nothing else — which keeps the
per-row quarantine path (multimodal.decode_image_tolerant_row's
shape) sound for audio too. Tests pin conformance to real third-party
encodes: CPython's test/audiodata pluck-pcm{8,16,24,32}.wav decode
byte-exactly against the stdlib `wave` module's independent parse, and
the four widths agree with each other after shift normalization.
"""

from __future__ import annotations

import struct

import numpy as np

# Cap checked BEFORE allocation, like jpeg._MAX_PIXELS: a forged data
# chunk length must not pin memory past the quarantine contract.
_MAX_SAMPLES = 1 << 26


def _g711_tables() -> tuple[np.ndarray, np.ndarray]:
    """The 256-entry G.711 µ-law and A-law decode tables, built from
    the public ITU-T formulas (µ-law: biased-exponent with BIAS=0x84;
    A-law: 0x55-inverted segments). Validated in tests against
    CPython's independent C implementation (audioop) across all 256
    codes, and against the real third-party µ-law encode CPython ships
    (test/audiodata pluck-ulaw.au)."""
    ulaw = np.zeros(256, dtype=np.int32)
    alaw = np.zeros(256, dtype=np.int32)
    for b in range(256):
        u = ~b & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
        ulaw[b] = (0x84 - t) if (u & 0x80) else (t - 0x84)
        a = b ^ 0x55
        seg = (a & 0x70) >> 4
        mant = a & 0x0F
        t = (mant << 4) + 8 if seg == 0 else ((mant << 4) + 0x108) << (seg - 1)
        alaw[b] = t if (a & 0x80) else -t
    return ulaw, alaw


_ULAW_DEC, _ALAW_DEC = _g711_tables()


def lin2ulaw(x: np.ndarray) -> np.ndarray:
    """Vectorized 16-bit linear → µ-law bytes (the CCITT 14-bit
    quantizer: >>2 then BIAS 0x21, matching audioop bit-exactly on the
    full 16-bit sweep — pinned in tests)."""
    x = np.asarray(x, dtype=np.int64) >> 2
    sign = np.where(x < 0, 0x80, 0)
    mag = np.clip(np.where(x < 0, -x, x), 0, 8158) + 0x21
    exp = np.clip(np.floor(np.log2(mag)).astype(np.int64) - 5, 0, 7)
    mant = (mag >> (exp + 1)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def lin2alaw(x: np.ndarray) -> np.ndarray:
    """Vectorized 16-bit linear → A-law bytes (13-bit segments,
    0x55 inversion; matches audioop on the full sweep — pinned)."""
    x = np.asarray(x, dtype=np.int64)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.clip(np.where(x < 0, -x - 1, x), 0, 32767) >> 3
    seg = np.clip(
        np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 4, 0, 7
    )
    mant = np.where(seg == 0, mag >> 1, (mag >> seg) & 0x0F)
    return ((sign | (seg << 4) | mant) ^ 0x55).astype(np.uint8)


# IMA/DVI ADPCM (public spec: the IMA Digital Audio Pack / WAV format
# tag 0x11 registration): 89-entry step table, 16-entry index table.
_IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(nibble: int, pred: int, index: int) -> tuple[int, int]:
    """One IMA decode step → (new predictor, new step index). The same
    core loop as CPython's audioop adpcm2lin (cross-checked in tests);
    shared by the decoder AND the encoder (which must simulate the
    decoder's reconstruction to stay in sync)."""
    step = _IMA_STEP[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX[nibble]))
    return pred, index


def _ima_encode_nibble(sample: int, pred: int, index: int) -> int:
    """Quantize one sample against the current predictor/step → nibble
    (standard IMA encoder: successive step halving)."""
    step = _IMA_STEP[index]
    diff = sample - pred
    nibble = 8 if diff < 0 else 0
    if diff < 0:
        diff = -diff
    if diff >= step:
        nibble |= 4
        diff -= step
    step >>= 1
    if diff >= step:
        nibble |= 2
        diff -= step
    step >>= 1
    if diff >= step:
        nibble |= 1
    return nibble


def decode_wav(data: bytes) -> dict:
    """Parse a RIFF-WAVE PCM payload → dict with sample_rate,
    n_channels, sample_width (bytes), and `samples`: an (n_frames,
    n_channels) int32 array. 8-bit samples are stored unsigned per the
    spec and come back centered (v - 128); wider samples are signed
    little-endian, sign-extended. Chunk semantics match the stdlib
    ``wave`` reference exactly: the walk honors the RIFF size field
    (trailing metadata like appended ID3/INFO tags is legal and
    ignored), the FIRST fmt/data chunks win, and unknown chunks are
    skipped with word alignment; anything malformed raises
    ValueError."""
    from evolution_data_warehouse_spark.operators.video import (
        _walk_chunks,
    )

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF-WAVE payload")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = 8 + riff_size
    if end > len(data) or riff_size < 4:
        raise ValueError("truncated WAV payload")
    fmt = None
    fmt_start = fmt_size = 0
    body = None
    fact_frames = None
    for tag, start, size in _walk_chunks(data, 12, end):
        if tag == b"fmt " and fmt is None:
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", data, start)
            fmt_start, fmt_size = start, size
            if fmt[0] == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
                if size < 40:
                    raise ValueError("WAV extensible fmt chunk too short")
                (sub,) = struct.unpack_from("<H", data, start + 24)
                if sub != 1:
                    raise ValueError(
                        f"unsupported WAV extensible subformat {sub}"
                    )
            elif fmt[0] not in (1, 6, 7, 0x11):
                raise ValueError(
                    f"unsupported WAV format tag {fmt[0]} "
                    "(PCM/A-law/mu-law/IMA-ADPCM only)"
                )
        elif tag == b"data" and body is None:
            body = data[start : start + size]
        elif tag == b"fact" and fact_frames is None:
            if size < 4:
                raise ValueError("WAV fact chunk too short")
            (fact_frames,) = struct.unpack_from("<I", data, start)
    if fmt is None or body is None:
        raise ValueError("WAV missing fmt or data chunk")
    ftag, ch, rate, _brate, balign, bits = fmt
    if ch < 1 or rate < 1:
        raise ValueError(f"invalid WAV shape (channels={ch}, rate={rate})")
    if ftag in (6, 7):
        return _decode_g711(ftag, ch, rate, balign, bits, body, fact_frames)
    if ftag == 0x11:
        return _decode_ima(
            ch, rate, balign, bits, body, fact_frames, data, fmt_start,
            fmt_size,
        )
    if bits not in (8, 16, 24, 32):
        raise ValueError(f"invalid PCM WAV bit depth {bits}")
    width = bits // 8
    if balign != ch * width:
        raise ValueError(
            f"WAV block align {balign} != channels*width {ch * width}"
        )
    if len(body) % balign:
        raise ValueError("WAV data size is not a whole number of frames")
    n = len(body) // balign
    if n * ch > _MAX_SAMPLES:
        raise ValueError(
            f"implausible WAV size {n} frames x {ch} channels "
            f"(cap {_MAX_SAMPLES} samples)"
        )
    raw = np.frombuffer(body, dtype=np.uint8)
    if width == 1:
        samples = raw.astype(np.int32) - 128
    elif width == 3:
        b = raw.reshape(-1, 3).astype(np.uint32)
        u = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        samples = u.astype(np.int32)
        samples = np.where(
            samples & 0x800000, samples - (1 << 24), samples
        ).astype(np.int32)
    else:
        dt = "<i2" if width == 2 else "<i4"
        samples = raw.view(dt).astype(np.int32)
    return {
        "format": "pcm",
        "sample_rate": rate,
        "n_channels": ch,
        "sample_width": width,
        "samples": samples.reshape(n, ch),
    }


def _decode_g711(
    ftag: int,
    ch: int,
    rate: int,
    balign: int,
    bits: int,
    body: bytes,
    fact_frames: int | None,
) -> dict:
    """G.711 companded WAV payload (tag 6 = A-law, 7 = µ-law): one code
    byte per sample, decoded through the spec tables to 16-bit linear.
    `fact`, when present, truncates to the true frame count (companded
    frames are unambiguous from the data size, so fact is optional
    here, unlike ADPCM)."""
    if bits != 8:
        raise ValueError(f"G.711 WAV bit depth must be 8, got {bits}")
    if balign != ch:
        raise ValueError(f"G.711 WAV block align {balign} != channels {ch}")
    if len(body) % ch:
        raise ValueError("WAV data size is not a whole number of frames")
    n = len(body) // ch
    if n * ch > _MAX_SAMPLES:
        raise ValueError(
            f"implausible WAV size {n} frames x {ch} channels "
            f"(cap {_MAX_SAMPLES} samples)"
        )
    if fact_frames is not None:
        if fact_frames > n:
            raise ValueError("WAV fact frame count exceeds data")
        n = fact_frames
    table = _ALAW_DEC if ftag == 6 else _ULAW_DEC
    raw = np.frombuffer(body, dtype=np.uint8)[: n * ch]
    return {
        "format": "alaw" if ftag == 6 else "ulaw",
        "sample_rate": rate,
        "n_channels": ch,
        "sample_width": 2,  # decoded width: G.711 expands to 16-bit
        "samples": table[raw].reshape(n, ch),
    }


def _decode_ima(
    ch: int,
    rate: int,
    balign: int,
    bits: int,
    body: bytes,
    fact_frames: int | None,
    data: bytes,
    fmt_start: int,
    fmt_size: int,
) -> dict:
    """IMA/DVI ADPCM WAV payload (tag 0x11): per block and channel a
    4-byte header (int16 predictor = the block's first output sample,
    uint8 step index, reserved), then 4-byte nibble groups round-robin
    by channel, LOW nibble first (the WAV registration's packing —
    audioop packs high-first; the conformance test re-packs to
    cross-check the core loop). Blocks re-initialize predictor state
    from their own headers, so they are independently decodable — the
    format's seek/parallelism property. The `fact` chunk is REQUIRED:
    the final block is padded, so the true frame count is not
    recoverable from the data size."""
    if bits != 4:
        raise ValueError(f"IMA-ADPCM WAV bit depth must be 4, got {bits}")
    if fmt_size < 20:
        raise ValueError("IMA-ADPCM fmt chunk missing wSamplesPerBlock")
    (cb,) = struct.unpack_from("<H", data, fmt_start + 16)
    if cb < 2:
        raise ValueError("IMA-ADPCM fmt cbSize < 2")
    (spb,) = struct.unpack_from("<H", data, fmt_start + 18)
    if balign < 4 * ch or (balign - 4 * ch) % (4 * ch):
        raise ValueError(f"invalid IMA-ADPCM block align {balign}")
    expect_spb = (balign - 4 * ch) * 2 // ch + 1
    if spb != expect_spb:
        raise ValueError(
            f"IMA-ADPCM wSamplesPerBlock {spb} != block-align-implied "
            f"{expect_spb}"
        )
    if len(body) % balign:
        raise ValueError("WAV data size is not a whole number of blocks")
    n_blocks = len(body) // balign
    if fact_frames is None:
        raise ValueError("IMA-ADPCM WAV missing required fact chunk")
    if n_blocks * spb * ch > _MAX_SAMPLES:
        raise ValueError(
            f"implausible WAV size {n_blocks} blocks x {spb} frames x "
            f"{ch} channels (cap {_MAX_SAMPLES} samples)"
        )
    if not (n_blocks - 1) * spb < fact_frames <= n_blocks * spb:
        raise ValueError("WAV fact frame count inconsistent with blocks")
    out = np.zeros((n_blocks * spb, ch), dtype=np.int32)
    raw = np.frombuffer(body, dtype=np.uint8)
    for blk in range(n_blocks):
        base = blk * balign
        for c in range(ch):
            pred, idx = struct.unpack_from("<hBB", body, base + 4 * c)[:2]
            if idx > 88:
                raise ValueError(f"IMA-ADPCM step index {idx} > 88")
            row = blk * spb
            out[row, c] = pred
            pos = row + 1
            dstart = base + 4 * ch
            # this channel's 4-byte groups, strided by channel count
            for g in range((spb - 1) // 8):
                off = dstart + (g * ch + c) * 4
                for byte in raw[off : off + 4]:
                    for nb in (byte & 0x0F, byte >> 4):
                        pred, idx = _ima_step(int(nb), pred, idx)
                        out[pos, c] = pred
                        pos += 1
    return {
        "format": "ima_adpcm",
        "sample_rate": rate,
        "n_channels": ch,
        "sample_width": 2,
        "samples": out[:fact_frames],
    }


def _riff_wav(fmt_body: bytes, chunks: list[tuple[bytes, bytes]]) -> bytes:
    """Assemble a RIFF-WAVE container from a fmt body + ordered chunks
    (word-aligned per the RIFF rule)."""
    riff = b"WAVEfmt " + struct.pack("<I", len(fmt_body)) + fmt_body
    if len(fmt_body) & 1:
        riff += b"\x00"
    for tag, payload in chunks:
        riff += tag + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            riff += b"\x00"
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _check_16bit_frames(samples: np.ndarray) -> np.ndarray:
    s = np.asarray(samples)
    if s.ndim != 2 or s.shape[0] == 0 or s.shape[1] == 0:
        raise ValueError("samples must be (n_frames, n_channels)")
    if not np.issubdtype(s.dtype, np.integer):
        raise ValueError(f"samples must be integers, got {s.dtype}")
    if int(s.min()) < -32768 or int(s.max()) > 32767:
        raise ValueError("sample out of 16-bit range")
    return s.astype(np.int64)


def encode_wav_g711(samples: np.ndarray, rate: int, codec: str) -> bytes:
    """Encode (n_frames, n_channels) 16-bit samples as a companded WAV
    (codec 'ulaw' → format tag 7, 'alaw' → tag 6), with the fact chunk
    compressed WAV files carry."""
    s = _check_16bit_frames(samples)
    if codec == "ulaw":
        tag, body = 7, lin2ulaw(s).tobytes()
    elif codec == "alaw":
        tag, body = 6, lin2alaw(s).tobytes()
    else:
        raise ValueError(f"unknown G.711 codec {codec!r}")
    n, ch = s.shape
    if not 1 <= rate <= 0xFFFFFFFF // ch:
        raise ValueError(f"WAV sample rate {rate} out of range")
    fmt = struct.pack("<HHIIHHH", tag, ch, rate, rate * ch, ch, 8, 0)
    return _riff_wav(
        fmt, [(b"fact", struct.pack("<I", n)), (b"data", body)]
    )


def encode_wav_ima(
    samples: np.ndarray, rate: int, frames_per_block: int = 505
) -> bytes:
    """Encode (n_frames, n_channels) 16-bit samples as IMA/DVI ADPCM
    WAV (format tag 0x11). Each block's per-channel header carries the
    block's first sample verbatim plus the carried-over step index;
    the remaining frames quantize to nibbles with the encoder
    SIMULATING the decoder's reconstruction (the only way predictor
    state stays in sync — the same discipline as gif.py's
    encoder-simulates-decoder LZW width timing). The final block is
    padded by repeating the last sample; the required fact chunk
    records the true frame count."""
    s = _check_16bit_frames(samples)
    n, ch = s.shape
    if frames_per_block < 9 or (frames_per_block - 1) % 8:
        raise ValueError(
            "frames_per_block must be 1 + a multiple of 8 (nibble groups)"
        )
    if not 1 <= rate <= 0xFFFFFFFF:
        raise ValueError(f"WAV sample rate {rate} out of range")
    spb = frames_per_block
    n_blocks = (n + spb - 1) // spb
    balign = 4 * ch + (spb - 1) // 2 * ch
    padded = np.vstack([s, np.repeat(s[-1:], n_blocks * spb - n, axis=0)])
    out = bytearray()
    idx = [0] * ch
    for blk in range(n_blocks):
        rows = padded[blk * spb : (blk + 1) * spb]
        for c in range(ch):
            out += struct.pack("<hBB", int(rows[0, c]), idx[c], 0)
        nibbles: list[list[int]] = []
        for c in range(ch):
            pred = int(rows[0, c])
            nbs = []
            for v in rows[1:, c]:
                nb = _ima_encode_nibble(int(v), pred, idx[c])
                pred, idx[c] = _ima_step(nb, pred, idx[c])
                nbs.append(nb)
            nibbles.append(nbs)
        for g in range((spb - 1) // 8):
            for c in range(ch):
                grp = nibbles[c][g * 8 : g * 8 + 8]
                for k in range(0, 8, 2):
                    out.append(grp[k] | (grp[k + 1] << 4))
    brate = rate * balign // spb
    if brate > 0xFFFFFFFF:
        raise ValueError(f"WAV sample rate {rate} out of range")
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, ch, rate, brate, balign, 4, 2, spb
    )
    return _riff_wav(
        fmt, [(b"fact", struct.pack("<I", n)), (b"data", bytes(out))]
    )


def encode_wav(samples: np.ndarray, rate: int, width: int) -> bytes:
    """Encode an (n_frames, n_channels) int array as a canonical PCM
    WAV at ``width`` bytes per sample (1 = unsigned 8-bit storage,
    2/3/4 = signed little-endian)."""
    s = np.asarray(samples)
    if s.ndim != 2 or s.shape[0] == 0 or s.shape[1] == 0:
        raise ValueError("samples must be (n_frames, n_channels)")
    if not np.issubdtype(s.dtype, np.integer):
        raise ValueError(
            f"samples must be integers, got {s.dtype} (quantize first)"
        )
    if width not in (1, 2, 3, 4):
        raise ValueError(f"unsupported WAV width {width}")
    if not 1 <= rate <= 0xFFFFFFFF // (s.shape[1] * width):
        raise ValueError(f"WAV sample rate {rate} out of range")
    lo, hi = (-128, 127) if width == 1 else (
        -(1 << (8 * width - 1)),
        (1 << (8 * width - 1)) - 1,
    )
    if int(s.min()) < lo or int(s.max()) > hi:
        raise ValueError(f"sample out of range for width {width}")
    n, ch = s.shape
    if width == 1:
        body = (s.astype(np.int32) + 128).astype(np.uint8).tobytes()
    elif width == 3:
        u = (s.astype(np.int64) & 0xFFFFFF).astype(np.uint32)
        b = np.zeros((n * ch, 3), dtype=np.uint8)
        flat = u.reshape(-1)
        b[:, 0] = flat & 0xFF
        b[:, 1] = (flat >> 8) & 0xFF
        b[:, 2] = (flat >> 16) & 0xFF
        body = b.tobytes()
    else:
        body = s.astype("<i2" if width == 2 else "<i4").tobytes()
    balign = ch * width
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * balign, balign, 8 * width)
    pad = b"\x00" if len(body) & 1 else b""
    riff = (
        b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body + pad
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
