"""Frame-level audio spectral features + energy-profile fingerprint.

Extends the audio decode path (operators/audio.py: PCM, G.711,
IMA-ADPCM) with the analysis stage an audio-corpus curation pipeline
runs AFTER decode:

* :func:`spectrum32` — per-frame 32-bin magnitude spectrum
  (non-overlapping 64-sample frames, rfft bins 0..31,
  integer-quantized |X|^2) — the MFCC-lite feature grid;
* :func:`audio_fingerprint64` — a 64-bit perceptual fingerprint by
  the dHash construction (phash.py's discipline applied to the time
  axis): 65 exact integer block energies over the sample stream, bit
  i set iff ``E[i+1] > E[i]``. All-integer comparisons make it
  exactly invariant to uniform amplitude scaling (energies scale by
  s^2 — monotone) and to any lossless PCM round-trip, which is what
  lets :func:`phash.dhash_pairs` band it for near-dup candidate
  generation without an all-pairs join (the Haitsma-Kalker 2002
  energy-difference fingerprint idea, public paper, reduced to the
  repo's integer dHash shape).

Both run inside the existing mapInArrow decode stage — narrow Arrow
batches, zero shuffle, embarrassingly parallel, linear in corpus
bytes at 100 TB.

Reference parity: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
has no audio surface; this extends the engine's multimodal coverage
(SURVEY §7 growth direction).
"""

from __future__ import annotations

import numpy as np

N_FFT = 64
N_BINS = 32
N_BUCKETS = 65


def _channel0(samples: np.ndarray) -> np.ndarray:
    x = np.asarray(samples)
    if x.ndim == 2:
        x = x[:, 0]
    elif x.ndim != 1:
        raise ValueError(f"expected 1-D or 2-D samples, got {x.ndim}-D")
    return x.astype(np.int64)


def spectrum32(samples: np.ndarray) -> np.ndarray:
    """(n,) or (n, ch) integer PCM → (n_frames, 32) int64 spectrum:
    channel 0 framed into non-overlapping 64-sample windows
    (rectangular — a tone at an integer bin leaks nothing), rfft bins
    0..31, floor-quantized ``|X|^2``. Frames beyond the last full
    window are dropped; fewer than one full frame raises ValueError
    (the per-row quarantine contract of every decoder)."""
    x = _channel0(samples)
    n_frames = len(x) // N_FFT
    if n_frames < 1:
        raise ValueError(
            f"spectrum32 needs >= {N_FFT} samples, got {len(x)}"
        )
    fr = x[: n_frames * N_FFT].reshape(n_frames, N_FFT).astype(np.float64)
    spec = np.fft.rfft(fr, axis=1)[:, :N_BINS]
    return np.floor(np.abs(spec) ** 2).astype(np.int64)


def dominant_bin(spec: np.ndarray) -> int:
    """The modal per-frame argmax over bins 1..31 (DC excluded), ties
    to the lowest bin — the single closed-form feature the oracle can
    state for a pure-tone fixture."""
    per_frame = spec[:, 1:].argmax(axis=1) + 1
    vals, counts = np.unique(per_frame, return_counts=True)
    return int(vals[counts.argmax()])


def audio_fingerprint64(samples: np.ndarray) -> int:
    """64-bit energy-profile fingerprint of channel 0: the sample
    stream splits into 65 contiguous blocks (boundaries ``i*n//65`` —
    exact integer block energies via a cumulative sum, the integral-
    image trick of phash.dhash64 in one dimension); bit i is set iff
    ``E[i+1] > E[i]``. Returned SIGNED 64-bit for a Spark BIGINT."""
    x = _channel0(samples)
    if len(x) < N_BUCKETS:
        raise ValueError(
            f"audio_fingerprint64 needs >= {N_BUCKETS} samples, got {len(x)}"
        )
    bounds = [i * len(x) // N_BUCKETS for i in range(N_BUCKETS + 1)]
    max_abs = int(np.abs(x).max())
    if max_abs == 0 or len(x) <= (2**63 - 1) // (max_abs * max_abs):
        # fast path: the whole energy cumsum provably fits int64
        # (8/16-bit PCM always lands here)
        cs = np.zeros(len(x) + 1, dtype=np.int64)
        np.cumsum(x * x, out=cs[1:])
        energies = [int(cs[b1] - cs[b0]) for b0, b1 in
                    zip(bounds[:-1], bounds[1:])]
    else:
        # exact big-int fallback for full-scale 24/32-bit PCM: numpy
        # int64 would WRAP silently here, making the comparisons (and
        # the documented scale invariance) wrong — Python ints are
        # arbitrary precision, so the energies stay exact
        energies = [
            int(sum(int(v) * int(v) for v in x[b0:b1]))
            for b0, b1 in zip(bounds[:-1], bounds[1:])
        ]
    bits = [energies[i + 1] > energies[i] for i in range(64)]
    val = 0
    for i in range(64):
        if bits[i]:
            val |= 1 << i
    if val >= 1 << 63:
        val -= 1 << 64
    return val
