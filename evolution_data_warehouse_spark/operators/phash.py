"""Perceptual-hash image deduplication: dHash + Hamming-banded pairs.

The one LLM-pipeline dedup modality the engine lacked once text
(exact / minhash / substring-span / semantic) and embeddings were
covered: near-duplicate IMAGES. The reference treats media as opaque
blobs (no decode at all — see SURVEY.md §2.10's mm ops); this module
composes the engine's own real decoders (multimodal.decode_png /
decode_bmp / decode_ppm, gif.decode_gif, jpeg.decode_jpeg) with the
standard difference-hash (dHash) fingerprint and the same
band-bucketed candidate-join shape as dedup.simhash /
dedup.minhash_lsh_pairs — never an all-pairs scan.

Why dHash (public knowledge: the widely documented 64-bit
difference hash): it is invariant to uniform brightness shift and to
integer upscaling, robust to recompression noise after the block-mean
downsample, and — unlike pHash's float DCT — exactly integer, so the
fingerprint is bit-deterministic across partitionings and matches a
closed-form oracle. A DCT pHash would reuse jpeg.py's DCT machinery
but trades away that exactness for no extra recall on the corpus
shapes tested here.

Scale shape (100 TB): hashing is two narrow Arrow-batched mapInArrow
stages (synthesize/fetch payload → 8 bytes), zero shuffle; candidate
generation explodes each 64-bit hash into 4×16-bit bands (pigeonhole:
any pair within Hamming distance 3 shares at least one exact band) and
equi-joins on (band, band_key) behind the same default-ON hot-bucket
guard as minhash — one degenerate band bucket (e.g. monochrome images)
can never turn the join quadratic. Verification is a JVM-side
`bit_count(a XOR b)` on the 8-byte hashes, not pixels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Same hot-bucket policy as dedup.DEFAULT_MAX_BUCKET: a band bucket
#: with m members yields m·(m-1)/2 candidates, so cap it by default.
DEFAULT_MAX_BAND_BUCKET = 1000

_N_BANDS = 4
_BAND_BITS = 16


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash of an (h, w[, ch]) uint8/uint16 pixel
    array: integer-luma → exact block-mean downsample to a 9×8 grid
    (integral image, floor division) → bit (y*8+x) set iff
    cell[y][x] < cell[y][x+1]. Returned as a SIGNED 64-bit value
    (bit 63 set → negative) so it stores directly in a Spark BIGINT.

    All-integer arithmetic: invariant to uniform brightness shifts and
    to pixel-replication upscaling (block boundaries i*w//9 land on
    cell boundaries when w is a multiple of 9), and bit-identical on
    every partitioning/executor."""
    a = np.asarray(px)
    if a.ndim == 3:
        if a.shape[2] >= 3:
            r = a[..., 0].astype(np.int64)
            g = a[..., 1].astype(np.int64)
            b = a[..., 2].astype(np.int64)
            gray = (299 * r + 587 * g + 114 * b) // 1000
        else:
            gray = a[..., 0].astype(np.int64)
    elif a.ndim == 2:
        gray = a.astype(np.int64)
    else:
        raise ValueError(f"dhash64 expects 2-D or 3-D pixels, got {a.ndim}-D")
    h, w = gray.shape
    if h < 1 or w < 1:
        raise ValueError("dhash64 needs a non-empty image")
    # Exact block means via an integral image: cell (yi, xi) covers
    # pixel rows [yi*h//8, max(.+1 boundary, start+1)) — every cell is
    # at least one pixel even when h < 8 / w < 9.
    integ = np.zeros((h + 1, w + 1), dtype=np.int64)
    integ[1:, 1:] = gray.cumsum(0).cumsum(1)
    y0 = np.array([yi * h // 8 for yi in range(8)], dtype=np.int64)
    y1 = np.maximum(np.array([(yi + 1) * h // 8 for yi in range(8)]), y0 + 1)
    x0 = np.array([xi * w // 9 for xi in range(9)], dtype=np.int64)
    x1 = np.maximum(np.array([(xi + 1) * w // 9 for xi in range(9)]), x0 + 1)
    sums = (
        integ[y1[:, None], x1[None, :]]
        - integ[y0[:, None], x1[None, :]]
        - integ[y1[:, None], x0[None, :]]
        + integ[y0[:, None], x0[None, :]]
    )
    counts = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    cells = sums // counts
    bits = cells[:, :-1] < cells[:, 1:]  # (8, 8)
    val = 0
    for y in range(8):
        for x in range(8):
            if bits[y, x]:
                val |= 1 << (y * 8 + x)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def image_dhash(doc_id, payload):
    """map_rows fn: (id, payload binary) → (id, dhash bigint). Decode
    through the real codecs (``multimodal.decode_pixels``) + hash —
    narrow, zero shuffle, embarrassingly parallel."""
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_pixels,
    )

    yield doc_id, dhash64(decode_pixels(bytes(payload))[3])


def dhash_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_dist: int = 2,
    max_bucket: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-duplicate image pairs from 64-bit dHashes: explode each
    hash into 4×16-bit bands, equi-join on (band, band_key), then
    verify ``bit_count(a XOR b) <= max_dist`` JVM-side. Pigeonhole
    recall guarantee: ``max_dist`` < 4 flipped bits can touch at most
    ``max_dist`` bands, so every qualifying pair shares an exact band —
    banding loses nothing for max_dist <= 3 (same argument as
    simhash bit-band LSH, dedup.py).

    ``max_bucket`` is the default-ON hot-bucket guard (window count
    over the join key + filter, sharing the pair join's exchange via
    ReusedExchange — the minhash guard plan, dedup.py): monochrome or
    boilerplate images collapse into one band bucket whose membership
    m would otherwise emit m²/2 candidates. Members of dropped buckets
    are still covered for EXACT duplicates by the hash-equality path
    (group by the full 64-bit hash — linear), which is how the
    degenerate mass should be deduped anyway.

    Output: (doc_a, doc_b, hamming INT), doc_a < doc_b, distinct."""
    bands = hashes.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), _BAND_BITS * k).bitwiseAND(
                        F.lit((1 << _BAND_BITS) - 1)
                    )
                    for k in range(_N_BANDS)
                ]
            )
        ).alias("band", "band_key"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_key")
        bands = (
            bands.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            )
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )
