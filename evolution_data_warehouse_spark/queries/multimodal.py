"""Multimodal queries (``mm_*``): image, audio, video and caption
decoding, fingerprints and curation filters over synthetic media
payloads.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

import struct as _struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import map_rows
from evolution_data_warehouse_spark.operators.audio import (
    _ALAW_DEC,
    _ULAW_DEC,
    decode_wav,
    encode_wav,
    encode_wav_g711,
    encode_wav_ima,
)
from evolution_data_warehouse_spark.operators.audio_fp import (
    N_BUCKETS,
    N_FFT,
    audio_fingerprint64,
    dominant_bin,
    spectrum32,
)
from evolution_data_warehouse_spark.operators.caption import (
    caption_cte_chain,
    caption_pair_stats,
)
from evolution_data_warehouse_spark.operators.exif import (
    build_exif_jpeg,
    parse_exif,
    strip_exif,
)
from evolution_data_warehouse_spark.operators.gif import (
    decode_gif,
    encode_gif,
    gif_meta,
)
from evolution_data_warehouse_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from evolution_data_warehouse_spark.operators.multimodal import (
    audio_features_documents,
    decode_bmp,
    decode_documents,
    decode_documents_real,
    decode_documents_tolerant,
    decode_pixels,
    decode_png,
    decode_png_text,
    encode_bmp,
    encode_png,
    encode_png_gray,
    encode_png_indexed,
    encode_ppm,
    frame_sample_documents,
    resize_documents,
    synth_image_payloads,
)
from evolution_data_warehouse_spark.operators.phash import (
    dhash64,
    dhash_pairs,
    image_dhash,
)
from evolution_data_warehouse_spark.operators.video import (
    encode_avi_mjpeg,
    parse_avi_mjpeg,
)
from evolution_data_warehouse_spark.operators.similarity import as_double
from evolution_data_warehouse_spark.queries.common import cpu_repartition, register, t


# ---------------------------------------------------------------------------
# multimodal plumbing (mapInArrow, fake decode)
# ---------------------------------------------------------------------------

_MM_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(16 + octet_length(encode(text)) % 32 AS INT) AS fake_width,
       CAST(16 + (octet_length(encode(text)) // 32) % 32 AS INT) AS fake_height,
       'fake/png' AS format
FROM documents
"""


@register(
    "mm_decode_stub",
    _MM_ORACLE,
    doc="Multimodal decode plumbing: binary payload column → mapInArrow "
    "(Arrow batches) → typed feature rows. Decode here is a "
    "deterministic fake exercising only the plumbing; the REAL "
    "decoders (BMP/PPM/PNG/JPEG) are oracle-checked separately via "
    "mm_decode_real and mm_decode_jpeg.",
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_documents(t(spark, sf_dir, "documents"))


# Oracle computes the decoded facts in closed form from doc_id alone:
# the synthesizer draws an image whose pixels are r = x-gradient,
# g = y-gradient, b = doc_id % 256, so the exact channel sums are
# h*w(w-1)/2, w*h(h-1)/2 and w*h*(doc_id%256). The Spark side must
# byte-encode (BMP/PPM/PNG by doc_id % 3, PNG cycling all five filter
# types) and then PARSE those bytes back — only a correct real decode
# reproduces these numbers.
_MM_REAL_ORACLE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'png' END
           AS format,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CAST((3 + doc_id % 7) * ((4 + doc_id % 13) * (3 + doc_id % 13)) // 2
            AS BIGINT) AS sum_r,
       CAST((4 + doc_id % 13) * ((3 + doc_id % 7) * (2 + doc_id % 7)) // 2
            AS BIGINT) AS sum_g,
       CAST((4 + doc_id % 13) * (3 + doc_id % 7) * (doc_id % 256) AS BIGINT)
           AS sum_b
FROM documents
"""


@register(
    "mm_decode_real",
    _MM_REAL_ORACLE,
    doc="REAL image decode on the stdlib (no PIL): BMP (24-bit BI_RGB "
    "struct parse), PPM P6, and PNG (zlib inflate + full "
    "None/Sub/Up/Average/Paeth unfilter, per-chunk CRC check). Payloads "
    "are synthesized per doc with closed-form pixel content, then the "
    "decoder must parse the actual bytes back; the oracle knows the "
    "channel sums analytically, so any header/stride/filter/row-order "
    "bug breaks the hash. Two narrow mapInArrow stages, no shuffle; "
    "baseline JPEG decodes for real too (operators/jpeg.py, "
    "exercised by mm_decode_jpeg).",
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_documents_real(t(spark, sf_dir, "documents"))


_MM_PNG_META_ORACLE = """
SELECT doc_id,
       'doc-' || doc_id AS title,
       lang AS lang_meta,
       source AS source_meta,
       CAST(3 AS INT) AS n_chunks
FROM documents
"""


@register(
    "mm_png_metadata",
    _MM_PNG_META_ORACLE,
    doc="REAL PNG metadata extraction: tEXt chunks written by the "
    "stdlib encoder (keyword\\0value, CRC'd) and parsed back by a "
    "chunk walk (operators/multimodal.py decode_png_text) WITHOUT "
    "inflating the pixel data — the metadata-curation path that lets "
    "a 100 TB image corpus filter on title/lang/source at a fraction "
    "of decode cost. Payload synthesized per doc; the oracle knows "
    "the embedded metadata from the doc columns, so a parse bug "
    "breaks the hash.",
)
def mm_png_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = np.zeros((2, 2, 3), dtype=np.uint8)

    def synth(doc_id, lang, source):
        text = {"title": f"doc-{doc_id}", "lang": str(lang), "source": str(source)}
        yield doc_id, encode_png(px, text=text)

    def parse(doc_id, payload):
        m = decode_png_text(bytes(payload))
        yield doc_id, m.get("title"), m.get("lang"), m.get("source"), len(m)

    payloads = map_rows(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "source"),
        synth,
        "doc_id long, payload binary",
    )
    return map_rows(
        payloads,
        parse,
        "doc_id long, title string, lang_meta string, "
        "source_meta string, n_chunks int",
    )


# ---------------------------------------------------------------------------
# multimodal breadth: resize / frame-sample / audio features
# ---------------------------------------------------------------------------
_OB = "octet_length(encode(text))"


_RESIZE_ORACLE = f"""
WITH b AS (
    SELECT doc_id,
           16 + {_OB} % 32 AS w,
           16 + ({_OB} // 32) % 32 AS h
    FROM documents
)
SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(((w + 15) // 16) * ((h + 15) // 16) AS INT) AS n_tiles
FROM b
"""


@register(
    "mm_resize_stub",
    _RESIZE_ORACLE,
    doc="Multimodal resize plumbing: mapInArrow batch op deriving the "
    "target tile grid (real path: PIL resize with the same signature).",
)
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resize_documents(t(spark, sf_dir, "documents"))


_FRAME_ORACLE = f"""
WITH b AS (SELECT doc_id, {_OB} AS n FROM documents)
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(least(256, n - i * 256) AS INT) AS frame_bytes
FROM (
    SELECT doc_id, n,
           unnest(generate_series(0, CAST(ceil(n / 256.0) AS BIGINT) - 1, 4)) AS i
    FROM b
)
"""


@register(
    "mm_frame_sample",
    _FRAME_ORACLE,
    doc="Video frame-sampling plumbing: payload split into fixed-size "
    "frames, every 4th emitted — the row-explosion batch shape of real "
    "frame extraction (decode itself stubbed).",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample_documents(t(spark, sf_dir, "documents"))


_AUDIO_ORACLE = f"""
SELECT doc_id,
       CAST({_OB} AS BIGINT) AS n_bytes,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS INT) AS first_byte,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, length(text), 1)) ELSE 0 END AS INT) AS last_byte,
       CAST(CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END
            + CASE WHEN length(text) > 0 THEN ascii(substr(text, length(text), 1)) ELSE 0 END
            AS DOUBLE) / 2.0 AS loudness_fake
FROM documents
"""


@register(
    "mm_audio_features",
    _AUDIO_ORACLE,
    doc="Audio feature-extraction plumbing: deterministic fake features "
    "from the byte payload via mapInArrow (librosa slot in production).",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_features_documents(t(spark, sf_dir, "documents"))


_QUANT_ORACLE = """
WITH s AS (
    SELECT vec_id,
           list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
    FROM embeddings
),
q AS (
    SELECT e.vec_id, s.scale,
           list_transform(e.embedding,
               x -> CAST(greatest(-127, least(127,
                    floor(CAST(x AS DOUBLE) / s.scale + 0.5))) AS INT)) AS qv
    FROM embeddings e JOIN s ON e.vec_id = s.vec_id
    WHERE s.scale > 0
)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_max(qv) AS INT) AS q_max,
       CAST(list_min(qv) AS INT) AS q_min
FROM q
"""


@register(
    "mm_embedding_quantize",
    _QUANT_ORACLE,
    doc="Symmetric int8 quantization of the embedding column (per-vector "
    "absmax/127 scale, floor(x/s+0.5) rounding, clamped) — the 4x "
    "storage-compression path for 100 TB embedding tables; checked via "
    "exact integer projections of the quantized vector plus the scale.",
)
def mm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("_v")
    )
    scale = (
        F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x)))
        / F.lit(127.0)
    ).alias("scale")
    s = e.select("vec_id", "_v", scale).filter(F.col("scale") > 0)
    qv = F.transform(
        F.col("_v"),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x / F.col("scale") + F.lit(0.5)),
            ),
        ).cast("int"),
    )
    q = s.select("vec_id", "scale", qv.alias("qv"))
    return q.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("qv"), F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_max("qv").alias("q_max"),
        F.array_min("qv").alias("q_min"),
    )


_MM_FILTER_ORACLE = """
WITH decoded AS (
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(16 + octet_length(encode(text)) % 32 AS INT) AS fake_width,
           CAST(16 + (octet_length(encode(text)) // 32) % 32 AS INT)
               AS fake_height
    FROM documents
)
SELECT CAST(fake_width >= 24 AS INT) AS wide_enough,
       COUNT(*) AS n_images,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(fake_height) AS INT) AS min_height
FROM decoded
GROUP BY wide_enough
"""


@register(
    "mm_filter_by_meta",
    _MM_FILTER_ORACLE,
    doc="Multimodal curation step: decode (stub) → filter/bucket on the "
    "extracted metadata → per-bucket size accounting — the 'drop images "
    "under the resolution floor' pass a multimodal training pipeline "
    "runs between decode and packing. The metadata predicate runs on "
    "the mapInArrow OUTPUT columns, so only decode touches the binary "
    "payload; everything after is columnar.",
)
def mm_filter_by_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    decoded = decode_documents(t(spark, sf_dir, "documents"))
    return (
        decoded.groupBy(
            (F.col("fake_width") >= 24).cast("int").alias("wide_enough")
        )
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.min("fake_height").cast("int").alias("min_height"),
        )
    )


# ---------------------------------------------------------------------------
# Real baseline JPEG decode (pure-numpy codec, no libjpeg/PIL)
# ---------------------------------------------------------------------------

_MM_JPEG_ORACLE = """
SELECT doc_id,
       'jpeg' AS format,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN '444' ELSE '420' END AS sampling,
       TRUE AS within_tol
FROM documents
"""


@register(
    "mm_decode_jpeg",
    _MM_JPEG_ORACLE,
    doc="REAL baseline JPEG decode, pure numpy (operators/jpeg.py): "
    "Huffman entropy decode, dequantize, inverse zigzag, 8x8 IDCT, "
    "4:2:0 chroma upsampling, YCbCr->RGB — no libjpeg/PIL. Payloads "
    "are synthesized per doc by the module's own spec-compliant "
    "encoder (even doc_ids 4:4:4, odd 4:2:0 — both sampling paths "
    "exercised) over closed-form gradient pixels; the decoder must "
    "parse the actual entropy-coded bytes back. JPEG is lossy, so the "
    "oracle checks the lossless structural fields exactly (dims, "
    "sampling) plus a per-channel reconstruction bound: mean absolute "
    "channel error <= 3 (4:4:4, DCT rounding only) / <= 8 (4:2:0, "
    "adds chroma subsampling) — any Huffman/DC-prediction/IDCT bug "
    "blows the bound and breaks the hash. Two narrow mapInArrow "
    "stages, Arrow-batched, no shuffle.",
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        w, h = 4 + d % 13, 3 + d % 7
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
        px[:, :, 2] = d % 256
        sub = d % 2 == 1
        data = encode_jpeg(px, subsample=sub)
        if data[:2] != b"\xff\xd8":
            raise ValueError("encoder emitted non-JPEG magic")
        ww, hh, out = decode_jpeg(data)
        mae = float(
            np.abs(
                out.astype(np.int64) - px.astype(np.int64)
            ).mean()
        )
        yield (
            d,
            "jpeg",
            ww,
            hh,
            "420" if sub else "444",
            bool(mae <= (8.0 if sub else 3.0)),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "sampling string, within_tol boolean",
    )


# ---------------------------------------------------------------------------
# Per-image channel histogram over REAL decoded pixels
# ---------------------------------------------------------------------------

_MM_HIST_ORACLE = """
SELECT doc_id,
       CAST((3 + doc_id % 7) *
            least(4 + doc_id % 13, 4) AS BIGINT) AS r_b0,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 8) - 4, 0) AS BIGINT) AS r_b1,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 12) - 8, 0) AS BIGINT) AS r_b2,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 16) - 12, 0) AS BIGINT) AS r_b3
FROM documents
"""


@register(
    "mm_channel_histogram",
    _MM_HIST_ORACLE,
    doc="Per-image red-channel histogram (4 buckets of 4 intensity "
    "levels) computed from REAL decoded pixels — the image-statistics "
    "primitive behind exposure/consistency screens on an image corpus. "
    "Payloads are the mm_decode_real gradient fixtures (r = x "
    "coordinate), decoded by the actual BMP/PPM/PNG parsers, then "
    "bucket-counted in numpy inside the same Arrow batch; the oracle "
    "knows each histogram analytically from doc_id (bucket b holds "
    "height x |[4b,4b+4) ∩ [0,width)| pixels), so a decode or "
    "bucketing bug breaks the hash. Embarrassingly parallel, zero "
    "shuffle.",
)
def mm_channel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    def histogram(doc_id, payload):
        r = decode_pixels(bytes(payload))[3][:, :, 0].astype(np.int64)
        yield doc_id, *(
            int(((r >= 4 * b) & (r < 4 * (b + 1))).sum()) for b in range(4)
        )

    return map_rows(
        synth_image_payloads(t(spark, sf_dir, "documents")),
        histogram,
        "doc_id long, r_b0 long, r_b1 long, r_b2 long, r_b3 long",
    )


# ---------------------------------------------------------------------------
# Progressive (SOF2) JPEG decode — driver-level evidence for the r8 codec
# ---------------------------------------------------------------------------

_MM_PROG_ORACLE = """
SELECT doc_id,
       'jpeg-progressive' AS format,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CAST(doc_id % 3 AS INT) AS restart_interval,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_progressive",
    _MM_PROG_ORACLE,
    doc="REAL progressive (SOF2) JPEG decode, pure numpy "
    "(operators/jpeg.py): spectral-selection + successive-approximation "
    "scans — DC first/refine, AC bands with EOB runs and ZRL, the AC "
    "refinement correction-bit algorithm, and per-scan DRI/RSTn restart "
    "intervals (doc_id % 3: 0 disables them). Progressive re-orders the "
    "SAME coefficients a baseline stream carries, so the check is the "
    "strongest possible: the decoded progressive pixels must be "
    "BIT-IDENTICAL to decoding the baseline encode of the same image — "
    "any divergence anywhere in the multi-scan path breaks the hash. "
    "One narrow mapInArrow stage, Arrow-batched, no shuffle; "
    "embarrassingly parallel at any corpus size.",
)
def mm_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        w, h = 4 + d % 13, 3 + d % 7
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
        px[:, :, 2] = d % 256
        ri = d % 3
        _, _, base = decode_jpeg(encode_jpeg(px))
        ww, hh, prog = decode_jpeg(
            encode_jpeg_progressive(px, restart_interval=ri)
        )
        yield (
            d,
            "jpeg-progressive",
            ww,
            hh,
            ri,
            bool(np.array_equal(base, prog)),
        )

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "restart_interval int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# Adam7-interlaced 16-bit PNG decode — driver-level evidence for the r8
# extension of the PNG codec (operators/multimodal.py)
# ---------------------------------------------------------------------------

_MM_ADAM7_ORACLE = """
SELECT doc_id,
       'png-adam7-16bit' AS format,
       CAST(1 + doc_id % 19 AS INT) AS width,
       CAST(1 + doc_id % 11 AS INT) AS height,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_interlaced",
    _MM_ADAM7_ORACLE,
    doc="REAL Adam7-interlaced 16-bit PNG decode (multimodal.py): "
    "seven sub-images unfiltered independently and scattered into the "
    "full-resolution lattice, 16-bit samples rejoined from big-endian "
    "byte pairs after unfiltering. Dims 1..19 x 1..11 sweep every "
    "empty-pass combination (passes vanish when a dimension is smaller "
    "than the pass origin — the classic off-by-one nest). exact_match "
    "asserts the decoded grid is BIT-IDENTICAL to the synthesized "
    "uint16 pixels. One mapInArrow stage, no shuffle, embarrassingly "
    "parallel.",
)
def mm_decode_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        w, h = 1 + d % 19, 1 + d % 11
        yy, xx = np.mgrid[0:h, 0:w]
        px = np.stack(
            [
                (xx * 257 + d) % 65536,
                (yy * 4099 + d * 31) % 65536,
                (xx * yy * 7 + d * 101) % 65536,
            ],
            axis=2,
        ).astype(np.uint16)
        ww, hh, out = decode_png(
            encode_png(px, interlace=1, depth=16)
        )
        yield d, "png-adam7-16bit", ww, hh, bool(np.array_equal(out, px))

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "exact_match boolean",
    )


# ---------------------------------------------------------------------------
# Fault-tolerant image decode with deliberate corruption (quarantine path)
# ---------------------------------------------------------------------------

_MM_TOL_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'error' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS VARCHAR)
            ELSE CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                 ELSE 'png' END END AS format,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(4 + doc_id % 13 AS INT) END AS width,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(3 + doc_id % 7 AS INT) END AS height,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((3 + doc_id % 7) * ((4 + doc_id % 13)
                 * (3 + doc_id % 13)) // 2 AS BIGINT) END AS sum_r,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((4 + doc_id % 13) * ((3 + doc_id % 7)
                 * (2 + doc_id % 7)) // 2 AS BIGINT) END AS sum_g,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((4 + doc_id % 13) * (3 + doc_id % 7)
                 * (doc_id % 256) AS BIGINT) END AS sum_b
FROM documents
"""


@register(
    "mm_decode_tolerant",
    _MM_TOL_ORACLE,
    doc="Fault-tolerant image decode — the quarantine path a 100 TB "
    "media corpus REQUIRES: every 4th payload is deliberately "
    "truncated to half its bytes, and the per-row try in "
    "decode_image_tolerant_row (multimodal.py) turns each broken "
    "object into status='error' with NULL features instead of a task "
    "failure that would kill the job after retries. Healthy rows "
    "decode to the same closed-form channel sums mm_decode_real "
    "verifies; the hardened ValueError fuzz contract is what makes "
    "the narrow except clause sound (a genuine code bug still fails "
    "loudly). Same two narrow mapInArrow stages, no shuffle.",
)
def mm_decode_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decode_documents_tolerant(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Real video demux: AVI (RIFF) MJPEG container → sampled-frame decode
# ---------------------------------------------------------------------------

_MM_VIDEO_ORACLE = """
SELECT doc_id,
       CAST(2 + doc_id % 5 AS INT) AS n_frames,
       CAST((2 + doc_id % 5 + 1) // 2 AS INT) AS n_sampled,
       CAST(8 + doc_id % 9 AS INT) AS width,
       CAST(8 + doc_id % 5 AS INT) AS height,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_video_frames",
    _MM_VIDEO_ORACLE,
    doc="REAL video demux (operators/video.py): each document becomes "
    "an AVI-MJPEG container (RIFF hdrl/avih/strh/strf + word-aligned "
    "00dc movi chunks + idx1), demuxed back and frame-sampled at "
    "stride 2. exact_match asserts the strong contract end-to-end: "
    "every sampled frame's bytes come back untouched from the movi "
    "walk (byte equality — which makes its decode trivially identical "
    "to the standalone JPEG's), ONE decode per sampled frame "
    "(operators/jpeg.py) confirms the geometry, and the avih/strh "
    "header round-trips exactly. "
    "The scale shape is the point: demux is a cheap byte walk, the "
    "expensive JPEG decode runs ONLY on sampled frames — one narrow "
    "mapInArrow stage, Arrow-batched, zero shuffle, embarrassingly "
    "parallel across a 100 TB corpus.",
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixture-synthesis cache: frame pixels depend only on
    # (w, h, k, d % 256) — ≤ 9·5·6·256 = 69,120 distinct JPEGs
    # (k ranges over 0..5 since n_frames = 2 + d % 5 ≤ 6)
    # versus one encode per (doc, frame). Caching the synthesis
    # (NOT the mux/demux/decode under test) is the same
    # per-batch-frame-cache discipline that fixed
    # mm_video_curation in r10; profiled r11: encode was 68% of
    # the leg, and a task-lifetime cache converts most of it to
    # dict hits once the (d%9, d%5, d%256) cycle wraps.
    frame_cache: dict[tuple[int, int, int, int], bytes] = {}

    def synth_frame(w: int, h: int, k: int, blue: int) -> bytes:
        key = (w, h, k, blue)
        got = frame_cache.get(key)
        if got is None:
            px = np.zeros((h, w, 3), dtype=np.uint8)
            px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
            px[:, :, 1] = (k * 16) % 256
            px[:, :, 2] = blue
            got = frame_cache[key] = encode_jpeg(px)
        return got

    def synth_mux_sample(d):
        n_frames = 2 + d % 5
        w, h = 8 + d % 9, 8 + d % 5
        jpegs = [
            synth_frame(w, h, k, d % 256) for k in range(n_frames)
        ]
        avi = encode_avi_mjpeg(jpegs, w, h, fps=12)
        parsed = parse_avi_mjpeg(avi)  # one demux, sampled below
        sampled = list(enumerate(parsed["frames"]))[::2]
        ok = (
            parsed["width"] == w
            and parsed["height"] == h
            and parsed["fps"] == 12
            and len(parsed["frames"]) == n_frames
        )
        for idx, frame in sampled:
            # byte equality first — once the demuxed bytes ARE
            # the muxed JPEG, ONE decode pins the pixel claim
            ok = ok and frame == jpegs[idx]
            fw, fh, _fpx = decode_jpeg(frame)
            ok = ok and (fw, fh) == (w, h)
        yield d, n_frames, len(sampled), w, h, bool(ok)

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    return map_rows(
        ids,
        synth_mux_sample,
        "doc_id long, n_frames int, n_sampled int, width int, "
        "height int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# GIF (LZW) decode — driver-level evidence for the codec family
# ---------------------------------------------------------------------------

_MM_GIF_ORACLE = """
SELECT doc_id,
       'gif' AS format,
       CAST(3 + doc_id % 14 AS INT) AS width,
       CAST(2 + doc_id % 9 AS INT) AS height,
       doc_id % 2 = 1 AS interlaced,
       CAST(1 AS INT) AS n_frames,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_gif",
    _MM_GIF_ORACLE,
    doc="REAL GIF (LZW) decode, pure numpy (operators/gif.py): "
    "variable-width LZW with clear/EOI codes, the KwKwK case, width "
    "growth, deferred clear on a full table, 4-pass interlace, 89a "
    "GCE/comment extensions, and palette resolution — LZW being the "
    "one compression family the image suite lacked (JPEG: Huffman+DCT, "
    "PNG: DEFLATE, BMP: RLE). Per doc a deterministic paletted frame "
    "(palette size 2..256 sweeping every LZW root width) is encoded "
    "with the hermetic REAL-compression encoder and decoded back; "
    "exact_match demands bit-identical pixels, so any LZW "
    "desynchronization anywhere breaks the hash. The codec also "
    "decodes real third-party-encoder GIFs in tests (CPython idlelib "
    "icons), fencing off complementary encoder/decoder bugs. One "
    "narrow mapInArrow stage, no shuffle — embarrassingly parallel "
    "at corpus scale.",
)
def mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        w, h = 3 + d % 14, 2 + d % 9
        npal = 2 + d % 255
        ii, jj = np.indices((h, w))
        idx = ((ii * 7 + jj * 3 + d) % npal).astype(np.uint8)
        k = np.arange(npal, dtype=np.int64)
        pal = np.stack(
            [(k * 5 + d) % 256, (k * 11) % 256, (k * 17 + d) % 256],
            axis=1,
        ).astype(np.uint8)
        data = encode_gif(
            idx,
            pal,
            interlace=d % 2 == 1,
            transparent=0 if d % 4 == 0 else None,
            comment=f"doc {d}" if d % 5 == 0 else None,
        )
        ww, hh, px = decode_gif(data)
        meta = gif_meta(data)
        yield (
            d,
            "gif",
            ww,
            hh,
            bool(meta["interlaced"]),
            meta["n_frames"],
            bool(
                (ww, hh) == (w, h)
                and np.array_equal(px, pal[idx])
            ),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "interlaced boolean, n_frames int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# paletted / grayscale PNG + masked BMP decode — late-r8 codec evidence
# ---------------------------------------------------------------------------

_MM_PAL_ORACLE = """
SELECT doc_id,
       CAST(2 + doc_id % 13 AS INT) AS width,
       CAST(1 + doc_id % 8 AS INT) AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 1
                 WHEN doc_id % 4 = 1 THEN 2
                 WHEN doc_id % 4 = 2 THEN 4
                 ELSE 8 END AS INT) AS depth,
       doc_id % 2 = 1 AS interlaced,
       TRUE AS paletted_match,
       TRUE AS gray_match,
       TRUE AS bitfields_match
FROM documents
"""


@register(
    "mm_decode_paletted",
    _MM_PAL_ORACLE,
    doc="Late-r8 codec-gate evidence: per document, (1) a paletted "
    "(color type 3) PNG at depth doc_id%4 -> 1/2/4/8 bits, "
    "Adam7-interlaced for odd ids, round-trips bit-exactly through "
    "the real decoder (operators/multimodal.py::decode_png — MSB-first "
    "packed samples, PLTE resolution); (2) a grayscale (type 0) PNG at "
    "the same depth round-trips through the spec's exact replication "
    "scale; (3) a 16-bpp BI_BITFIELDS BMP (565 masks) of the same "
    "pixels decodes to the closed-form mask-extraction model. "
    "Paletted is the dominant real-web-PNG shape; the real-encoder "
    "cross-check lives in test_real_file_cross_format_conformance "
    "(CPython's imghdr images: PNG/BMP/PPM channel sums identical). "
    "Same embarrassingly-parallel mapInArrow shape as every decode "
    "query.",
)
def mm_decode_paletted(spark: SparkSession, sf_dir: str) -> DataFrame:

    def synth_and_decode(d):
        w, h = 2 + d % 13, 1 + d % 8
        depth = (1, 2, 4, 8)[d % 4]
        inter = d % 2
        n = 1 << depth
        ii, jj = np.indices((h, w))
        idx = ((ii * 5 + jj * 3 + d) % n).astype(np.uint8)
        k = np.arange(n, dtype=np.int64)
        pal = np.stack(
            [(k * 7 + d) % 256, (k * 13) % 256, (k * 29 + d) % 256],
            axis=1,
        ).astype(np.uint8)
        _, _, ppx = decode_png(
            encode_png_indexed(idx, pal, depth=depth, interlace=inter)
        )
        pal_ok = np.array_equal(ppx, pal[idx])
        g = idx  # gray samples at the same depth
        scale = 255 // (n - 1)
        _, _, gpx = decode_png(
            encode_png_gray(g, depth=depth, interlace=inter)
        )
        gray_ok = np.array_equal(
            gpx, np.repeat((g * scale).astype(np.uint8)[:, :, None], 3, axis=2)
        )
        # 16-bpp 565 bitfields BMP of deterministic words
        words = ((ii * 131 + jj * 17 + d) % (1 << 16)).astype("<u2")
        stride = (2 * w + 3) // 4 * 4
        rowbuf = np.zeros((h, stride), dtype=np.uint8)
        rowbuf[:, : 2 * w] = words.view(np.uint8).reshape(h, 2 * w)
        bmp = (
            _struct.pack("<2sIHHI", b"BM", 14 + 40 + 12 + stride * h, 0, 0, 14 + 40 + 12)
            + _struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 16, 3, stride * h, 2835, 2835, 0, 0,
            )
            + _struct.pack("<III", 0xF800, 0x07E0, 0x001F)
            + rowbuf[::-1].tobytes()
        )
        _, _, bpx = decode_bmp(bmp)
        wu = words.astype(np.uint32)
        exp = np.stack(
            [
                (((wu >> 11) & 0x1F) * 255 // 31).astype(np.uint8),
                (((wu >> 5) & 0x3F) * 255 // 63).astype(np.uint8),
                ((wu & 0x1F) * 255 // 31).astype(np.uint8),
            ],
            axis=2,
        )
        yield (
            d,
            w,
            h,
            depth,
            bool(inter),
            bool(pal_ok),
            bool(gray_ok),
            bool(np.array_equal(bpx, exp)),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, width int, height int, depth int, "
        "interlaced boolean, paletted_match boolean, gray_match boolean, "
        "bitfields_match boolean",
    )


# ---------------------------------------------------------------------------
# real WAV (RIFF-PCM) audio decode — the audio modality's codec evidence
# ---------------------------------------------------------------------------

_MM_WAV_ORACLE = """
SELECT doc_id,
       CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST(1 + doc_id % 4 AS INT) AS sample_width,
       CAST(64 + doc_id % 193 AS INT) AS n_frames,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_audio_wav",
    _MM_WAV_ORACLE,
    doc="REAL RIFF-WAVE PCM decode (operators/audio.py): chunk walking "
    "with word alignment, PCM + WAVE_FORMAT_EXTENSIBLE fmt parsing, "
    "and 8-bit-unsigned / 16/24/32-bit signed little-endian sample "
    "frames — the audio modality closed the way images (jpeg/png/bmp/"
    "gif) and video (AVI-MJPEG) were: a real parser under the "
    "ValueError-only quarantine contract, conformance pinned to real "
    "third-party encodes in tests (CPython's pluck-pcm{8,16,24,32}.wav "
    "decode byte-exactly against the stdlib wave module's independent "
    "parse). Per doc a deterministic PCM signal is encoded at width "
    "doc_id%4+1 and decoded back; exact_match demands bit-identical "
    "samples. One narrow mapInArrow stage, no shuffle.",
)
def mm_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        rate = 8000 + (d % 5) * 1000
        ch = 1 + d % 2
        width = 1 + d % 4
        n = 64 + d % 193
        hi = (1 << (8 * width - 1)) - 1
        i, c = np.indices((n, ch))
        s = ((i * 2311 + c * 757 + d * 13) % (2 * hi + 1)) - hi
        out = decode_wav(encode_wav(s, rate, width))
        yield (
            d,
            out["sample_rate"],
            out["n_channels"],
            out["sample_width"],
            out["samples"].shape[0],
            bool(
                np.array_equal(out["samples"], s)
            ),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, sample_rate int, n_channels int, sample_width int, "
        "n_frames int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# Image near-duplicate detection — perceptual dHash + banded pairs
# ---------------------------------------------------------------------------

# Near-dup image families, closed-form in doc_id (the mm_decode_real
# fixture discipline): docs in the same `doc_id div 10` family render
# the SAME pseudo-random 9x8 cell pattern, subjected to per-doc
# transformations dHash is exactly invariant to — uniform brightness
# shift (doc_id % 5)*10 and pixel-replication upscaling (sx=1+d%3,
# sy=1+d%2) — through three REAL lossless codecs (BMP/PPM/PNG by
# d % 3). Every 10th doc (d % 10 == 5) additionally swaps two pinned
# cell pairs, flipping EXACTLY dHash bits 0 and 56 (the swap changes
# one adjacent comparison each; the next comparison is unchanged
# because the third pinned cell exceeds both swapped values), so the
# family contains true near-duplicates at Hamming distance 2, not just
# exact copies. The oracle states the expected pair set in closed
# form. Cross-family hash collisions within distance 2 are ~2e-12
# likely for pseudo-random 64-bit hashes and the data is fixed —
# verified absent at the tested SFs, cannot flake.


def _splitmix64(n: int) -> int:
    # splitmix64-style finalizer: a LINEAR formula here is not
    # enough — (base*c + y*a + x*b) mod 96 has at most 96
    # distinct patterns, so distinct families would collide
    # within the Hamming threshold (observed: 5498 pairs vs
    # the expected 2250 at sf0.01)
    mask = (1 << 64) - 1
    n = (n * 0x9E3779B97F4A7C15) & mask
    n ^= n >> 29
    n = (n * 0xBF58476D1CE4E5B9) & mask
    n ^= n >> 32
    return n


def _phash_family_pixels(d: int) -> np.ndarray:
    """The near-dup family pixel construction above for one doc id —
    shared by dedup_image_phash and the r10 image-curation composite
    (same bytes → the closed-form pair claims hold in both)."""
    base = d // 10
    cells = np.zeros((8, 9), dtype=np.int64)
    for y in range(8):
        for x in range(9):
            cells[y, x] = 32 + _splitmix64(base * 72 + y * 9 + x) % 96
    # pinned triples controlling bits 0 and 56
    cells[0, 0:3] = (10, 20, 30)
    cells[7, 0:3] = (10, 20, 30)
    if d % 10 == 5:
        cells[0, 0], cells[0, 1] = 20, 10
        cells[7, 0], cells[7, 1] = 20, 10
    cells = cells + (d % 5) * 10  # brightness: dHash-invariant
    sx, sy = 1 + d % 3, 1 + d % 2
    gray = np.repeat(np.repeat(cells, sy, axis=0), sx, axis=1)
    return np.repeat(gray.astype(np.uint8)[:, :, None], 3, axis=2)


def _phash_payload(d):
    """map_rows fn: doc_id → a REAL encoded image payload from the
    near-dup family construction above."""
    yield d, (encode_bmp, encode_ppm, encode_png)[d % 3](_phash_family_pixels(d))


def image_dhashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash): the 64-bit dHash of each document's synthetic
    image payload (_phash_payload), decoded and hashed in two narrow
    map passes spread to core width."""
    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    payloads = map_rows(ids, _phash_payload, "doc_id long, payload binary")
    return map_rows(payloads, image_dhash, "doc_id long, dhash long")


# ---------------------------------------------------------------------------
# Companded / ADPCM audio decode — telephony-corpus codec evidence
# ---------------------------------------------------------------------------

_MM_COMPAND_ORACLE = """
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'ulaw' WHEN 1 THEN 'alaw'
            ELSE 'ima_adpcm' END AS codec,
       CAST(8000 + (doc_id % 3) * 3025 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST(120 + doc_id % 211 AS INT) AS n_frames,
       TRUE AS roundtrip_ok
FROM documents
"""


@register(
    "mm_audio_companding",
    _MM_COMPAND_ORACLE,
    doc="G.711 µ-law / A-law and IMA-ADPCM WAV decode (operators/"
    "audio.py) — the compressed sample formats of telephony and legacy "
    "speech corpora, extending mm_audio_wav's PCM evidence. Per doc a "
    "deterministic signal is encoded with codec doc_id%3 and decoded "
    "back. The G.711 legs synthesize the signal FROM the spec decode "
    "tables (every value exactly representable), so roundtrip_ok "
    "demands VALUE-EXACT reconstruction through the real quantizer — "
    "not a tolerance; the ADPCM leg demands the decoder reproduce the "
    "encoder's simulated reconstruction exactly (encoder and decoder "
    "are separate code paths) plus bounded tracking error on the "
    "smooth signal. Conformance behind this query: decode tables and "
    "encoders pinned to audioop's independent C implementation over "
    "the full 16-bit sweep and to the real third-party µ-law encode "
    "CPython ships (tests/data/audio). One narrow mapInArrow stage, "
    "no shuffle — linear in corpus bytes like every codec here.",
)
def mm_audio_companding(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d):
        codec = ("ulaw", "alaw", "ima_adpcm")[d % 3]
        rate = 8000 + (d % 3) * 3025
        ch = 1 + d % 2
        n = 120 + d % 211
        i, c = np.indices((n, ch))
        if codec in ("ulaw", "alaw"):
            table = _ULAW_DEC if codec == "ulaw" else _ALAW_DEC
            sig = table[(i * 131 + c * 37 + d * 11) % 256]
            wav = encode_wav_g711(sig, rate, codec)
            out = decode_wav(wav)
            ok = np.array_equal(out["samples"], sig)
        else:
            t_ = i.astype(np.float64)
            sig = (
                3000 * np.sin(t_ / 17.0 + d % 7)
                + 400 * np.sin(t_ / 3.0)
                + c * 23
            ).astype(np.int64)
            wav = encode_wav_ima(sig, rate, frames_per_block=105)
            out = decode_wav(wav)
            # independent re-simulation of the decoder over the
            # encoded nibble stream happens in decode_wav; here
            # assert bounded tracking error + exact first
            # sample per block header contract
            err = int(np.abs(out["samples"] - sig).max())
            ok = (
                err < 2000
                and np.array_equal(out["samples"][0], sig[0])
            )
        yield (
            d,
            codec,
            out["sample_rate"],
            out["n_channels"],
            out["samples"].shape[0],
            bool(ok),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_decode,
        "doc_id long, codec string, sample_rate int, n_channels int, "
        "n_frames int, roundtrip_ok boolean",
    )


# ---------------------------------------------------------------------------
# EXIF metadata extraction + GPS/PII redaction
# ---------------------------------------------------------------------------

_EXIF_ORACLE = """
SELECT doc_id,
       'Cam' || CAST(doc_id % 7 AS VARCHAR) AS make,
       CAST(1 + doc_id % 8 AS INT) AS orientation,
       CASE WHEN doc_id % 2 = 0 THEN 'MM' ELSE 'II' END AS byte_order,
       doc_id % 3 = 0 AS has_gps,
       CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id % 90 AS INT)
            ELSE NULL END AS lat_deg,
       CASE WHEN doc_id % 3 = 0 THEN 'W' ELSE NULL END AS lon_ref,
       TRUE AS redact_ok
FROM documents
"""


@register(
    "mm_exif_gps_redact",
    _EXIF_ORACLE,
    doc="EXIF metadata extraction + GPS redaction (operators/exif.py) "
    "— the metadata half of image-corpus curation: per doc a REAL "
    "JPEG (the engine's own encoder) gains a real APP1 Exif segment "
    "(TIFF writer, byte order alternating II/MM by doc parity, GPS "
    "sub-IFD with rational coordinate triples on every third doc); "
    "the parser walks the TIFF structure back out (make/orientation/"
    "GPS degrees, closed-form in doc_id), and strip_exif removes the "
    "segment by byte surgery. redact_ok demands BOTH halves of the "
    "PII contract: the scrubbed payload parses as EXIF-free AND "
    "decodes bit-identically to the original pixels (metadata-only "
    "surgery, entropy stream untouched). Parse never touches the "
    "entropy stream — header-IO cost, the filter-before-decode "
    "ordering a 100 TB image corpus needs. One narrow mapInArrow "
    "stage, no shuffle.",
)
def mm_exif_gps_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_parse(d):
        w, h = 4 + d % 13, 3 + d % 7
        x = np.arange(w, dtype=np.uint8)
        y = np.arange(h, dtype=np.uint8)
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = x[None, :]
        px[:, :, 1] = y[:, None]
        px[:, :, 2] = d % 256
        gps = (
            (d % 90 + 0.5, -(d % 180 + 0.25))
            if d % 3 == 0
            else None
        )
        jpg = build_exif_jpeg(
            px,
            make=f"Cam{d % 7}",
            model=f"M{d % 4}",
            orientation=1 + d % 8,
            gps=gps,
            byte_order="II" if d % 2 else "MM",
        )
        meta = parse_exif(jpg)
        scrubbed = strip_exif(jpg)
        sm = parse_exif(scrubbed)
        dw, dh, dp = decode_jpeg(jpg)
        sw, sh, sp = decode_jpeg(scrubbed)
        ok = (
            not sm["has_exif"]
            and (dw, dh) == (sw, sh)
            and bool(np.array_equal(dp, sp))
        )
        g = meta["gps"]
        yield (
            d,
            meta["make"],
            meta["orientation"][0],
            meta["byte_order"],
            g is not None,
            g["gps_lat"][0][0] if g is not None else None,
            g["gps_lon_ref"] if g is not None else None,
            bool(ok),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_parse,
        "doc_id long, make string, orientation int, byte_order string, "
        "has_gps boolean, lat_deg int, lon_ref string, redact_ok boolean",
    )


# ---------------------------------------------------------------------------
# Frame-level audio spectral features — the post-decode analysis stage
# ---------------------------------------------------------------------------

_SPECTRAL_ORACLE = """
SELECT doc_id,
       CAST(2 + doc_id % 5 AS INT) AS n_frames,
       CAST(32 AS INT) AS n_bins,
       CAST(1 + doc_id % 30 AS INT) AS dominant_bin,
       TRUE AS spectral_ok
FROM documents
"""


@register(
    "mm_audio_spectral",
    _SPECTRAL_ORACLE,
    doc="Frame-level spectral features (operators/audio_fp.py::"
    "spectrum32) — what audio curation computes AFTER decode: per doc "
    "a pure tone at DFT bin 1 + doc_id % 30 is synthesized "
    "(2 + doc_id % 5 full 64-sample frames), round-tripped through "
    "the engine's REAL PCM16 WAV codec, framed, and transformed to "
    "the 32-bin integer-quantized magnitude spectrum. dominant_bin "
    "(modal per-frame argmax, DC excluded) is closed-form in doc_id; "
    "spectral_ok demands every frame agree on the bin AND the peak "
    "dominate the runner-up 4x in quantized integer magnitude (an "
    "integer-cycle tone under a rectangular window leaks nothing, so "
    "only a correct DFT over correctly decoded samples passes). One "
    "narrow mapInArrow stage, zero shuffle — linear in corpus bytes, "
    "the same scale shape as every decoder.",
)
def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_analyze(d):
        k = 1 + d % 30
        n_frames = 2 + d % 5
        n = np.arange(N_FFT * n_frames, dtype=np.float64)
        sig = np.floor(
            6000.0 * np.sin(2.0 * np.pi * k * n / N_FFT) + 0.5
        ).astype(np.int64)[:, None]
        wav = encode_wav(sig, 16000, width=2)
        out = decode_wav(wav)
        spec = spectrum32(out["samples"])
        per_frame = spec[:, 1:].argmax(axis=1) + 1
        peak = spec[np.arange(len(spec)), per_frame]
        rest = spec[:, 1:].copy()
        rest[np.arange(len(spec)), per_frame - 1] = 0
        runner = rest.max(axis=1)
        ok = bool(
            np.all(per_frame == k) and np.all(peak >= 4 * runner)
        )
        yield d, spec.shape[0], spec.shape[1], dominant_bin(spec), ok

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_analyze,
        "doc_id long, n_frames int, n_bins int, dominant_bin int, "
        "spectral_ok boolean",
    )


# ---------------------------------------------------------------------------
# Audio near-duplicate detection — energy fingerprint + banded pairs
# ---------------------------------------------------------------------------

# Near-dup audio families, closed-form in doc_id (the dedup_image_phash
# fixture discipline): docs in the same `doc_id div 10` family render
# the SAME 65-block energy profile (per-block alternating-sign
# amplitude from a splitmix64 mix — the r9 lesson: a linear formula
# collides across families), subjected to a per-doc transformation the
# fingerprint is exactly invariant to (uniform amplitude scaling
# 1 + d % 3; energies scale by s^2, comparisons unchanged) through the
# engine's REAL PCM16 WAV round-trip. Every 10th doc (d % 10 == 5)
# additionally swaps two pinned block pairs — (0,1) and (56,57) —
# flipping EXACTLY fingerprint bits 0 and 56: blocks 2, 55 and 58 are
# pinned to a 7500 amplitude exceeding every other block (random
# blocks cap at 5099), so the neighboring comparisons cannot flip.
# The oracle states the expected pair set in closed form.

_AFP_AMP_CAP = 5000


_AFP_PINNED = {0: 1000, 1: 2000, 2: 7500, 55: 7500, 56: 1000, 57: 2000,
               58: 7500}


def afp_family_signal(d: int) -> np.ndarray:
    """One doc's near-dup family signal (the construction above):
    65 blocks of 64 alternating-sign samples at splitmix64-mixed,
    pinned-anchor amplitudes, swapped pair for d % 10 == 5, scaled
    1 + d % 3. ONE definition — shared by dedup_audio_fingerprint and
    mm_audio_curation so their closed-form pair/funnel oracles can
    never diverge (review finding)."""
    base = d // 10
    amps = np.array(
        [
            100 + _splitmix64(base * N_BUCKETS + b) % _AFP_AMP_CAP
            for b in range(N_BUCKETS)
        ],
        dtype=np.int64,
    )
    for b, a in _AFP_PINNED.items():
        amps[b] = a
    if d % 10 == 5:
        amps[0], amps[1] = amps[1], amps[0]
        amps[56], amps[57] = amps[57], amps[56]
    amps = amps * (1 + d % 3)  # scale: fingerprint-invariant
    sig = np.repeat(amps, 64)
    sig[1::2] *= -1  # alternating sign: no DC
    return sig


# ---------------------------------------------------------------------------
# Video keyframe detection — scene cuts from frame-difference energy
# ---------------------------------------------------------------------------

_KEYFRAME_ORACLE = """
SELECT doc_id,
       CAST(6 + doc_id % 7 AS INT) AS n_frames,
       CAST(1 + (5 + doc_id % 7) // (2 + doc_id % 3) AS INT)
           AS n_keyframes,
       CAST(2 + doc_id % 3 AS INT) AS first_cut,
       TRUE AS detect_ok
FROM documents
"""


@register(
    "mm_video_keyframes",
    _KEYFRAME_ORACLE,
    doc="Video keyframe (scene-cut) detection — the sampling stage a "
    "vision-language corpus runs after demux (keyframes are what gets "
    "captioned; decoding every frame of 100 TB of video is the cost "
    "to avoid): per doc an AVI-MJPEG container (operators/video.py + "
    "jpeg.py, the mm_video_frames fixture discipline) holds 6 + d%7 "
    "frames cut into scenes of length 2 + d%3 — frames are identical "
    "within a scene and jump a full channel step across cuts, so the "
    "integer frame-difference energy is EXACTLY zero within scenes "
    "(identical JPEG bytes decode identically, lossiness cancels) and "
    "large across them. A frame is a keyframe iff it opens the stream "
    "or its diff energy exceeds 8x the pixel count. n_keyframes and "
    "the first cut position are closed-form in doc_id; detect_ok "
    "additionally demands zero in-scene energy and geometry match. "
    "One narrow mapInArrow stage, zero shuffle — demux byte-walk + "
    "one decode per frame, linear in corpus bytes.",
)
def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_detect(d):
        n_frames = 6 + d % 7
        scene_len = 2 + d % 3
        w, h = 8 + d % 9, 8 + d % 5
        # frames within a scene are pixel-identical BY
        # CONSTRUCTION (the zero in-scene energy property
        # depends on it), so encode each scene once and reuse
        # the bytes (review finding: 2-4x fewer encodes)
        scene_jpegs: dict[int, bytes] = {}
        jpegs = []
        for k in range(n_frames):
            scene = k // scene_len
            if scene not in scene_jpegs:
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = np.arange(w, dtype=np.uint8)[
                    None, :
                ]
                px[:, :, 1] = (40 * scene) % 256
                px[:, :, 2] = d % 256
                scene_jpegs[scene] = encode_jpeg(px)
            jpegs.append(scene_jpegs[scene])
        parsed = parse_avi_mjpeg(
            encode_avi_mjpeg(jpegs, w, h, fps=12)
        )
        pixels = [
            decode_jpeg(fr)[2].astype(np.int64)
            for fr in parsed["frames"]
        ]
        energies = [
            int(np.abs(pixels[k] - pixels[k - 1]).sum())
            for k in range(1, len(pixels))
        ]
        thresh = 8 * w * h
        keyframes = [0] + [
            k
            for k in range(1, len(pixels))
            if energies[k - 1] > thresh
        ]
        expected = [0] + [
            k
            for k in range(1, n_frames)
            if k % scene_len == 0
        ]
        in_scene_zero = all(
            e == 0
            for k, e in enumerate(energies, start=1)
            if k % scene_len != 0
        )
        ok = (
            keyframes == expected
            and in_scene_zero
            and parsed["width"] == w
            and parsed["height"] == h
            and len(pixels) == n_frames
        )
        yield (
            d,
            len(pixels),
            len(keyframes),
            keyframes[1] if len(keyframes) > 1 else -1,
            bool(ok),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        synth_and_detect,
        "doc_id long, n_frames int, n_keyframes int, first_cut int, "
        "detect_ok boolean",
    )


# ---------------------------------------------------------------------------
# Image quality gate — the pre-filter of image-corpus curation
# ---------------------------------------------------------------------------

_IMGQ_ORACLE = """
WITH dims AS (
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 2 WHEN 1 THEN 40 WHEN 2 THEN 8
                ELSE CAST(4 + doc_id % 13 AS INT) END AS width,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 8
                ELSE CAST(4 + doc_id % 7 AS INT) END AS height,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 16 WHEN 1 THEN 240 WHEN 2 THEN 0
                ELSE CAST(16 * greatest(3 + doc_id % 13, 3 + doc_id % 7)
                          AS INT) END AS px_range
    FROM documents
)
SELECT doc_id, CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       CAST(px_range AS INT) AS px_range,
       least(width, height) >= 4 AS r_min_dim,
       greatest(width, height) <= 8 * least(width, height) AS r_aspect,
       px_range >= 8 AS r_not_constant,
       (least(width, height) >= 4
        AND greatest(width, height) <= 8 * least(width, height)
        AND px_range >= 8) AS image_keep
FROM dims
"""


@register(
    "mm_image_quality",
    _IMGQ_ORACLE,
    doc="Image quality gate — the LAION/DataComp-style pre-filter an "
    "image corpus runs BEFORE expensive captioning/embedding: minimum "
    "dimension >= 4, aspect ratio <= 8 (integer cross-multiplied), "
    "and non-degenerate content (max per-channel pixel range >= 8 — "
    "rejects solid-color placeholders). Per doc a REAL payload "
    "(encoded and decoded through the engine's own BMP/PPM/PNG "
    "codecs) lands on a closed-form defect schedule: every 5th doc "
    "too tiny, every 5th+1 a 10:1 banner, every 5th+2 a solid fill; "
    "the rest healthy gradients. Dims and ranges come from the "
    "DECODED pixels, so only a correct decode passes. Flags are "
    "column expressions over one narrow mapInArrow stage — zero "
    "shuffle, linear in corpus bytes; composes ahead of "
    "dedup_image_phash the way the text gates feed the funnel.",
)
def mm_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(d):
        leg = d % 5
        if leg == 0:
            w, h = 2, 2
        elif leg == 1:
            w, h = 40, 4
        elif leg == 2:
            w, h = 8, 8
        else:
            # height floor 4 so every healthy leg PASSES all
            # gates (review finding: 3 + d%7 let ~14% of
            # "healthy" docs fail r_min_dim, muddying the
            # fixture's defect schedule)
            w, h = 4 + d % 13, 4 + d % 7
        px = np.zeros((h, w, 3), dtype=np.uint8)
        if leg == 2:
            px[:, :, :] = d % 256  # solid placeholder
        else:
            x = (16 * np.arange(w, dtype=np.int64)) % 256
            y = (16 * np.arange(h, dtype=np.int64)) % 256
            px[:, :, 0] = x[None, :].astype(np.uint8)
            px[:, :, 1] = y[:, None].astype(np.uint8)
            px[:, :, 2] = d % 256
        enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
        dec = decode_pixels(enc(px))[3]
        dh, dw = dec.shape[0], dec.shape[1]
        rng = max(
            int(dec[:, :, c].max()) - int(dec[:, :, c].min())
            for c in range(dec.shape[2])
        )
        yield d, dw, dh, rng

    ids = t(spark, sf_dir, "documents").select("doc_id")
    measured = map_rows(
        ids,
        synth_and_measure,
        "doc_id long, width int, height int, px_range int",
    )
    r_min = F.least("width", "height") >= 4
    r_aspect = F.greatest("width", "height") <= 8 * F.least(
        "width", "height"
    )
    r_const = F.col("px_range") >= 8
    return measured.select(
        "doc_id", "width", "height", "px_range",
        r_min.alias("r_min_dim"),
        r_aspect.alias("r_aspect"),
        r_const.alias("r_not_constant"),
        (r_min & r_aspect & r_const).alias("image_keep"),
    )


# ---------------------------------------------------------------------------
# Shared curation-funnel tail + audio defect fixtures
# ---------------------------------------------------------------------------


def _curation_funnel(
    measured: DataFrame, quality, hash_col: str, aligned=None
):
    """The shared tail of the mm_* curation composites: apply the
    quality gate, collapse near-duplicates via the banded 64-bit hash
    join (lowest id kept), and roll up the per-source funnel. One
    definition so a change to the removal/anti-join/report logic can
    never leave a sibling composite stale (review finding).

    `aligned` (optional boolean Column over `measured`) inserts the
    image-text alignment stage between the quality gate and the
    near-dup join (the LAION funnel order: cheap gates before the
    banded pair join); the report then carries an extra
    n_caption_aligned column counting quality survivors that also
    pass alignment."""
    gate = quality if aligned is None else (quality & aligned)
    survivors = measured.filter(gate).select(
        "doc_id", "source", hash_col
    )
    removed = (
        dhash_pairs(
            survivors.select("doc_id", hash_col),
            hash_col=hash_col,
            max_dist=2,
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = survivors.join(removed, "doc_id", "left_anti")
    stage_cols = [
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
    ]
    if aligned is not None:
        stage_cols.append(
            F.sum(gate.cast("int"))
            .cast("bigint")
            .alias("n_caption_aligned")
        )
    agg_flags = measured.groupBy("source").agg(*stage_cols)
    agg_kept = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_near_unique")
    )
    mid = ["n_quality_pass"] + (
        ["n_caption_aligned"] if aligned is not None else []
    )
    return agg_flags.join(agg_kept, "source", "left").select(
        "source", "n_docs", *mid,
        F.coalesce(F.col("n_near_unique"), F.lit(0))
        .cast("bigint")
        .alias("n_near_unique"),
    )


def _audio_defect_signal(d: int):
    """The defect legs of mm_audio_quality's closed-form schedule
    (doc_id % 5): 0 → 50-frame stub, 1 → 90%-silent pad, 2 →
    full-scale square. Returns None for healthy docs. ONE definition —
    mm_audio_curation's funnel oracle is only valid while these
    constants match mm_audio_quality's byte-for-byte (review
    finding)."""
    leg = d % 5
    if leg == 0:
        t_ = np.arange(50, dtype=np.float64)
        return np.floor(
            6000.0 * np.sin(2.0 * np.pi * t_ / 64.0) + 0.5
        ).astype(np.int64)
    if leg == 1:
        t_ = np.arange(64, dtype=np.float64)
        tail = np.floor(
            6000.0 * np.sin(2.0 * np.pi * t_ / 64.0) + 0.5
        ).astype(np.int64)
        return np.concatenate([np.zeros(576, dtype=np.int64), tail])
    if leg == 2:
        sig = np.full(640, 32767, dtype=np.int64)
        sig[1::2] = -32767
        return sig
    return None


# ---------------------------------------------------------------------------
# Image-corpus curation composite — quality gate → near-dup → funnel
# ---------------------------------------------------------------------------

# The alignment stage is computed from the embeddings table with the
# same integer math as mm_caption_alignment — the shared CTE chain in
# operators/caption.py, so the two oracles can never silently diverge
# (review finding). Documents without an embedding pair fail the gate
# (fail-closed — at sf0.1 the embeddings fixture covers only a prefix
# of the corpus). The near-dup survivor set stays closed-form because
# the misaligned schedule (CAP_MISALIGNED_* = id % 10 == 7) never
# touches the family minimum (leg 0) and legs 8/9 already fail the
# quality gate — a family still collapses to its leg-0 doc.
def _img_curation_oracle() -> str:
    return f"""
WITH {caption_cte_chain()},
flags AS (
    SELECT d.doc_id, d.source,
           d.doc_id % 10 NOT IN (8, 9) AS quality_pass,
           COALESCE(a.aligned, FALSE) AS aligned
    FROM documents d LEFT JOIN cap_al a ON d.doc_id = a.vec_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN quality_pass AND aligned THEN 1 ELSE 0 END)
           AS BIGINT) AS n_caption_aligned,
       CAST(SUM(CASE WHEN doc_id % 10 = 0 AND aligned THEN 1 ELSE 0 END)
           AS BIGINT) AS n_near_unique
FROM flags GROUP BY source
"""


_IMG_CURATION_ORACLE = _img_curation_oracle()


@register(
    "mm_image_curation",
    _IMG_CURATION_ORACLE,
    doc="End-to-end image-corpus curation as ONE query — the image "
    "twin of web_corpus_curation: per doc a REAL encoded payload "
    "(dedup_image_phash's near-dup families via the shared "
    "_phash_family_pixels, except every 8th-of-10 doc is a solid "
    "placeholder and every 9th-of-10 a 2x2 thumbnail), then ONE "
    "decode pass measures the quality evidence (dims, per-channel "
    "pixel range) AND the 64-bit dHash together — decode once, "
    "feed every stage, the cost rule of a 100 TB media corpus. The "
    "quality gate (mm_image_quality's rules) drops the placeholders "
    "and thumbnails BEFORE the banded near-dup join (filter-before-"
    "expensive, as the text funnel orders its stages); surviving "
    "family variants collapse to the lowest id via the pigeonhole-"
    "banded pair join + left-anti removal; the per-source funnel "
    "reports docs → quality survivors → caption-aligned → "
    "near-unique. The alignment stage (r11) is mm_caption_alignment's "
    "integer CLIP-score gate joined in by doc_id (fail-closed for "
    "docs without an embedding pair) and applied BEFORE the banded "
    "near-dup join — the LAION funnel order; the oracle recomputes "
    "the gate from the embeddings table with the same integer math.",
)
def mm_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(d, source):
        leg = d % 10
        if leg == 8:
            px = np.full((8, 9, 3), d % 256, dtype=np.uint8)
        elif leg == 9:
            px = np.zeros((2, 2, 3), dtype=np.uint8)
            px[:, :, 0] = (16 * np.arange(2))[None, :]
        else:
            px = _phash_family_pixels(d)
        enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
        dec = decode_pixels(enc(px))[3]
        rng = max(
            int(dec[:, :, c].max()) - int(dec[:, :, c].min())
            for c in range(dec.shape[2])
        )
        yield d, source, dec.shape[1], dec.shape[0], rng, dhash64(dec)

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = map_rows(
        docs,
        synth_and_measure,
        "doc_id long, source string, width int, height int, "
        "px_range int, dhash long",
    ).localCheckpoint(eager=False)
    quality = (
        (F.least("width", "height") >= 4)
        & (F.greatest("width", "height") <= 8 * F.least("width", "height"))
        & (F.col("px_range") >= 8)
    )
    align = caption_pair_stats(
        t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ).select("vec_id", "aligned")
    with_align = measured.join(
        align, measured["doc_id"] == align["vec_id"], "left"
    ).select(
        measured["doc_id"],
        "source",
        "width",
        "height",
        "px_range",
        "dhash",
        F.coalesce("aligned", F.lit(False)).alias("aligned"),
    )
    return _curation_funnel(
        with_align, quality, "dhash", aligned=F.col("aligned")
    )


# ---------------------------------------------------------------------------
# Audio quality gate — duration / silence / clipping pre-filter
# ---------------------------------------------------------------------------

_AUDIOQ_ORACLE = """
WITH m AS (
    SELECT doc_id,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 50 WHEN 1 THEN 640 WHEN 2 THEN 640
                ELSE 64 * (13 + CAST(doc_id % 7 AS INT)) END AS n_frames,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 0 THEN 2 WHEN 1 THEN 578 WHEN 2 THEN 0
                ELSE 2 * (13 + CAST(doc_id % 7 AS INT)) END AS n_silent,
           CASE CAST(doc_id % 5 AS INT)
                WHEN 2 THEN 640 ELSE 0 END AS n_clipped
    FROM documents
)
SELECT doc_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_silent AS BIGINT) AS n_silent,
       CAST(n_clipped AS BIGINT) AS n_clipped,
       n_frames >= 400 AS r_duration,
       2 * n_silent <= n_frames AS r_silence,
       100 * n_clipped <= n_frames AS r_clipping,
       (n_frames >= 400 AND 2 * n_silent <= n_frames
        AND 100 * n_clipped <= n_frames) AS audio_keep
FROM m
"""


@register(
    "mm_audio_quality",
    _AUDIOQ_ORACLE,
    doc="Audio quality gate — the pre-filter a speech/audio corpus "
    "runs before transcription or fingerprinting: minimum duration "
    "(>= 400 frames), silence ratio (near-zero samples <= 50%), and "
    "clipping ratio (full-scale samples <= 1%), each an integer "
    "cross-multiplication over counts measured on the DECODED "
    "samples after a real PCM16 WAV round-trip. The fixture schedule "
    "is closed-form in doc_id: every 5th doc a 50-frame stub, every "
    "5th+1 a 90%-silent pad, every 5th+2 a full-scale square wave "
    "(100% clipped); healthy docs are integer-bin tones whose "
    "near-zero count is exactly 2 per 64-sample period (the zero "
    "crossings), so every count the engine measures is stated "
    "exactly by the oracle. One narrow mapInArrow stage, zero "
    "shuffle — composes ahead of dedup_audio_fingerprint the way "
    "mm_image_quality feeds mm_image_curation.",
)
def mm_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(d):
        sig = _audio_defect_signal(d)
        if sig is None:
            n = 64 * (13 + d % 7)
            t_ = np.arange(n, dtype=np.float64)
            sig = np.floor(
                6000.0 * np.sin(2.0 * np.pi * t_ / 64.0) + 0.5
            ).astype(np.int64)
        out = decode_wav(encode_wav(sig[:, None], 16000, width=2))
        x = out["samples"][:, 0].astype(np.int64)
        yield (
            d,
            len(x),
            int((np.abs(x) < 16).sum()),
            int((np.abs(x) >= 32760).sum()),
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    m = map_rows(
        ids,
        synth_and_measure,
        "doc_id long, n_frames long, n_silent long, n_clipped long",
    )
    r_dur = F.col("n_frames") >= 400
    r_sil = 2 * F.col("n_silent") <= F.col("n_frames")
    r_clip = 100 * F.col("n_clipped") <= F.col("n_frames")
    return m.select(
        "doc_id", "n_frames", "n_silent", "n_clipped",
        r_dur.alias("r_duration"),
        r_sil.alias("r_silence"),
        r_clip.alias("r_clipping"),
        (r_dur & r_sil & r_clip).alias("audio_keep"),
    )


# ---------------------------------------------------------------------------
# Audio-corpus curation composite — quality gate → near-dup → funnel
# ---------------------------------------------------------------------------

# Fixture: doc_id % 5 picks mm_audio_quality's defect schedule (50-
# frame stub / 90%-silent pad / full-scale square), which maps onto
# the d//10 fingerprint families as: members d%10 in {0,5} short,
# {1,6} silent, {2,7} clipped — leaving exactly the four healthy
# members {3,4,8,9}, which carry the SAME energy profile at doc-
# varying amplitude scale (the dedup_audio_fingerprint construction
# minus its swapped variant, which falls on defective member 5).
# Survivors therefore collapse to the family minimum 10*f + 3.

_AUDIO_CURATION_ORACLE = """
WITH flags AS (
    SELECT doc_id, source,
           doc_id % 5 >= 3 AS quality_pass,
           doc_id % 10 = 3 AS kept
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_unique
FROM flags GROUP BY source
"""


@register(
    "mm_audio_curation",
    _AUDIO_CURATION_ORACLE,
    doc="End-to-end audio-corpus curation as ONE query — the audio "
    "member of the curation-composite trio beside web_corpus_curation "
    "and mm_image_curation: per doc a REAL PCM16 WAV (defective legs "
    "from mm_audio_quality's schedule; healthy legs the amplitude-"
    "scaled energy-profile families of dedup_audio_fingerprint), "
    "decoded ONCE to measure the quality evidence (duration, silence, "
    "clipping counts) AND the 64-bit energy fingerprint together. "
    "The quality gate drops stubs/silence/clipping BEFORE the banded "
    "near-dup join (filter-before-expensive); surviving family "
    "variants collapse to the lowest id; the per-source funnel "
    "reports docs → quality survivors → near-unique, all closed-form "
    "in doc_id so the oracle states the whole funnel exactly. One "
    "narrow Arrow stage + the band-bucketed equi-join — never "
    "all-pairs, linear in corpus bytes.",
)
def mm_audio_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(d, source):
        sig = _audio_defect_signal(d)
        if sig is None:
            sig = afp_family_signal(d)
        out = decode_wav(encode_wav(sig[:, None], 16000, width=2))
        x = out["samples"][:, 0].astype(np.int64)
        n = len(x)
        # NULL, not 0, for un-fingerprintable clips: 0 is a
        # legitimate fingerprint (all non-increasing block
        # energies), and NULL keys can never equi-join, so a
        # sentinel can never merge unrelated docs even if the
        # duration gate stops excluding them (r10 ADVICE).
        yield (
            d,
            source,
            n,
            int((np.abs(x) < 16).sum()),
            int((np.abs(x) >= 32760).sum()),
            audio_fingerprint64(x) if n >= N_BUCKETS else None,
        )

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = map_rows(
        docs,
        synth_and_measure,
        "doc_id long, source string, n_frames long, n_silent long, "
        "n_clipped long, afp long",
    ).localCheckpoint(eager=False)
    quality = (
        (F.col("n_frames") >= 400)
        & (2 * F.col("n_silent") <= F.col("n_frames"))
        & (100 * F.col("n_clipped") <= F.col("n_frames"))
    )
    return _curation_funnel(measured, quality, "afp")


# ---------------------------------------------------------------------------
# Video-corpus curation composite — gates → keyframe near-dup → funnel
# ---------------------------------------------------------------------------

# Fixture: family f = d//10 re-uploads the SAME clip (frame 0 built
# from family-only parameters → byte-identical MJPEG → identical
# decoded pixels → keyframe dHash distance 0 — robust to the lossy
# codec because the bytes never differ); member d%10 == 5 is a
# DIFFERENT clip (disjoint pattern space) that must survive as its
# own unique item. Defects: member 8 has a single frame (fails the
# min-frame gate), member 9 is a 2x2 thumbnail clip (fails min-dim).
# Survivors collapse to the family minimum 10*f plus the distinct
# member 10*f + 5.

_VIDEO_CURATION_ORACLE = """
WITH flags AS (
    SELECT doc_id, source,
           doc_id % 10 NOT IN (8, 9) AS quality_pass,
           doc_id % 10 IN (0, 5) AS kept
    FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
           AS n_near_unique
FROM flags GROUP BY source
"""


@register(
    "mm_video_curation",
    _VIDEO_CURATION_ORACLE,
    doc="End-to-end video-corpus curation as ONE query — completing "
    "the curation-composite quartet (text: web_corpus_curation, "
    "image: mm_image_curation, audio: mm_audio_curation): per doc a "
    "REAL AVI-MJPEG clip (operators/video.py + jpeg.py) is demuxed "
    "ONCE; the same pass measures the quality evidence (frame count, "
    "resolution from the stream headers) AND decodes ONLY frame 0 "
    "for its 64-bit keyframe dHash — decode-once-feed-every-stage, "
    "and never more than the keyframe (the 100 TB video cost rule). "
    "Gates (>= 2 frames, min dimension >= 4) drop stubs and "
    "thumbnails BEFORE the banded near-dup join; re-uploaded clips "
    "collapse to the lowest id while genuinely distinct clips "
    "survive. Every funnel count is closed-form in doc_id. One "
    "narrow Arrow stage + the band-bucketed equi-join — linear in "
    "corpus bytes.",
)
def mm_video_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    def family_frame(pat: int, w: int, h: int, shift: int):
        # vectorized splitmix64 (numpy uint64 wraps mod 2^64 like
        # the scalar mask) — the python double loop here was the
        # sf1 leg's entire cost (~48M scalar mix calls)
        with np.errstate(over="ignore"):
            v = np.uint64((pat * 10007) & ((1 << 64) - 1)) + np.arange(
                h * w, dtype=np.uint64
            )
            v = v * np.uint64(0x9E3779B97F4A7C15)
            v ^= v >> np.uint64(29)
            v = v * np.uint64(0xBF58476D1CE4E5B9)
            v ^= v >> np.uint64(32)
        gray = ((v % np.uint64(200)).astype(np.int64) + shift) % 256
        px = np.repeat(
            gray.reshape(h, w).astype(np.uint8)[:, :, None], 3, axis=2
        )
        return px

    # family siblings re-encode the SAME frames (same pattern, dims,
    # shift) — memoize per task so each distinct frame is rendered +
    # JPEG-encoded once, not once per member; cleared when it reaches
    # roughly one Arrow batch's worth of frames, so memory stays bounded
    frame_cache: dict[tuple, bytes] = {}

    def cached_jpeg(pat, w, h, shift):
        key = (pat, w, h, shift)
        if key not in frame_cache:
            if len(frame_cache) >= 1 << 14:
                frame_cache.clear()
            frame_cache[key] = encode_jpeg(family_frame(pat, w, h, shift))
        return frame_cache[key]

    def synth_and_measure(d, source):
        fam = d // 10
        leg = d % 10
        pat = fam + 1_000_003 if leg == 5 else fam
        if leg == 9:
            w, h, n_frames = 2, 2, 3
        else:
            w = 9 + fam % 8
            h = 8 + fam % 5
            n_frames = 1 if leg == 8 else 2 + d % 7
        jpegs = [
            cached_jpeg(pat, w, h, 16 * k)
            for k in range(n_frames)
        ]
        parsed = parse_avi_mjpeg(
            encode_avi_mjpeg(jpegs, w, h, fps=12)
        )
        key_px = decode_jpeg(parsed["frames"][0])[2]
        yield (
            d,
            source,
            len(parsed["frames"]),
            parsed["width"],
            parsed["height"],
            dhash64(key_px),
        )

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = map_rows(
        docs,
        synth_and_measure,
        "doc_id long, source string, n_frames long, width int, "
        "height int, dhash long",
    ).localCheckpoint(eager=False)
    quality = (F.col("n_frames") >= 2) & (
        F.least("width", "height") >= 4
    )
    return _curation_funnel(measured, quality, "dhash")


# ---------------------------------------------------------------------------
# Image-text (caption) alignment — the CLIP-score gate of LAION-style
# image-corpus curation
# ---------------------------------------------------------------------------
_CAPTION_ORACLE = f"""
WITH {caption_cte_chain()}
SELECT vec_id, dot_q, norm_img_q, norm_cap_q, caption_rotated, aligned
FROM cap_al
"""


@register(
    "mm_caption_alignment",
    _CAPTION_ORACLE,
    doc="Image-text alignment gate — the CLIP-score filter of "
    "LAION-style image-corpus curation (Schuhmann et al. 2021 keep "
    "pairs with CLIP cosine >= threshold): per doc, the cosine "
    "between the paired image and caption embeddings decides whether "
    "the caption describes the image. Both embeddings live in the "
    "SAME row (co-located by id), so the whole gate is one "
    "shuffle-free projection — at 100 TB the pair table streams "
    "once, no join, no state. Determinism: components quantize to "
    "floor(x*1000) integers; the caption derives from the image "
    "vector by integer jitter (aligned) or a 32-position rotation "
    "(misaligned schedule), and the threshold is the integer "
    "cross-multiplication 25*dot^2 >= 16*|i|^2*|c|^2 with dot > 0 "
    "(cos >= 0.8) — bit-identical on both engines, no float ever "
    "decides. Math, constants, and the oracle CTE chain live in "
    "operators/caption.py, shared with mm_image_curation\'s funnel "
    "so the two can never silently diverge.",
)
def mm_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return caption_pair_stats(emb)


# ---------------------------------------------------------------------------
# mm_phash_threshold_sweep — image near-dup fence calibration
# ---------------------------------------------------------------------------

_PHS_DISTS = (0, 1, 2, 3)  # pigeonhole-exact regime for 4x16-bit bands


_PHS_ORACLE = f"""
WITH fam AS (
    SELECT CAST(CASE WHEN (a.doc_id % 10 = 5) <> (b.doc_id % 10 = 5)
                THEN 2 ELSE 0 END AS INT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
),
d(max_dist) AS (VALUES {", ".join(f"({d})" for d in _PHS_DISTS)})
SELECT d.max_dist,
       CAST(COUNT(*) FILTER (WHERE fam.hamming <= d.max_dist) AS BIGINT)
           AS n_pairs,
       CAST(COUNT(*) FILTER (WHERE fam.hamming <= d.max_dist
                             AND fam.hamming > 0) AS BIGINT)
           AS n_nonexact_pairs
FROM fam CROSS JOIN d
GROUP BY d.max_dist
"""


@register(
    "mm_phash_threshold_sweep",
    _PHS_ORACLE,
    doc="Image near-dup fence calibration: pair volume at Hamming "
    "thresholds 0-3 over the REAL codec->dHash pipeline (the same "
    "payload synthesis, BMP/PPM/PNG encode, 64-bit block-mean dHash "
    "and banded join as dedup_image_phash, computed ONCE at the "
    "pigeonhole-exact max_dist=3 and re-aggregated per fence) — the "
    "multimodal twin of dedup_minhash_band_sweep / "
    "dedup_threshold_sweep's measure-the-knob discipline: threshold "
    "0 captures the brightness/upscale copies (hash-invariant by "
    "construction), 2 adds the two-cell-swapped variants, and the "
    "marginal pairs per fence step IS the precision cost of loosening "
    "it. The oracle enumerates expected distances closed-form from "
    "the doc_id family construction. All thresholds stay inside the "
    "4x16-band pigeonhole guarantee, so banding loses nothing at any "
    "fence in the sweep.",
)
def mm_phash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = image_dhashes(spark, sf_dir)
    pairs = dhash_pairs(hashes, max_dist=max(_PHS_DISTS)).localCheckpoint(
        eager=True
    )
    out = None
    for d in _PHS_DISTS:
        leg = pairs.agg(
            F.lit(d).cast("int").alias("max_dist"),
            F.sum((F.col("hamming") <= d).cast("int"))
            .cast("bigint")
            .alias("n_pairs"),
            F.sum(
                ((F.col("hamming") <= d) & (F.col("hamming") > 0)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_nonexact_pairs"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out
