"""Round-9 query batch: new operator families only — image
near-duplicate detection (perceptual dHash over the engine's real
decoders, Hamming-banded candidate join) and the end-to-end web-corpus
curation composite (WARC ingestion → strip → language/quality gates →
dedup → funnel report, one scan feeding every stage).

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float aggregation, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
treats media as opaque blobs and ingests curated CSV/JSON — both
batches here extend the engine's LLM-training-pipeline surface beyond
reference parity (the declared SURVEY §7 growth direction), composing
operators that are each already oracle-proven.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    register,
    t,
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


def _phash_payload_batch():
    """mapInPandas fn: doc_id → a REAL encoded image payload from the
    near-dup family construction above."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from evolution_data_warehouse_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                px = _phash_family_pixels(d)
                enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
                payloads.append(enc(px))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                }
            )

    return gen


_PHASH_ORACLE = """
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(CASE WHEN (a.doc_id % 10 = 5) <> (b.doc_id % 10 = 5)
                 THEN 2 ELSE 0 END AS INT) AS hamming
FROM documents a
JOIN documents b
  ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
"""


@register(
    "dedup_image_phash",
    _PHASH_ORACLE,
    doc="Image near-duplicate detection (operators/phash.py): per-doc "
    "REAL image payloads (near-dup families closed-form in doc_id, "
    "encoded through the engine's own BMP/PPM/PNG codecs) → 64-bit "
    "perceptual difference hash (integer block-mean dHash — exactly "
    "invariant to the family's brightness/upscale variations) → "
    "Hamming-banded candidate join (4x16-bit bands, pigeonhole-exact "
    "recall for distance<=3, default-ON hot-bucket guard) → JVM-side "
    "bit_count(XOR) verification. Two narrow Arrow stages + one "
    "band-bucketed equi-join — never all-pairs; the brightness-shifted "
    "copies land at distance 0 and the two-cell-swapped variants at "
    "exactly distance 2, so the oracle enumerates the expected pairs "
    "in closed form.",
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.phash import (
        dhash_pairs,
        image_dhash_batch,
    )

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    payloads = ids.mapInPandas(
        _phash_payload_batch(), "doc_id long, payload binary"
    )
    hashes = payloads.mapInPandas(
        image_dhash_batch(), "doc_id long, dhash long"
    )
    return dhash_pairs(hashes, max_dist=2)


# ---------------------------------------------------------------------------
# End-to-end web-corpus curation: WARC → strip → gates → dedup → report
# ---------------------------------------------------------------------------

_HTML_PREFIX = '<div class="post"><p>'
_HTML_SUFFIX = "</p><br/>&amp; <b>more</b></div>"


def _warc_html_batch():
    """mapInPandas fn: wrap each document in deterministic HTML, mux it
    into a Common Crawl-layout WARC (warcinfo + response, each record
    its own gzip member), parse the archive back, and emit the text the
    PARSER recovered — downstream gates consume what came out of the
    WARC path, not the original column, so the whole ingestion stack is
    on the hook for every row."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for doc_id, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                d = int(doc_id)
                body = "" if text is None else str(text)
                html = f"{_HTML_PREFIX}{body}{_HTML_SUFFIX}"
                payload = html.encode("utf-8")
                data = build_warc(
                    [
                        ("warcinfo", "", b"software: engine\r\n"),
                        ("response", f"http://corpus.local/doc/{d}", payload),
                    ],
                    per_record_gzip=True,
                )
                recs = parse_warc(data)
                resp = recs[-1]
                ok = (
                    len(recs) == 2
                    and resp["type"] == "response"
                    and resp["payload"] == payload
                )
                rows.append(
                    {
                        "doc_id": d,
                        "lang": lang,
                        "source": source,
                        "html": resp["payload"].decode("utf-8"),
                        "warc_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    return fn


#: the funnel's Gopher word-count floor — the corpus-tuned bound the
#: module documents (the synthetic documents run 10-99 words; the
#: published 50 floor is a web-scale default), aligned with the
#: funnel's existing n_tokens >= 20 quality gate.
_FUNNEL_GOPHER_MIN_WORDS = 20


def _web_funnel_oracle() -> str:
    from evolution_data_warehouse_spark.operators import textops
    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        N_MINHASH,
    )
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags_sql,
        gopher_metrics_sql,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _mh_sql_fragments,
    )

    langs = sorted(textops.STOPWORDS)
    score_cols = ", ".join(
        "CAST(len(list_filter(str_split(lower(ctext), ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in textops.STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    en = ", ".join(repr(w) for w in textops.STOPWORDS["en"])
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    f = _mh_sql_fragments()
    gm = gopher_metrics_sql("ctext", prefix="g_")
    gm_cols = ", ".join(f"{sql} AS {name}" for name, sql in gm.items())
    gpass = gopher_flags_sql(
        min_words=_FUNNEL_GOPHER_MIN_WORDS, prefix="g_"
    )["g_gopher_pass"]
    return f"""
WITH raw AS (
    SELECT doc_id, lang, source,
           '{_HTML_PREFIX}' || COALESCE(text, '') || '{_HTML_SUFFIX}' AS html
    FROM documents
),
clean AS (
    SELECT doc_id, lang, source,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''),
               ' +', ' ', 'g')) AS ctext
    FROM raw
),
staged AS (
    SELECT doc_id, lang, source, ctext,
           row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id)
               AS rn,
           CAST(len(str_split(ctext, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(str_split(lower(ctext), ' '),
                    x -> list_contains([{en}], x))) AS BIGINT) AS stop_hits,
           {score_cols},
           {gm_cols}
    FROM clean
),
flags AS (
    SELECT doc_id, source, ctext, n_tokens,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AND {gpass} AS gopher_pass
    FROM staged
),
gated AS (
    SELECT doc_id, source, ctext, n_tokens FROM flags WHERE gopher_pass
),
sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, str_split(lower(ctext), ' ') AS toks
              FROM gated)
    )
),
h AS (SELECT doc_id, {f["hm"]} AS hm FROM sh),
mh AS (SELECT doc_id, {f["mh_cols"]} FROM h GROUP BY doc_id),
bands_raw AS ({f["bands"]}),
bands AS (
    SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
        FROM bands_raw
    ) WHERE bucket_n <= {DEFAULT_MAX_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
removed AS (
    SELECT DISTINCT doc_b AS doc_id
    FROM cand
    JOIN mh sa ON doc_a = sa.doc_id
    JOIN mh sb ON doc_b = sb.doc_id
    WHERE CAST(({f["eq"]}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) >= 0.5
),
kept AS (
    SELECT g.source, g.n_tokens FROM gated g
    LEFT JOIN removed r ON g.doc_id = r.doc_id
    WHERE r.doc_id IS NULL
),
agg_flags AS (
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_warc_ok,
           CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_unique,
           CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_pass,
           CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang_match,
           CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher_pass
    FROM flags GROUP BY source
),
agg_kept AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_near_unique,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_final
    FROM kept GROUP BY source
)
SELECT a.source, a.n_docs, a.n_warc_ok, a.n_exact_unique,
       a.n_quality_pass, a.n_lang_match, a.n_gopher_pass,
       COALESCE(k.n_near_unique, 0) AS n_near_unique,
       COALESCE(k.n_tokens_final, 0) AS n_tokens_final
FROM agg_flags a LEFT JOIN agg_kept k ON a.source = k.source
"""


@register(
    "web_corpus_curation",
    _web_funnel_oracle(),
    doc="The actual Common Crawl workflow as ONE query: every document "
    "is wrapped in HTML, muxed into a per-record-gzip WARC "
    "(sources/warc.py, the ISO 28500 Common Crawl layout) and parsed "
    "back — downstream consumes the PARSER's output — then "
    "html-stripped (tag/entity column expressions, text_html_strip's "
    "chain), exact-deduped (content-hash window), quality-gated "
    "(integer cross-multiplied length + stopword density), "
    "language-verified (stopword argmax == label), Gopher-rule-gated "
    "(the complete published suite from operators/gopher.py — "
    "text_quality_gopher's rules as a drop-in funnel stage, word "
    "floor tuned to this corpus), MinHash-LSH "
    "near-deduped (operators/dedup.py's banded pair join with its "
    "default-ON hot-bucket guard, est_jaccard >= 0.5 removes the "
    "higher id), and rolled into the per-source curation funnel "
    "report. One WARC pass feeds every gate (the parsed frame is "
    "locally checkpointed — reclaimable blocks, not a session-pinned "
    "cache — and reused by the flag aggregate and the near-dup path); at "
    "100 TB the same plan reads member-boundary-split WARC files at "
    "record granularity with no shuffle before the funnel aggregate.",
)
def web_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators import textops
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags,
        gopher_metrics,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    parsed = docs.mapInPandas(
        _warc_html_batch(),
        "doc_id long, lang string, source string, html string, "
        "warc_ok boolean",
    )
    stripped = F.regexp_replace("html", "<[^>]*>", " ")
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")]:
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    ctext = F.trim(F.regexp_replace(stripped, " +", " "))
    w = W.partitionBy(F.md5("ctext")).orderBy("doc_id")
    scores = textops.lang_scores(F.col("ctext"))
    staged = (
        parsed.withColumn("ctext", ctext)
        .select(
            "doc_id", "lang", "source", "ctext", "warc_ok",
            F.row_number().over(w).alias("rn"),
            F.size(textops.tokens_ws(F.col("ctext")))
            .cast("bigint")
            .alias("n_tokens"),
            textops.stopword_hits(F.col("ctext"), textops.STOPWORDS["en"])
            .cast("bigint")
            .alias("stop_hits"),
            textops.predict_lang(scores).alias("pred_lang"),
        )
        # ONE WARC pass feeds the flag aggregate + the dedup path.
        # localCheckpoint, not cache: blocks are reclaimed when the
        # result is dropped instead of pinning the parsed corpus in the
        # CacheManager for the rest of the session (the lifecycle
        # dedup.py prescribes for composition into longer pipelines).
        .localCheckpoint(eager=False)
    )
    exact = F.col("rn") == 1
    quality = (
        exact
        & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    lang_match = quality & (F.col("pred_lang") == F.col("lang"))
    gm = gopher_metrics(F.col("ctext"))
    gopher_ok = gopher_flags(gm, min_words=_FUNNEL_GOPHER_MIN_WORDS)[
        "gopher_pass"
    ]
    gopher_gate = lang_match & gopher_ok
    gated = staged.filter(gopher_gate).select(
        "doc_id", "source", "ctext", "n_tokens"
    )
    toks = F.split(F.lower(F.col("ctext")), " ")
    n = F.size(toks)
    sh3 = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = gated.select(
        "doc_id", F.explode(F.array_distinct(sh3)).alias("shingle")
    )
    removed = (
        minhash_lsh_pairs(shingled, sig_storage="checkpoint")
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(removed, "doc_id", "left_anti")
    agg_flags = staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("warc_ok").cast("int")).cast("bigint").alias("n_warc_ok"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(lang_match.cast("int")).cast("bigint").alias("n_lang_match"),
        F.sum(gopher_gate.cast("int")).cast("bigint").alias("n_gopher_pass"),
    )
    agg_kept = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_near_unique"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_final"),
    )
    return agg_flags.join(agg_kept, "source", "left").select(
        "source", "n_docs", "n_warc_ok", "n_exact_unique",
        "n_quality_pass", "n_lang_match", "n_gopher_pass",
        F.coalesce(F.col("n_near_unique"), F.lit(0))
        .cast("bigint")
        .alias("n_near_unique"),
        F.coalesce(F.col("n_tokens_final"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


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
    "CPython ships (tests/data/audio). One narrow mapInPandas stage, "
    "no shuffle — linear in corpus bytes like every codec here.",
)
def mm_audio_companding(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            _ALAW_DEC,
            _ULAW_DEC,
            _ima_step,
            decode_wav,
            encode_wav_g711,
            encode_wav_ima,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
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
                rows.append(
                    {
                        "doc_id": d,
                        "codec": codec,
                        "sample_rate": np.int32(out["sample_rate"]),
                        "n_channels": np.int32(out["n_channels"]),
                        "n_frames": np.int32(out["samples"].shape[0]),
                        "roundtrip_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, codec string, sample_rate int, n_channels int, "
        "n_frames int, roundtrip_ok boolean",
    )


# ---------------------------------------------------------------------------
# Product quantization — compressed-domain ANN codes + ADC distance
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8
# TRAINED pinned codebooks (tools/train_pq.py: per-subspace Lloyd
# k-means over the sf0.01 embeddings, seeded) — the _PLANES
# discipline: a quantizer is a model artifact and ships as literals,
# which is also what makes the assignment oracle-checkable. Untrained
# random codebooks were measured first and rejected: on this table
# their ADC shortlist@50 covered 0% of the exact top-10, the trained
# ones cover 70% (shortlist@100: 90%) — pinned in test_properties.
from evolution_data_warehouse_spark.queries.pq_codebooks import (  # noqa: E402
    PQ_BOOKS as _PQ_BOOKS,
)

_PQ_QUERY = np.random.default_rng(99).normal(0, 0.125, 64).tolist()


# Shared SQL fragment builders for every PQ oracle (the
# _mh_sql_fragments discipline — one source of truth so the
# sim_pq_assign and sim_ivfpq_topk oracles cannot silently diverge).


def _pq_vdefs_sql() -> str:
    """The fixed-point embedding list (vq CTE column) every PQ oracle
    shares — the SQL mirror of pq_assign's floor(v*PQ_SCALE)."""
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
    )

    return (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
        f"{PQ_SCALE}.0) AS BIGINT)) AS vq"
    )


def _pq_dist_code_sql(
    qbooks: list, prefix: str
) -> tuple[list[str], list[str]]:
    """(distance-list defs, code defs) for one codebook set over the
    ``vq`` fixed-point list column; codebook j covers contiguous dims
    [j*dsub, (j+1)*dsub). List lambdas, NOT k flat per-centroid column
    expressions: the flat form cost DuckDB ~28 s of bind/execute per
    query (and minutes of Spark codegen engine-side before the twin
    rewrite in pq_assign). list_position's first-occurrence semantics
    are the same lowest-centroid-id tie-break as the engine."""
    dsub = len(qbooks[0][0])
    ddefs, codes = [], []
    for j, book in enumerate(qbooks):
        book_lit = (
            "["
            + ", ".join(
                "[" + ", ".join(str(int(c)) for c in cent) + "]"
                for cent in book
            )
            + "]"
        )
        ddefs.append(
            f"list_transform({book_lit}, cent -> list_sum("
            f"list_transform(cent, (cv, i) -> "
            f"(vq[{j * dsub} + i] - cv) * (vq[{j * dsub} + i] - cv))))"
            f" AS {prefix}l{j}"
        )
        codes.append(
            f"(list_position({prefix}l{j}, list_min({prefix}l{j})) - 1)"
            f" AS {prefix}code{j}"
        )
    return ddefs, codes


def _pq_adc_sql(lut: list[list[int]], prefix: str) -> str:
    return " + ".join(
        f"(CASE {prefix}code{j} "
        + " ".join(
            f"WHEN {c} THEN CAST({v} AS BIGINT)"
            for c, v in enumerate(row)
        )
        + " END)"
        for j, row in enumerate(lut)
    )


def _pq_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_quantize_codebooks,
    )

    ddefs, codes = _pq_dist_code_sql(
        pq_quantize_codebooks(_PQ_BOOKS), "d"
    )
    adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "d")
    packed = " + ".join(
        f"CAST(dcode{j} AS BIGINT) * {16 ** j}" for j in range(_PQ_M)
    )
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {", ".join(ddefs)} FROM v),
c AS (SELECT vec_id, {", ".join(codes)} FROM d)
SELECT vec_id,
       CAST({packed} AS BIGINT) AS code_packed,
       CAST({adc} AS BIGINT) AS adc_dist
FROM c
"""


@register(
    "sim_pq_assign",
    _pq_oracle(),
    doc="Product-quantization ANN codes + asymmetric (ADC) distance "
    "(operators/similarity.py::pq_assign; Jégou et al. 2011, "
    "arXiv-free public classic): 64-dim embeddings split into 8 "
    "subspaces, each snapped to its nearest of 16 pinned centroids in "
    "EXACT fixed-point int64 arithmetic (ties to the lowest id), "
    "packing every vector into ONE BIGINT — the ~32x compression that "
    "makes billion-scale ANN scans memory-resident. adc_dist is the "
    "query-to-vector distance reconstructed from the 8 per-subspace "
    "lookup tables (model-sized literals in the task closure) — 8 "
    "integer lookups per row instead of 64 multiplications, the "
    "compressed-domain scan. Pure projection: codegen end to end, no "
    "shuffle, no Python; measured ADC-vs-exact recall pinned in "
    "test_properties.",
)
def sim_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_assign_batch,
    )

    codes = pq_assign_batch(t(spark, sf_dir, "embeddings"), _PQ_BOOKS)
    lut = pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)
    packed = None
    adc = None
    for j in range(_PQ_M):
        pterm = F.col(f"code{j}").cast("bigint") * F.lit(16 ** j)
        packed = pterm if packed is None else packed + pterm
        aterm = F.element_at(
            F.array(*[F.lit(x).cast("bigint") for x in lut[j]]),
            F.col(f"code{j}") + 1,
        )
        adc = aterm if adc is None else adc + aterm
    return codes.select(
        "vec_id",
        packed.cast("bigint").alias("code_packed"),
        adc.cast("bigint").alias("adc_dist"),
    )


# ---------------------------------------------------------------------------
# Charset detection + decode — bytes → str for crawled payloads
# ---------------------------------------------------------------------------

_CHARSET_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8'
            WHEN 2 THEN 'utf-16-le' ELSE 'windows-1252' END AS charset,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf8-valid' WHEN 1 THEN 'bom'
            WHEN 2 THEN 'bom' ELSE 'meta' END AS method,
       CAST(CASE WHEN doc_id % 4 = 3
                 THEN 51 + length(CAST(doc_id AS VARCHAR))
                 ELSE length(COALESCE(text, '')) END AS BIGINT) AS n_chars,
       TRUE AS text_match
FROM documents
"""


@register(
    "web_charset_detect",
    _CHARSET_ORACLE,
    doc="Charset detection + decode (sources/charset.py) — the "
    "bytes-to-str step between WARC ingestion and every text "
    "operator, as the practical WHATWG sniff ladder: BOM (UTF-8 and "
    "UTF-16-LE payloads built per doc), meta-declared charset "
    "(windows-1252 pages carrying a real 0xE9 byte that strict UTF-8 "
    "would reject), and strict-UTF-8 validation for bare payloads. "
    "text_match demands the decoded string equal the original "
    "exactly; charset/method/char counts are closed-form in doc_id. "
    "decode_payload never raises — the fallback leg accepts every "
    "byte string, so this stage needs no quarantine at all. One "
    "narrow mapInPandas pass, zero shuffle.",
)
def web_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.sources.charset import (
            decode_payload,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                s = "" if text is None else str(text)
                leg = d % 4
                if leg == 0:
                    payload, expect = s.encode("utf-8"), s
                elif leg == 1:
                    payload = b"\xef\xbb\xbf" + s.encode("utf-8")
                    expect = s
                elif leg == 2:
                    payload = b"\xff\xfe" + s.encode("utf-16-le")
                    expect = s
                else:
                    # meta-declared legacy page with a genuine non-UTF-8
                    # byte (0xE9 = e-acute in cp1252) so the UTF-8
                    # validator could never claim it
                    expect = (
                        f'<meta charset="windows-1252"><p>café '
                        f"page {d} body</p>"
                    )
                    payload = expect.encode("windows-1252")
                charset, method, decoded = decode_payload(payload)
                rows.append(
                    {
                        "doc_id": d,
                        "charset": charset,
                        "method": method,
                        "n_chars": len(decoded),
                        "text_match": decoded == expect,
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_decode,
        "doc_id long, charset string, method string, n_chars long, "
        "text_match boolean",
    )


# ---------------------------------------------------------------------------
# Sitemap URL discovery — the crawl frontier source
# ---------------------------------------------------------------------------

_SITEMAP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN 'index' ELSE 'urlset' END AS kind,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE 1 + doc_id % 7 END AS BIGINT) AS n_entries,
       CASE WHEN doc_id % 10 = 0
            THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/sitemap/' || CAST(doc_id AS VARCHAR)
                 || '/0.xml'
            ELSE 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/page/' || CAST(doc_id AS VARCHAR)
                 || '/0' END AS first_loc,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE (2 + doc_id % 7) // 2 END AS BIGINT)
           AS n_with_lastmod,
       TRUE AS roundtrip_ok
FROM documents
"""


@register(
    "src_sitemap_urls",
    _SITEMAP_ORACLE,
    doc="Sitemap (sitemaps.org) URL discovery (sources/sitemap.py) — "
    "the third crawl-ingestion member beside WARC (archive format) "
    "and robots.txt (compliance): per doc a real sitemap XML is built "
    "and parsed back — every 10th doc a <sitemapindex> (the sharding "
    "mechanism the protocol mandates above 50k URLs), the rest "
    "<urlset> documents with per-URL lastmod on alternating entries. "
    "roundtrip_ok demands every parsed loc/lastmod equal what was "
    "built; entry counts, first loc, and lastmod coverage are "
    "closed-form in doc_id. The protocol's 50,000-entry cap is the "
    "parser's bomb guard, and malformed XML is ValueError-only — the "
    "same per-row quarantine contract as WARC. One narrow mapInPandas "
    "pass; sitemaps are independent rows, so discovery parallelizes "
    "at host granularity with no shuffle.",
)
def src_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mux_and_parse(batches):
        from evolution_data_warehouse_spark.sources.sitemap import (
            build_sitemap,
            build_sitemap_index,
            parse_sitemap,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                host = f"http://h{d % 5}.corpus.local"
                if d % 10 == 0:
                    built = [
                        {
                            "loc": f"{host}/sitemap/{d}/{i}.xml",
                            "lastmod": f"2026-0{1 + i}-01",
                        }
                        for i in range(2)
                    ]
                    data = build_sitemap_index(built)
                else:
                    n = 1 + d % 7
                    built = [
                        {
                            "loc": f"{host}/page/{d}/{i}",
                            "lastmod": (
                                f"2026-0{1 + i % 9}-15"
                                if i % 2 == 0
                                else None
                            ),
                            "priority": "0.5" if i == 0 else None,
                        }
                        for i in range(n)
                    ]
                    data = build_sitemap(built)
                parsed = parse_sitemap(data)
                entries = parsed["entries"]
                ok = len(entries) == len(built) and all(
                    e["loc"] == b["loc"]
                    and e.get("lastmod") == b.get("lastmod")
                    for e, b in zip(entries, built)
                )
                rows.append(
                    {
                        "doc_id": d,
                        "kind": parsed["kind"],
                        "n_entries": len(entries),
                        "first_loc": entries[0]["loc"],
                        "n_with_lastmod": sum(
                            1 for e in entries if e["lastmod"]
                        ),
                        "roundtrip_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        mux_and_parse,
        "doc_id long, kind string, n_entries long, first_loc string, "
        "n_with_lastmod long, roundtrip_ok boolean",
    )


# ---------------------------------------------------------------------------
# Main-content extraction — text-density boilerplate removal
# ---------------------------------------------------------------------------

_BLOCK_RX = "</?(?:p|li|ul|nav|footer|header|h1|div)[^>]*>"
_LINK_RX = "<a[^>]*>([^<]*)</a>"
_MAIN_MIN_CHARS = 25  # blocks shorter than this are chrome/junk
# keep iff 3*link_chars < text_chars (link density < 1/3) — integer
# cross-multiplied, no float boundary

_MAIN_PAGE_SQL = """
SELECT doc_id,
       '<nav><li><a href="/">Home</a></li><li><a href="/a">About</a>'
       || '</li></nav><h1>Title ' || CAST(doc_id AS VARCHAR)
       || '</h1><p>' || text || '</p><p>ad</p><footer>'
       || '<a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
           AS html
FROM documents
"""


def _main_content_oracle() -> str:
    return f"""
WITH pages AS ({_MAIN_PAGE_SQL}),
segs AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(parts) + 1)) AS INT) AS pos,
           unnest(parts) AS seg
    FROM (SELECT doc_id, str_split_regex(html, '{_BLOCK_RX}') AS parts
          FROM pages)
),
scored AS (
    SELECT doc_id, pos,
           trim(regexp_replace(regexp_replace(seg, '<[^>]*>', ' ', 'g'),
                ' +', ' ', 'g')) AS txt,
           -- COALESCE: DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' — an un-coalesced NULL silently
           -- fails the keep predicate for every linkless block
           COALESCE(length(array_to_string(
               regexp_extract_all(seg, '{_LINK_RX}', 1), '')), 0)
               AS link_chars
    FROM segs
),
kept AS (
    SELECT doc_id, pos, txt
    FROM scored
    WHERE length(txt) >= {_MAIN_MIN_CHARS}
      AND 3 * link_chars < length(txt)
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN k.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN k.pos IS NOT NULL
                         THEN length(k.txt) ELSE 0 END), 0) AS BIGINT)
           AS main_chars,
       md5(COALESCE(string_agg(k.txt, ' ' ORDER BY k.pos), ''))
           AS main_text_md5
FROM scored s
LEFT JOIN kept k ON s.doc_id = k.doc_id AND s.pos = k.pos
GROUP BY s.doc_id
"""


@register(
    "web_main_content",
    _main_content_oracle(),
    doc="Main-content extraction (text-density boilerplate removal — "
    "the Readability/Boilerpipe family, Kohlschütter et al. 2010 "
    "public heuristic): pages split into block-level segments; each "
    "block keeps or drops on two INTEGER rules — minimum text length "
    "and link density (3*link_chars < text_chars, cross-multiplied so "
    "no float boundary exists) — and the kept blocks reassemble in "
    "document order. Navigation, footers, and short junk blocks are "
    "exactly the high-link-density/short segments the rules drop; the "
    "synthetic pages wrap each document's real text in that chrome, "
    "and the oracle recomputes the identical regex chain (split / "
    "strip / extract-all verified byte-equal across both engines). "
    "Pure column expressions at scan speed — the curation stage "
    "between html_strip and the quality gates at 100 TB; main text "
    "verified via md5 so the hash check covers every byte of every "
    "kept block without shipping megabytes through the compare.",
)
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<nav><li><a href="/">Home</a></li><li><a href="/a">'),
            F.lit("About</a></li></nav><h1>Title "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><p>ad</p><footer><a href="/t">Terms</a> '),
            F.lit('<a href="/p">Privacy</a></footer>'),
        ).alias("html"),
    )
    segs = pages.select(
        "doc_id",
        F.posexplode(F.split("html", _BLOCK_RX)).alias("pos0", "seg"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "seg")
    stripped = F.regexp_replace("seg", "<[^>]*>", " ")
    txt = F.trim(F.regexp_replace(stripped, " +", " "))
    link_chars = F.length(
        F.array_join(
            F.regexp_extract_all(F.col("seg"), F.lit(_LINK_RX), 1), ""
        )
    )
    scored = segs.select(
        "doc_id", "pos", txt.alias("txt"), link_chars.alias("link_chars")
    )
    keep = (F.length("txt") >= _MAIN_MIN_CHARS) & (
        3 * F.col("link_chars") < F.length("txt")
    )
    flagged = scored.withColumn("_keep", keep)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("_keep"), F.length("txt")).otherwise(0))
        .cast("bigint")
        .alias("main_chars"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("pos", F.col("txt").alias("t")),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
            )
        ).alias("main_text_md5"),
    )


# ---------------------------------------------------------------------------
# robots.txt URL filtering — the crawl-compliance gate
# ---------------------------------------------------------------------------

# Pre-parsed per-host rule groups (what operators/robots.py::
# parse_robots_txt emits for the crawler's agent — parsing itself is
# unit-tested against RFC 9309 semantics in test_operators_misc).
# The fixture exercises longest-match override (h0), '*' wildcard with
# '$' anchor (h1), allow-carve-out under a disallow-all (h2), the
# tie→Allow rule (h3), and the empty group → allow-all default (h4).
_ROBOTS_RULES: dict[str, list[tuple[bool, str]]] = {
    "h0": [(False, "/private/"), (True, "/private/stats$")],
    "h1": [(False, "/tmp/*/index.htm$")],
    "h2": [(False, "/"), (True, "/public/")],
    "h3": [(False, "/public/page"), (True, "/public/page")],
    "h4": [],
}


def _robots_rule_rows() -> list[tuple[str, int, int, str]]:
    from evolution_data_warehouse_spark.operators.robots import (
        robots_pattern_regex,
    )

    return [
        (host, 1 if allow else 0, len(pattern),
         robots_pattern_regex(pattern))
        for host, rules in sorted(_ROBOTS_RULES.items())
        for allow, pattern in rules
    ]


_ROBOTS_URL_SQL = """
SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
       CASE doc_id % 4
            WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/public/page' || CAST(doc_id AS VARCHAR)
                 || '.html'
            WHEN 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
                 || '/index.htm'
            ELSE '/private/stats' END AS path
FROM documents
"""


def _robots_oracle() -> str:
    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH urls AS ({_ROBOTS_URL_SQL}),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT u.doc_id, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM urls u
    JOIN rules r ON u.host = r.host AND regexp_matches(u.path, r.rx)
    GROUP BY u.doc_id
)
SELECT u.doc_id, u.host, u.path,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM urls u LEFT JOIN m ON u.doc_id = m.doc_id
"""


@register(
    "web_robots_filter",
    _robots_oracle(),
    doc="robots.txt URL filtering (RFC 9309; operators/robots.py) — "
    "the crawl-compliance gate between WARC ingestion and curation: "
    "corpus URLs join the (dimension-sized, broadcast) parsed rule "
    "table on host; each rule's path pattern evaluates as ONE shared "
    "regex translation on both engines ('*' wildcard, '$' anchor, "
    "longest-match override, tie goes to Allow, no match means "
    "allowed); the RFC's winner selection compiles to a single hash "
    "aggregate — max(2*pattern_len + allow) odd — so the whole gate "
    "is scan, broadcast join, aggregate: the only shape that holds "
    "against 100 TB of URLs. Group selection inside robots.txt "
    "(longest user-agent token, '*' fallback) is parse_robots_txt, "
    "unit-tested against RFC examples.",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "'h' || CAST(doc_id % 5 AS STRING) AS host",
        "CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN '/private/doc' || CAST(doc_id AS STRING) "
        "WHEN 1 THEN '/public/page' || CAST(doc_id AS STRING) || '.html' "
        "WHEN 2 THEN '/tmp/x' || CAST(doc_id AS STRING) || '/index.htm' "
        "ELSE '/private/stats' END AS path",
    )
    rules = spark.createDataFrame(
        _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        urls.join(F.broadcast(rules), "host")
        .filter(F.expr("path RLIKE rx"))
        .groupBy("doc_id")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return urls.join(m, "doc_id", "left").select(
        "doc_id", "host", "path",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
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
    "ordering a 100 TB image corpus needs. One narrow mapInPandas "
    "stage, no shuffle.",
)
def mm_exif_gps_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_parse(batches):
        from evolution_data_warehouse_spark.operators.exif import (
            build_exif_jpeg,
            parse_exif,
            strip_exif,
        )
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
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
                rows.append(
                    {
                        "doc_id": d,
                        "make": meta["make"],
                        "orientation": np.int32(meta["orientation"][0]),
                        "byte_order": meta["byte_order"],
                        "has_gps": g is not None,
                        "lat_deg": (
                            np.int32(g["gps_lat"][0][0])
                            if g is not None
                            else None
                        ),
                        "lon_ref": (
                            g["gps_lon_ref"] if g is not None else None
                        ),
                        "redact_ok": bool(ok),
                    }
                )
            out = pd.DataFrame(rows)
            out["lat_deg"] = out["lat_deg"].astype("Int32")
            yield out

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_parse,
        "doc_id long, make string, orientation int, byte_order string, "
        "has_gps boolean, lat_deg int, lon_ref string, redact_ok boolean",
    )


# ---------------------------------------------------------------------------
# IVF-PQ top-k search — the composed billion-scale ANN architecture
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 4
_IVFPQ_TOPK = 25


def _ivfpq_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_probe_lists,
        pq_quantize_codebooks,
    )
    from evolution_data_warehouse_spark.queries.pq_codebooks import (
        PQ_COARSE,
    )

    fine_d, fine_c = _pq_dist_code_sql(pq_quantize_codebooks(_PQ_BOOKS), "d")
    coarse_d, coarse_c = _pq_dist_code_sql(
        pq_quantize_codebooks([PQ_COARSE]), "g"
    )
    adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "d")
    probes = pq_probe_lists(PQ_COARSE, _PQ_QUERY, _IVFPQ_NPROBE)
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {", ".join(fine_d + coarse_d)} FROM v),
c AS (SELECT vec_id, {", ".join(fine_c + coarse_c)} FROM d)
SELECT vec_id,
       CAST(gcode0 AS INT) AS list_id,
       CAST({adc} AS BIGINT) AS adc_dist
FROM c
WHERE gcode0 IN ({", ".join(str(p) for p in probes)})
ORDER BY adc_dist, vec_id
LIMIT {_IVFPQ_TOPK}
"""


@register(
    "sim_ivfpq_topk",
    _ivfpq_oracle(),
    doc="IVF-PQ top-k search — the composed architecture behind every "
    "billion-scale ANN system (coarse inverted lists + product-"
    "quantized compressed-domain scan, FAISS's IVFADC): vectors "
    "assign to their nearest trained coarse centroid (the IVF list), "
    "the query probes its 4 nearest of 16 lists, and only probed-list "
    "vectors are ranked by the 8-lookup integer ADC distance, "
    "tie-broken (adc, vec_id) to top-25. The 100 TB claim this query "
    "verifies row-exactly is the SCAN FRACTION: ~nprobe/16 of the "
    "corpus is touched (measured ~25% at sf0.01; at scale the coded "
    "table is written PARTITIONED BY list_id like the IVF lists in "
    "operators/similarity.py, so probing is directory-level pruning). "
    "Recall on THIS table is data-limited (near-isotropic synthetic "
    "vectors spread true neighbors across lists — the known IVF "
    "behavior on unclustered data; measured in test_properties): the "
    "honest trade is stated, not hidden.",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ivfpq_adc_df(spark, sf_dir)
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_TOPK)
    )


def _ivfpq_adc_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-scan IVF-PQ compressed-domain scan shared by
    sim_ivfpq_topk and the r10 refine stage: assign the coarse list,
    PRUNE to the probed lists, and only then compute the 8 fine codes
    + ADC — the at-scale order (a prior version scanned twice and
    shuffle-joined the code tables; review finding). Returns
    (vec_id, list_id INT, adc_dist BIGINT) for probed-list rows.

    r15: the coarse/fine argmin + ADC chain runs as ONE numpy
    mapInPandas pass (operators/similarity.py::pq_adc_scan) — the
    expression form's higher-order-function folds were the leg's
    whole cost (9.5 s executorRunTime at sf1, interpreted per
    element). Exact int64 end to end, so the output is bit-identical
    (exceptAll-proven at sf1 + oracle green; same-session alternating
    sf1 A/B: sim_ivfpq_topk 3.24 -> 0.67 s, refine 4.25 -> 2.62 s)."""
    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_scan,
        pq_probe_lists,
    )
    from evolution_data_warehouse_spark.queries.pq_codebooks import (
        PQ_COARSE,
    )

    probes = pq_probe_lists(PQ_COARSE, _PQ_QUERY, _IVFPQ_NPROBE)
    lut = pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)
    return pq_adc_scan(
        t(spark, sf_dir, "embeddings"), PQ_COARSE, _PQ_BOOKS, lut, probes
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout — multi-dimensional clustering evidence
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    from evolution_data_warehouse_spark.operators.layout import (
        grid_sql,
        zvalue_sql,
    )

    return f"""
WITH b AS (
    SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
           MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
    FROM lineitem
),
g AS (
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
           {grid_sql("l.l_partkey", "b.xmin", "b.xmax")} AS xg,
           {grid_sql("l.l_suppkey", "b.ymin", "b.ymax")} AS yg
    FROM lineitem l, b
),
z AS (SELECT *, {zvalue_sql("xg", "yg")} AS zv FROM g),
t AS (
    SELECT xg, yg,
           NTILE(16) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS zb,
           NTILE(16) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber)
               AS lb
    FROM z
),
za AS (
    SELECT zb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_z,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_z
    FROM t GROUP BY zb
),
la AS (
    SELECT lb AS bucket,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_lin,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_lin
    FROM t GROUP BY lb
)
SELECT CAST(za.bucket AS INT) AS bucket, za.n_rows,
       za.x_span_z, za.y_span_z, la.x_span_lin, la.y_span_lin
FROM za JOIN la ON za.bucket = la.bucket
"""


@register(
    "proc_zorder_report",
    _zorder_oracle(),
    doc="Z-order (Morton curve) multi-dimensional clustering "
    "(operators/layout.py) — the OPTIMIZE ZORDER BY leg of layout "
    "maintenance beside proc_maintenance_layout's compaction leg: "
    "lineitem rows grid-normalize (exact BIGINT arithmetic over a "
    "1-row min/max broadcast) and bit-interleave (l_partkey, "
    "l_suppkey) into a 16-bit curve value; 16 equal buckets in curve "
    "order report their per-dimension grid spans NEXT TO the same "
    "buckets under a plain single-key sort. The output IS the pruning "
    "evidence: z-buckets bound BOTH dimensions (y_span_z well below "
    "the 255 grid span every single-key bucket shows), which is what "
    "lets parquet min/max footer stats prune scans filtered on either "
    "column at 100 TB. NTILE here makes bucket assignment "
    "oracle-checkable; the physical write path (zorder_layout) uses "
    "repartitionByRange — one range shuffle — and is asserted on real "
    "files in test_warehouse.",
)
def proc_zorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.layout import (
        grid_expr,
        zvalue,
    )

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("xmin"), F.max("l_partkey").alias("xmax"),
        F.min("l_suppkey").alias("ymin"), F.max("l_suppkey").alias("ymax"),
    )
    g = (
        li.join(bounds)
        .withColumn("xg", F.expr(grid_expr("l_partkey", "xmin", "xmax")))
        .withColumn("yg", F.expr(grid_expr("l_suppkey", "ymin", "ymax")))
        .withColumn("zv", zvalue(F.col("xg"), F.col("yg")))
    )
    tiled = g.select(
        "xg", "yg",
        F.ntile(16)
        .over(W.orderBy("zv", "l_orderkey", "l_linenumber"))
        .alias("zb"),
        F.ntile(16)
        .over(W.orderBy("l_partkey", "l_orderkey", "l_linenumber"))
        .alias("lb"),
    )
    za = tiled.groupBy("zb").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_z"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_z"),
    )
    la = tiled.groupBy("lb").agg(
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_lin"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_lin"),
    )
    return za.join(la, za["zb"] == la["lb"]).select(
        F.col("zb").cast("int").alias("bucket"),
        "n_rows", "x_span_z", "y_span_z", "x_span_lin", "y_span_lin",
    )


# ---------------------------------------------------------------------------
# BPE tokenize-to-ids — the trainer's runtime counterpart
# ---------------------------------------------------------------------------


def _bpe_encode_oracle() -> str:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_sql,
        bpe_vocab,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    s = bpe_segment_sql("w", _BPE_MERGES)
    vocab_case = (
        "CASE sub "
        + " ".join(
            f"WHEN '{tok}' THEN {i}"
            for tok, i in sorted(bpe_vocab(_BPE_MERGES).items())
        )
        + " ELSE -1 END"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(tk) + 1)) AS INT) AS wp,
           unnest(tk) AS w
    FROM toks
),
words AS (SELECT doc_id, wp, w FROM wraw WHERE w <> ''),
seg AS (
    SELECT doc_id, wp, str_split({s}, ' ') AS subs FROM words
),
subrows AS (
    SELECT doc_id, wp,
           CAST(unnest(range(1, len(subs) + 1)) AS INT) AS sp,
           unnest(subs) AS sub
    FROM seg
),
ids AS (SELECT doc_id, wp, sp, {vocab_case} AS id FROM subrows)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_subwords,
       CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       CAST(SUM(CAST(wp AS BIGINT) * sp * (id + 131)) AS BIGINT)
           AS id_checksum
FROM ids
GROUP BY doc_id
"""


@register(
    "tok_bpe_encode",
    _bpe_encode_oracle(),
    doc="BPE tokenize-to-ids (operators/bpe.py::bpe_encode_ids) — the "
    "frozen-vocab runtime counterpart of the distributed trainer: the "
    "corpus encodes to vocabulary ids under the pinned 12-merge table "
    "and its deterministic id table (bpe_vocab; unknown subwords are "
    "-1). The merge replaces run once per DISTINCT word and equi-join "
    "back to the token stream (Zipf: the word table is tiny next to "
    "the stream); the id map is a literal broadcast looked up JVM-side "
    "inside `transform` — no join, no Python. Verified at doc grain "
    "by an exact positional checksum over every (word_pos, sub_pos, "
    "token_id) instance, so a single mis- id'd or mis-ordered subword "
    "anywhere in the corpus breaks the hash.",
)
def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    enc = bpe_encode_ids(
        t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_subwords"),
        F.sum((F.col("token_id") == -1).cast("int"))
        .cast("bigint")
        .alias("n_unk"),
        F.sum(
            (F.col("word_pos") + 1).cast("bigint")
            * (F.col("sub_pos") + 1)
            * (F.col("token_id") + 131)
        )
        .cast("bigint")
        .alias("id_checksum"),
    )
