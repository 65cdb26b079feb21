"""Round-10 query batch: the refine stage that completes the IVF-PQ
search architecture (IVFADC+refine — compressed-domain shortlist,
exact re-rank on raw vectors), the full published Gopher text-quality
rule suite, frame-level audio spectral fingerprints + banded audio
near-dup, WARC revisit-record handling with cross-crawl digest dedup,
and the sitemap→robots crawl-frontier composition.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float aggregation, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
is a curated-CSV warehouse with no ANN/media/crawl surface — this
batch extends the engine's LLM-training-pipeline coverage beyond
reference parity (the declared SURVEY §7 growth direction), composing
operators that are each already oracle-proven.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    register,
    t,
)
from evolution_data_warehouse_spark.queries.extensions_r9 import (
    _IVFPQ_NPROBE,
    _IVFPQ_TOPK,
    _PQ_BOOKS,
    _PQ_QUERY,
    _ivfpq_adc_df,
    _pq_adc_sql,
    _pq_dist_code_sql,
    _pq_vdefs_sql,
)

# ---------------------------------------------------------------------------
# IVF-PQ + exact refine — the production IVFADC+refine composition
# ---------------------------------------------------------------------------

_IVFPQ_RERANK = 100


def _ivfpq_refine_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
        pq_adc_lut,
        pq_probe_lists,
        pq_quantize_codebooks,
    )
    from evolution_data_warehouse_spark.queries.pq_codebooks import (
        PQ_COARSE,
    )

    fine_d, fine_c = _pq_dist_code_sql(
        pq_quantize_codebooks(_PQ_BOOKS), "d"
    )
    coarse_d, coarse_c = _pq_dist_code_sql(
        pq_quantize_codebooks([PQ_COARSE]), "g"
    )
    adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "d")
    probes = pq_probe_lists(PQ_COARSE, _PQ_QUERY, _IVFPQ_NPROBE)
    qq = [round(x * PQ_SCALE) for x in _PQ_QUERY]
    qlit = "[" + ", ".join(str(q) for q in qq) + "]"
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {", ".join(fine_d + coarse_d)} FROM v),
c AS (SELECT vec_id, {", ".join(fine_c + coarse_c)} FROM d),
shortlist AS (
    SELECT vec_id,
           CAST(gcode0 AS INT) AS list_id,
           CAST({adc} AS BIGINT) AS adc_dist
    FROM c
    WHERE gcode0 IN ({", ".join(str(p) for p in probes)})
    ORDER BY adc_dist, vec_id
    LIMIT {_IVFPQ_RERANK}
),
q AS (SELECT {qlit} AS qq)
SELECT s.vec_id, s.list_id, s.adc_dist,
       CAST(list_sum(list_transform(v.vq,
            (x, i) -> (x - qq[i]) * (x - qq[i]))) AS BIGINT) AS exact_dist
FROM shortlist s JOIN v ON s.vec_id = v.vec_id CROSS JOIN q
ORDER BY exact_dist, s.vec_id
LIMIT {_IVFPQ_TOPK}
"""


@register(
    "sim_ivfpq_refine",
    _ivfpq_refine_oracle(),
    doc="IVF-PQ search with exact re-rank (FAISS's IVFADC+refine, the "
    "production shape): the compressed-domain scan (sim_ivfpq_topk's "
    "single coarse-probe + ADC pass) finds the top-100 CANDIDATES, "
    "and only those 100 rows join back to the raw vectors for an "
    "exact fixed-point L2 re-rank to the final top-25 — the refine "
    "step that fixes PQ quantization error and makes compressed-scan "
    "recall usable. The raw-vector join touches ONLY the R candidates "
    "(the 100-row shortlist is the broadcast build side; the probed "
    "lists are never re-joined) — at 100 TB the ADC scan reads the "
    "~32x-compressed code table and this stage fetches R raw vectors "
    "by key, so refine cost is O(R·d) regardless of corpus size. "
    "exact_dist is the deterministic fixed-point metric (database "
    "vectors floor(v*PQ_SCALE), query round(q*PQ_SCALE) — the ADC-"
    "side query quantization), tie-broken (exact_dist, vec_id). "
    "Refine-vs-ADC recall gain is measured in test_properties.",
)
def sim_ivfpq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
    )

    shortlist = (
        _ivfpq_adc_df(spark, sf_dir)
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_RERANK)
    )
    qq = [round(x * PQ_SCALE) for x in _PQ_QUERY]
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PQ_SCALE))
        ).cast("long"),
    )
    qarr = F.array(*[F.lit(int(q)).cast("long") for q in qq])
    exact = F.aggregate(
        F.zip_with(vq, qarr, lambda v, q: (v - q) * (v - q)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        emb.join(shortlist, "vec_id")
        .select(
            "vec_id",
            "list_id",
            "adc_dist",
            exact.cast("bigint").alias("exact_dist"),
        )
        .orderBy("exact_dist", "vec_id")
        .limit(_IVFPQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Gopher text-quality rule suite — the full published gate, one scan
# ---------------------------------------------------------------------------


def _gopher_oracle() -> str:
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags_sql,
        gopher_metrics_sql,
    )

    m = gopher_metrics_sql("COALESCE(text, '')")
    f = gopher_flags_sql()
    mcols = ", ".join(f"{sql} AS {name}" for name, sql in m.items())
    fcols = ", ".join(f"{sql} AS {name}" for name, sql in f.items())
    return f"""
WITH m AS (SELECT doc_id, {mcols} FROM documents)
SELECT doc_id, n_words, total_chars, n_alpha_words, n_symbols,
       n_lines, n_bullet_lines, n_ellipsis_lines, stop_hits,
       {fcols}
FROM m
"""


@register(
    "text_quality_gopher",
    _gopher_oracle(),
    doc="The complete published Gopher quality-rule suite (Rae et al. "
    "2021 §A1.1; operators/gopher.py) as ONE scan: word-count bounds, "
    "mean word length 3-10, symbol-to-word ratio, bullet-line and "
    "ellipsis-line ratios, alphabetic-word fraction, and stop-word "
    "presence (occurrence-counted, the public RedPajama/Dolma "
    "reading), each emitted as a boolean beside its integer evidence "
    "counts plus the conjunction verdict — the per-rule observability "
    "a curation operator needs to tune thresholds. Every ratio is an "
    "integer cross-multiplication, never a float division, so "
    "verdicts are bit-identical across engines and partitionings. "
    "Pure column expressions over one documents scan — whole-stage "
    "codegen, zero shuffle, zero Python — the same single-scan shape "
    "as quality_expectations (plan-locked); gates a 100 TB corpus at "
    "scan speed and drops into web_corpus_curation as a funnel stage.",
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags,
        gopher_metrics,
    )

    text = F.coalesce(F.col("text"), F.lit(""))
    m = gopher_metrics(text)
    f = gopher_flags(m)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        *[c.alias(name) for name, c in m.items()],
        *[c.alias(name) for name, c in f.items()],
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
    "narrow mapInPandas stage, zero shuffle — linear in corpus bytes, "
    "the same scale shape as every decoder.",
)
def mm_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_analyze(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            decode_wav,
            encode_wav,
        )
        from evolution_data_warehouse_spark.operators.audio_fp import (
            N_FFT,
            dominant_bin,
            spectrum32,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
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
                rows.append(
                    {
                        "doc_id": d,
                        "n_frames": np.int32(spec.shape[0]),
                        "n_bins": np.int32(spec.shape[1]),
                        "dominant_bin": np.int32(dominant_bin(spec)),
                        "spectral_ok": ok,
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
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


def _afp_family_signal(d: int) -> np.ndarray:
    """One doc's near-dup family signal (the construction above):
    65 blocks of 64 alternating-sign samples at splitmix64-mixed,
    pinned-anchor amplitudes, swapped pair for d % 10 == 5, scaled
    1 + d % 3. ONE definition — shared by dedup_audio_fingerprint and
    mm_audio_curation so their closed-form pair/funnel oracles can
    never diverge (review finding)."""
    from evolution_data_warehouse_spark.operators.audio_fp import (
        N_BUCKETS,
    )
    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _splitmix64,
    )

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


def _afp_payload_batch():
    """mapInPandas fn: doc_id → a REAL PCM16 WAV payload from the
    near-dup family construction above."""

    def gen(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            encode_wav,
        )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                sig = _afp_family_signal(int(doc_id))
                payloads.append(encode_wav(sig[:, None], 16000, width=2))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                }
            )

    return gen


_AFP_ORACLE = """
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(CASE WHEN (a.doc_id % 10 = 5) <> (b.doc_id % 10 = 5)
                 THEN 2 ELSE 0 END AS INT) AS hamming
FROM documents a
JOIN documents b
  ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
"""


@register(
    "dedup_audio_fingerprint",
    _AFP_ORACLE,
    doc="Audio near-duplicate detection (operators/audio_fp.py + "
    "phash.py's band join): per-doc REAL PCM16 WAV payloads (near-dup "
    "families closed-form in doc_id) → decode through the engine's "
    "own WAV parser → 64-bit energy-profile fingerprint (65 exact "
    "integer block energies, bit i = E[i+1] > E[i] — exactly "
    "invariant to the family's amplitude-scaling variants) → the SAME "
    "Hamming-banded candidate join as dedup_image_phash (4x16-bit "
    "bands, pigeonhole-exact recall for distance <= 3, default-ON "
    "hot-bucket guard) → JVM-side bit_count(XOR) verification. "
    "Scaled copies land at distance 0 and the block-swapped variants "
    "at exactly distance 2, so the oracle enumerates the expected "
    "pairs in closed form. Two narrow Arrow stages + one band-"
    "bucketed equi-join — never all-pairs.",
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.phash import dhash_pairs

    def fp_batch(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            decode_wav,
        )
        from evolution_data_warehouse_spark.operators.audio_fp import (
            audio_fingerprint64,
        )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "afp": [
                        audio_fingerprint64(decode_wav(bytes(p))["samples"])
                        for p in pdf["payload"]
                    ],
                }
            )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    payloads = ids.mapInPandas(
        _afp_payload_batch(), "doc_id long, payload binary"
    )
    hashes = payloads.mapInPandas(fp_batch, "doc_id long, afp long")
    return dhash_pairs(hashes, hash_col="afp", max_dist=2)


# ---------------------------------------------------------------------------
# WARC revisit records — the multi-snapshot crawl workflow
# ---------------------------------------------------------------------------

_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)

_REVISIT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END
           AS rec2_type,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN octet_length(encode(COALESCE(text, ''))) + 3
                 ELSE 0 END AS BIGINT) AS n_bytes_2,
       TRUE AS digest_ok,
       TRUE AS refers_ok
FROM documents
"""


@register(
    "src_warc_revisit",
    _REVISIT_ORACLE,
    doc="WARC revisit-record handling (sources/warc.py) — the "
    "multi-snapshot Common Crawl shape: a recrawled URL whose payload "
    "is unchanged is stored as a 'revisit' record (ISO 28500 / the "
    "netpreserve identical-payload-digest profile) carrying only the "
    "sha1-base32 WARC-Payload-Digest of the payload it did NOT "
    "re-store, plus WARC-Refers-To-Target-URI. Per doc, crawl 1's "
    "response and crawl 2's record (unchanged docs → revisit; every "
    "third doc changes → a fresh response) mux into one per-record-"
    "gzip WARC and parse back. digest_ok demands the engine-computed "
    "digest of the ORIGINAL payload equal the revisit record's header "
    "(the exact cross-crawl match a dedup stage joins on) — for "
    "changed docs, that the new digest header verifies AND differs "
    "from crawl 1's; refers_ok checks the back-reference URI. "
    "rec2_type and the stored byte count are closed-form in doc_id. "
    "One narrow mapInPandas stage, zero shuffle.",
)
def src_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_parse(batches):
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
            payload_digest,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                body = ("" if text is None else str(text)).encode("utf-8")
                uri = f"http://corpus.local/doc/{d}"
                dig1 = payload_digest(body)
                recs = [
                    (
                        "response",
                        uri,
                        body,
                        {"WARC-Payload-Digest": dig1},
                    )
                ]
                if d % 3 == 0:
                    body2 = body + b" v2"
                    recs.append(
                        (
                            "response",
                            uri,
                            body2,
                            {"WARC-Payload-Digest": payload_digest(body2)},
                        )
                    )
                else:
                    recs.append(
                        (
                            "revisit",
                            uri,
                            b"",
                            {
                                "WARC-Payload-Digest": dig1,
                                "WARC-Profile": _REVISIT_PROFILE,
                                "WARC-Refers-To-Target-URI": uri,
                            },
                        )
                    )
                parsed = parse_warc(build_warc(recs, per_record_gzip=True))
                r1, r2 = parsed[0], parsed[1]
                h2 = r2["headers"]
                if r2["type"] == "revisit":
                    digest_ok = (
                        h2.get("warc-payload-digest")
                        == payload_digest(r1["payload"])
                        and r2["payload"] == b""
                        and h2.get("warc-profile") == _REVISIT_PROFILE
                    )
                    refers_ok = h2.get("warc-refers-to-target-uri") == uri
                else:
                    digest_ok = (
                        h2.get("warc-payload-digest")
                        == payload_digest(r2["payload"])
                        and h2.get("warc-payload-digest") != dig1
                    )
                    refers_ok = r2["uri"] == uri
                rows.append(
                    {
                        "doc_id": d,
                        "rec2_type": r2["type"],
                        "n_bytes_2": len(r2["payload"]),
                        "digest_ok": bool(digest_ok),
                        "refers_ok": bool(refers_ok),
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        synth_and_parse,
        "doc_id long, rec2_type string, n_bytes_2 long, "
        "digest_ok boolean, refers_ok boolean",
    )


# ---------------------------------------------------------------------------
# Cross-crawl snapshot dedup — digest anti-join between crawls
# ---------------------------------------------------------------------------

_SNAPSHOT_ORACLE = """
WITH a AS (
    SELECT doc_id,
           'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS uri,
           COALESCE(text, '') AS body
    FROM documents
),
b AS (
    SELECT doc_id, uri,
           CASE WHEN doc_id % 4 = 0 THEN body || ' v2' ELSE body END
               AS body
    FROM a
)
SELECT b.doc_id, b.uri,
       CAST(octet_length(encode(b.body)) AS BIGINT) AS n_bytes
FROM b
WHERE NOT EXISTS (
    SELECT 1 FROM a WHERE a.uri = b.uri AND a.body = b.body
)
"""


@register(
    "dedup_crawl_snapshots",
    _SNAPSHOT_ORACLE,
    doc="Cross-crawl incremental dedup (sources/warc.py + the "
    "incremental_new anti-join shape, operators/datapipe.py): two "
    "crawl snapshots of the corpus ride REAL per-record-gzip WARCs "
    "(crawl 2 re-fetches every URL; every fourth page changed), each "
    "parsed back and keyed by (uri, sha1-base32 payload digest) — the "
    "exact key a revisit record carries. New-crawl rows whose key "
    "already exists in the prior snapshot are dropped by a LEFT ANTI "
    "join (never a full join: the plan builds a hash relation of "
    "prior-crawl keys and streams the new crawl through it, the "
    "daily-ingest shape where the archive is petabytes and only "
    "changed pages survive to re-processing). Output is the changed "
    "pages — closed-form in doc_id — with their stored byte counts.",
)
def dedup_crawl_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    def snap_batch(crawl: int):
        def fn(batches):
            from evolution_data_warehouse_spark.sources.warc import (
                build_warc,
                parse_warc,
                payload_digest,
            )

            for pdf in batches:
                rows = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    d = int(doc_id)
                    body = (
                        "" if text is None else str(text)
                    ).encode("utf-8")
                    if crawl == 2 and d % 4 == 0:
                        body = body + b" v2"
                    uri = f"http://corpus.local/doc/{d}"
                    rec = parse_warc(
                        build_warc(
                            [("response", uri, body)], per_record_gzip=True
                        )
                    )[0]
                    rows.append(
                        {
                            "doc_id": d,
                            "uri": rec["uri"],
                            "digest": payload_digest(rec["payload"]),
                            "n_bytes": len(rec["payload"]),
                        }
                    )
                yield pd.DataFrame(rows)

        return fn

    schema = "doc_id long, uri string, digest string, n_bytes long"
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.mapInPandas(snap_batch(1), schema)
    fresh = docs.mapInPandas(snap_batch(2), schema)
    return fresh.join(
        prior.select("uri", "digest"), ["uri", "digest"], "left_anti"
    ).select("doc_id", "uri", "n_bytes")


# ---------------------------------------------------------------------------
# Crawl-frontier build — sitemap discovery ∘ canonicalize ∘ robots
# ---------------------------------------------------------------------------

# Frontier fixture: urlset docs (d % 10 != 0; index shards are the
# recursion src_sitemap_urls already verifies) publish 1 + d % 7 URLs
# for share-group g = d % 20 — docs in the same group publish the SAME
# logical pages (the cross-site syndication that makes frontier dedup
# real), dressed in canonicalization fodder (uppercase scheme/host,
# leading www., explicit :80, tracking query). Note g determines the
# host (d % 20 = g ⇒ d % 5 = g % 5), so colliding URLs collide fully.
_FRONTIER_PATHS = (
    "/private/doc{g}_{i}",
    "/public/page{g}_{i}.html",
    "/tmp/x{g}_{i}/index.htm",
    "/private/stats",
)


def _frontier_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _robots_rule_rows,
    )

    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH docs AS (
    SELECT doc_id, doc_id % 20 AS g, 1 + doc_id % 7 AS n
    FROM documents WHERE doc_id % 10 <> 0
),
pairs AS (
    SELECT doc_id, g, unnest(range(0, n)) AS i FROM docs
),
urls AS (
    SELECT doc_id,
           'h' || CAST(g % 5 AS VARCHAR) AS host_key,
           CASE CAST((g + i) % 4 AS INT)
                WHEN 0 THEN '/private/doc' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR)
                WHEN 1 THEN '/public/page' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '.html'
                WHEN 2 THEN '/tmp/x' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '/index.htm'
                ELSE '/private/stats' END AS path
    FROM pairs
),
frontier AS (
    SELECT 'http://h' || CAST(g % 5 AS VARCHAR) || '.corpus.local'
               || path AS url,
           host_key, path,
           MIN(doc_id) AS discovered_by,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM urls JOIN docs USING (doc_id)
    GROUP BY 1, 2, 3
),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT f.url, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM frontier f
    JOIN rules r ON f.host_key = r.host AND regexp_matches(f.path, r.rx)
    GROUP BY f.url
)
SELECT f.url, f.host_key, f.path, f.discovered_by, f.n_sources,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM frontier f LEFT JOIN m ON f.url = m.url
"""


@register(
    "web_frontier_build",
    _frontier_oracle(),
    doc="Crawl-frontier build — the composition the r9 stages verified "
    "separately, run as ONE plan the way web_corpus_curation composes "
    "the post-fetch stages: sitemap discovery (sources/sitemap.py — "
    "real urlset XML built AND parsed back per publisher, one "
    "mapInPandas scan), URL canonicalization (the fn_url_canonicalize "
    "regex pipeline of dedup_url_canonical: lowercase host, strip "
    "www./default port/query) collapsing syndicated duplicates to one "
    "frontier row (keep-lowest discoverer + source count — same URL "
    "never fetched twice at 100 TB), then robots.txt compliance "
    "(operators/robots.py: the dimension-sized rule table broadcast, "
    "RFC 9309 winner as one integer hash aggregate, no match = "
    "allowed). Plan shape: one sitemap scan → hash-agg dedup → "
    "broadcast rules join + aggregate — every stage scan-shaped, no "
    "all-pairs, no unbounded shuffle.",
)
def web_frontier_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _robots_rule_rows,
    )

    def discover(batches):
        from evolution_data_warehouse_spark.sources.sitemap import (
            build_sitemap,
            parse_sitemap,
        )

        for pdf in batches:
            doc_ids: list[int] = []
            locs: list[str] = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 10 == 0:
                    continue  # index shards: src_sitemap_urls' scope
                g = d % 20
                built = [
                    {
                        "loc": (
                            f"HTTP://WWW.H{d % 5}.Corpus.Local:80"
                            + _FRONTIER_PATHS[(g + i) % 4].format(g=g, i=i)
                            + "?utm_source=sitemap"
                        )
                    }
                    for i in range(1 + d % 7)
                ]
                for e in parse_sitemap(build_sitemap(built))["entries"]:
                    doc_ids.append(d)
                    locs.append(e["loc"])
            yield pd.DataFrame({"doc_id": doc_ids, "loc": locs})

    ids = t(spark, sf_dir, "documents").select("doc_id")
    discovered = ids.mapInPandas(discover, "doc_id long, loc string")
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("loc", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":80$",
        "",
    )
    path = F.regexp_extract("loc", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    frontier = (
        discovered.select(
            "doc_id",
            F.concat(F.lit("http://"), host, path).alias("url"),
            F.regexp_extract(host, r"^([^.]+)", 1).alias("host_key"),
            path.alias("path"),
        )
        .groupBy("url", "host_key", "path")
        .agg(
            F.min("doc_id").alias("discovered_by"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    rules = spark.createDataFrame(
        _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        frontier.join(
            F.broadcast(rules), frontier.host_key == rules.host
        )
        .filter(F.expr("path RLIKE rx"))
        .groupBy("url")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return frontier.join(m, "url", "left").select(
        "url", "host_key", "path", "discovered_by", "n_sources",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules — n-gram character-coverage suite
# ---------------------------------------------------------------------------


def _rep_oracle() -> str:
    from evolution_data_warehouse_spark.operators.gopher import (
        DUP_NGRAM_MAX_PCT,
        TOP_NGRAM_MAX_PCT,
    )

    ns = sorted(TOP_NGRAM_MAX_PCT) + sorted(DUP_NGRAM_MAX_PCT)
    top_cols = ", ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN top_cov END), 0)"
        f" AS BIGINT) AS top_cov_{n}"
        for n in sorted(TOP_NGRAM_MAX_PCT)
    )
    dup_cols = ", ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" AS BIGINT) AS dup_chars_{n}"
        for n in sorted(DUP_NGRAM_MAX_PCT)
    )
    top_flags = ", ".join(
        f"(100 * top_cov_{n} <= {pct} * total_chars) AS r_top_{n}"
        for n, pct in sorted(TOP_NGRAM_MAX_PCT.items())
    )
    dup_flags = ", ".join(
        f"(100 * dup_chars_{n} <= {pct} * total_chars) AS r_dup_{n}"
        for n, pct in sorted(DUP_NGRAM_MAX_PCT.items())
    )
    all_flags = " AND ".join(
        [f"(100 * top_cov_{n} <= {p} * total_chars)"
         for n, p in sorted(TOP_NGRAM_MAX_PCT.items())]
        + [f"(100 * dup_chars_{n} <= {p} * total_chars)"
           for n, p in sorted(DUP_NGRAM_MAX_PCT.items())]
    )
    return f"""
WITH d AS (
    SELECT doc_id, str_split(lower(COALESCE(text, '')), ' ') AS tk
    FROM documents
),
tot AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT)
               AS total_chars
    FROM d
),
grams AS (
    SELECT doc_id, n,
           unnest(list_transform(
               range(0, greatest(len(tk) - n + 1, 0)),
               i -> list_aggregate(tk[i+1:i+n], 'string_agg', ' ')
           )) AS gram
    FROM d, (SELECT unnest([{", ".join(str(n) for n in ns)}]) AS n) ns
),
counted AS (
    SELECT doc_id, n, gram, COUNT(*) AS c,
           length(gram) - (n - 1) AS charlen
    FROM grams GROUP BY doc_id, n, gram
),
per_n AS (
    SELECT doc_id, n,
           MAX(c * charlen) AS top_cov,
           SUM(CASE WHEN c >= 2 THEN c * charlen ELSE 0 END) AS dup_chars
    FROM counted GROUP BY doc_id, n
),
wide AS (
    SELECT doc_id, {top_cols}, {dup_cols}
    FROM per_n GROUP BY doc_id
)
SELECT t.doc_id, t.total_chars,
       {", ".join(f"top_cov_{n}" for n in sorted(TOP_NGRAM_MAX_PCT))},
       {", ".join(f"dup_chars_{n}" for n in sorted(DUP_NGRAM_MAX_PCT))},
       {top_flags}, {dup_flags},
       ({all_flags}) AS repetition_pass
FROM tot t JOIN wide w ON t.doc_id = w.doc_id
"""


@register(
    "text_repetition_gopher",
    _rep_oracle(),
    doc="The complete Gopher repetition-rule suite (Rae et al. 2021 "
    "Table A1 — the n-gram half that text_repetition's duplicate-word "
    "signals don't cover): per document, the character coverage of "
    "the highest-coverage n-gram for n = 2..4 (count x word-chars, "
    "a pure MAX — no tie-break needed) and the characters inside "
    "duplicated n-grams for n = 5..10 (occurrences x word-chars of "
    "every gram seen twice), each tested against the paper's integer-"
    "percent threshold by cross-multiplication (100*cov <= pct*total "
    "— no float ever decides). Shape: ZERO-shuffle — the grouping key "
    "(doc, n, gram) never crosses documents, so all 9 per-n gram "
    "counts are taken inside ONE narrow Arrow-batched mapInPandas "
    "pass (collections.Counter over exact token tuples — integer "
    "math only, bit-identical to the oracle; operators/gopher.py::"
    "repetition_ngram_stats_batch). History: explode + two hash "
    "aggregates shuffled ~22M rows (75.8 s sf1, r11); the r11-r14 "
    "JVM sort+RLE F.aggregate form removed the shuffle but Spark "
    "evaluates higher-order functions interpreted per element, which "
    "made it the heaviest sf1 leg (r14 verdict item 6; 384 s "
    "executorRunTime); the r15 Counter form is the guide-§4.2 move "
    "(r15 idle sf1 A/B: 15.57 s -> 1.54 s same-session min-of-3, "
    "output-identical via exceptAll both ways at sf0.01 AND sf1). "
    "Per-doc cost is O(grams) and embarrassingly parallel — linear "
    "in corpus tokens at 100 TB.",
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.gopher import (
        DUP_NGRAM_MAX_PCT,
        TOP_NGRAM_MAX_PCT,
        repetition_ngram_stats_batch,
    )

    top_ns = tuple(sorted(TOP_NGRAM_MAX_PCT))
    dup_ns = tuple(sorted(DUP_NGRAM_MAX_PCT))
    schema = ", ".join(
        ["doc_id bigint", "total_chars bigint"]
        + [f"top_cov_{n} bigint" for n in top_ns]
        + [f"dup_chars_{n} bigint" for n in dup_ns]
    )
    # Lower-casing stays JVM-side so tokenization semantics are
    # byte-identical to the oracle's lower() on any input (the Python
    # pass only splits on single spaces and counts). Docs with fewer
    # than 2 tokens are dropped inside the batch fn — absent from the
    # oracle's inner join, same as before. The per-doc counting is
    # CPU-bound, so the slim projection repartitions to core width.
    wide = cpu_repartition(
        t(spark, sf_dir, "documents").select(
            "doc_id",
            F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
        )
    ).mapInPandas(repetition_ngram_stats_batch(top_ns, dup_ns), schema)
    flags = [
        (100 * F.col(f"top_cov_{n}") <= pct * F.col("total_chars")).alias(
            f"r_top_{n}"
        )
        for n, pct in sorted(TOP_NGRAM_MAX_PCT.items())
    ] + [
        (
            100 * F.col(f"dup_chars_{n}") <= pct * F.col("total_chars")
        ).alias(f"r_dup_{n}")
        for n, pct in sorted(DUP_NGRAM_MAX_PCT.items())
    ]
    verdict = None
    for c in flags:
        verdict = c if verdict is None else verdict & c
    return wide.select(
        "doc_id",
        "total_chars",
        *[f"top_cov_{n}" for n in sorted(TOP_NGRAM_MAX_PCT)],
        *[f"dup_chars_{n}" for n in sorted(DUP_NGRAM_MAX_PCT)],
        *flags,
        verdict.alias("repetition_pass"),
    )


# ---------------------------------------------------------------------------
# C4 quality rules — the line-level published filter stack
# ---------------------------------------------------------------------------

# Fixture page, identical construction on both engines: the document's
# tokens chunk into 8-word lines, every third line missing its
# terminal period (C4's punctuation rule has something to drop), plus
# per-doc injected lines exercising each rule: a lorem-ipsum filler
# sentence (every 7th doc), a code line with braces (every 5th doc
# ≡ 3), a boilerplate "enable javascript" line (every 6th doc ≡ 2),
# and a short (< 5 words) closer on every doc.
_C4_LOREM = "lorem ipsum dolor sit amet consectetur."
_C4_BRACE = "function() { return 1; }"
_C4_JS = "please enable javascript to view this page."
_C4_SHORT = "ok bye."


def _c4_lines_sql() -> str:
    return """
    list_concat(
        list_concat(
            list_concat(
                list_transform(
                    range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                    i -> list_aggregate(tk[i*8+1:i*8+8], 'string_agg', ' ')
                         || CASE WHEN i % 3 = 2 THEN '' ELSE '.' END
                ),
                CASE WHEN doc_id % 7 = 0 THEN ['{lorem}']
                     ELSE [] END),
            CASE WHEN doc_id % 5 = 3 THEN ['{brace}'] ELSE [] END),
        list_concat(
            CASE WHEN doc_id % 6 = 2 THEN ['{js}'] ELSE [] END,
            ['{short}']))
    """.format(
        lorem=_C4_LOREM, brace=_C4_BRACE, js=_C4_JS, short=_C4_SHORT
    )


_C4_ORACLE = f"""
WITH d AS (
    SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS tk
    FROM documents
),
pages AS (
    SELECT doc_id, {_c4_lines_sql()} AS lines FROM d
),
scored AS (
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines, l ->
               list_contains(['.', '!', '?', '"'], l[-1])
               AND len(str_split(l, ' ')) >= 5
               AND NOT contains(lower(l), 'javascript')
           )) AS BIGINT) AS n_kept_lines,
           len(list_filter(lines, l ->
               contains(lower(l), 'lorem ipsum'))) > 0 AS has_lorem,
           len(list_filter(lines, l -> contains(l, '{{'))) > 0
               AS has_brace
    FROM pages
)
SELECT doc_id, n_lines, n_kept_lines, has_lorem, has_brace,
       (n_kept_lines >= 3 AND NOT has_lorem AND NOT has_brace)
           AS c4_keep
FROM scored
"""


@register(
    "text_quality_c4",
    _C4_ORACLE,
    doc="The C4 cleaning rules (Raffel et al. 2020 §2.2, the published "
    "filter stack behind the C4 corpus) as ONE scan: line-level — "
    "keep only lines ending in terminal punctuation, with at least 5 "
    "words, and free of the 'javascript' boilerplate marker; page-"
    "level — drop pages with fewer than 3 surviving sentences, any "
    "'lorem ipsum' filler, or a curly brace (code). The fixture page "
    "(identical construction both engines) chunks each document into "
    "8-word lines and injects one violating line per rule on a "
    "closed-form doc_id schedule, so every rule provably fires. Pure "
    "array/column expressions over one documents scan — whole-stage "
    "codegen, zero shuffle, zero Python — complements "
    "text_quality_gopher as the second published gate of the curation "
    "stack.",
)
def text_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(text, " ")
    sz = F.size(toks)
    nl = F.ceil(sz / F.lit(8.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
            F.when(i % 3 == 2, F.lit("")).otherwise(F.lit(".")),
        ),
    )

    def inject(cond, line):
        return F.when(cond, F.array(F.lit(line))).otherwise(
            F.array().cast("array<string>")
        )

    d = F.col("doc_id")
    lines = F.concat(
        chunks,
        inject(d % 7 == 0, _C4_LOREM),
        inject(d % 5 == 3, _C4_BRACE),
        inject(d % 6 == 2, _C4_JS),
        F.array(F.lit(_C4_SHORT)),
    )
    keep = lambda ln: (  # noqa: E731
        # literal last-char test, NOT a '$'-anchored regex: Java's '$'
        # matches before a trailing newline where RE2's does not, so
        # the regex form would diverge between engine and oracle on
        # any line ending '.\n'
        F.substring(ln, -1, 1).isin(".", "!", "?", '"')
        & (F.size(F.split(ln, " ")) >= 5)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, keep)).cast("bigint").alias("n_kept_lines"),
        F.exists(
            lines, lambda ln: F.contains(F.lower(ln), F.lit("lorem ipsum"))
        ).alias("has_lorem"),
        F.exists(
            lines, lambda ln: F.contains(ln, F.lit("{"))
        ).alias("has_brace"),
    )
    return pages.select(
        "doc_id", "n_lines", "n_kept_lines", "has_lorem", "has_brace",
        (
            (F.col("n_kept_lines") >= 3)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("c4_keep"),
    )


# ---------------------------------------------------------------------------
# Corpus-level line dedup — the C4/RefinedWeb cross-document pass
# ---------------------------------------------------------------------------

_LINE_TOKENS = 10

_LINE_DEDUP_ORACLE = f"""
WITH d AS (
    SELECT doc_id, str_split(lower(COALESCE(text, '')), ' ') AS tk
    FROM documents
),
lines AS (
    SELECT doc_id,
           unnest(list_transform(
               range(0, CAST(ceil(len(tk) / {_LINE_TOKENS}.0) AS BIGINT)),
               i -> list_aggregate(
                   tk[i*{_LINE_TOKENS}+1:i*{_LINE_TOKENS}+{_LINE_TOKENS}],
                   'string_agg', ' ')
           )) AS line,
           unnest(list_transform(
               range(0, CAST(ceil(len(tk) / {_LINE_TOKENS}.0) AS BIGINT)),
               i -> least(len(tk) - i*{_LINE_TOKENS},
                          {_LINE_TOKENS})
           )) AS n_toks
    FROM d
),
freq AS (
    SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY line
)
SELECT l.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_lines,
       CAST(SUM(CASE WHEN f.nd > 1 THEN l.n_toks ELSE 0 END) AS BIGINT)
           AS tokens_removed,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 0 ELSE l.n_toks END) AS BIGINT)
           AS tokens_kept
FROM lines l JOIN freq f ON l.line = f.line
GROUP BY l.doc_id
"""


@register(
    "dedup_lines_corpus",
    _LINE_DEDUP_ORACLE,
    doc="Corpus-level line deduplication — the cross-document pass C4 "
    "(three-sentence spans) and RefinedWeb/Dolma (exact lines) run "
    "over the WHOLE corpus, distinct from any per-document rule: "
    "documents chunk into 10-token lines (the line proxy for this "
    "single-line corpus), every line's document frequency is counted "
    "corpus-wide, and lines appearing in more than one document are "
    "marked removed; per document the report gives line counts and "
    "the token mass removed vs kept — the number a curation run "
    "watches (boilerplate shed). Shape: one scan explodes lines, one "
    "hash aggregate (map-side combine collapses each document's "
    "repeats before the shuffle) builds the corpus frequency table, "
    "one hash join keyed on the line brings frequencies back, one "
    "aggregate rolls up per doc — every stage keyed and linear; at "
    "100 TB the frequency table hash-partitions by line exactly like "
    "the dedup_exact hash groupBy.",
)
def dedup_lines_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(F.lower(text), " ")
    sz = F.size(toks)
    nch = F.ceil(sz / F.lit(float(_LINE_TOKENS))).cast("int")
    k = _LINE_TOKENS
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(toks, i * k + 1, k)).alias("line"),
            F.least(sz - i * k, F.lit(k)).cast("long").alias("n_toks"),
        ),
    )
    lines = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", F.col("c.line").alias("line"),
                F.col("c.n_toks").alias("n_toks"))
    )
    freq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = F.col("nd") > 1
    return (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(dup.cast("int")).cast("bigint").alias("n_dup_lines"),
            F.sum(F.when(dup, F.col("n_toks")).otherwise(0))
            .cast("bigint")
            .alias("tokens_removed"),
            F.sum(F.when(dup, F.lit(0)).otherwise(F.col("n_toks")))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination — embedding-similarity leakage scan
# ---------------------------------------------------------------------------

_DECON_N_EVAL = 25
_DECON_PLANT_MOD = 19
_DECON_COS = 0.9


def _decon_semantic_oracle() -> str:
    from evolution_data_warehouse_spark.queries.llm_ops import DIM

    dot = " + ".join(f"(c.cv[{i}] * e.ev[{i}])" for i in range(1, DIM + 1))
    ncv = " + ".join(f"(c.cv[{i}] * c.cv[{i}])" for i in range(1, DIM + 1))
    nev = " + ".join(f"(e.ev[{i}] * e.ev[{i}])" for i in range(1, DIM + 1))
    return f"""
WITH e AS (
    SELECT vec_id AS eval_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
    FROM embeddings WHERE vec_id < {_DECON_N_EVAL}
),
c0 AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ov
    FROM embeddings WHERE vec_id >= {_DECON_N_EVAL}
),
cm AS (
    SELECT c0.vec_id,
           CASE WHEN c0.vec_id % {_DECON_PLANT_MOD} = 0
                THEN list_transform(e.ev, (x, i) -> x + c0.ov[i] / 100.0)
                ELSE c0.ov END AS cv
    FROM c0 JOIN e ON e.eval_id = c0.vec_id % {_DECON_N_EVAL}
),
scored AS (
    SELECT c.vec_id, e.eval_id,
           ({dot}) / NULLIF(sqrt({ncv}) * sqrt({nev}), 0.0) AS cosine
    FROM cm c, e
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, eval_id ASC) AS rn
    FROM scored
)
SELECT vec_id, eval_id AS nearest_eval, cosine AS max_cos,
       cosine >= {_DECON_COS} AS contaminated
FROM r WHERE rn = 1
"""


@register(
    "decontaminate_semantic",
    _decon_semantic_oracle(),
    doc="Semantic eval-set decontamination — the embedding-similarity "
    "leakage scan modern pipelines run beside decontaminate_ngram's "
    "exact n-gram pass (paraphrased benchmark questions share no "
    "13-gram but sit next to the eval vector in embedding space): "
    "the first 25 vectors stand as the benchmark set; every corpus "
    "vector reports its max cosine and nearest eval item, flagged at "
    ">= 0.9. Contamination is PLANTED closed-form (every 19th corpus "
    "vector is its eval twin plus 1% of itself — cosine ~0.999 "
    "against a 0.49 random background, so the verdict margin is "
    "wide). Scale shape: eval sets are KBs — the eval side BROADCASTS "
    "and the corpus streams through one narrow pass (the allowlisted "
    "broadcast nested-loop, same as sim_ann_bruteforce), one "
    "max-struct aggregate picks the nearest item (ties to the lowest "
    "eval id, mirrored by the oracle's row_number). All double "
    "arithmetic is sequential-fold order on both engines.",
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators import similarity as sim

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(F.col("vec_id") < _DECON_N_EVAL).select(
        F.col("vec_id").alias("eval_id"),
        sim.as_double(F.col("embedding")).alias("_ev"),
    )
    evn = ev.withColumn("_ne", sim.vec_norm(F.col("_ev")))
    c0 = emb.filter(F.col("vec_id") >= _DECON_N_EVAL)
    mixed = F.when(
        F.col("vec_id") % _DECON_PLANT_MOD == 0,
        F.zip_with(
            F.col("_ev"),
            sim.as_double(F.col("embedding")),
            lambda x, o: x + o / F.lit(100.0),
        ),
    ).otherwise(sim.as_double(F.col("embedding")))
    cm = (
        c0.join(
            F.broadcast(ev),
            F.col("vec_id") % _DECON_N_EVAL == F.col("eval_id"),
        )
        .select("vec_id", mixed.alias("_vec"))
        .withColumn("_norm", sim.vec_norm(F.col("_vec")))
    )
    scored = cm.crossJoin(evn).select(
        "vec_id",
        "eval_id",
        sim.cosine(
            F.col("_vec"), F.col("_ev"), F.col("_norm"), F.col("_ne")
        ).alias("cosine"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("eval_id")).alias("negid"),
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.negid")).cast("bigint").alias("nearest_eval"),
        F.col("m.c").alias("max_cos"),
        (F.col("m.c") >= _DECON_COS).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Tokenizer compression ratio — the chars-per-token curation signal
# ---------------------------------------------------------------------------

# keep iff 2 <= chars/subword <= 20, as integer cross-multiplications.
# Natural text under a fitted BPE sits well inside; ~1 means the
# tokenizer can't compress (garbage/unknown script), huge means
# degenerate repetition.
_TOKRATIO_MIN, _TOKRATIO_MAX = 2, 20


def _tok_ratio_oracle() -> str:
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
    SELECT doc_id, str_split_regex(lower(COALESCE(text, '')), '\\s+') AS tk
    FROM documents
),
words AS (
    SELECT doc_id, unnest(tk) AS w FROM toks
),
nz AS (SELECT doc_id, w FROM words WHERE w <> ''),
seg AS (SELECT doc_id, w, str_split({s}, ' ') AS subs FROM nz),
subrows AS (SELECT doc_id, unnest(subs) AS sub FROM seg),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_subwords,
           CAST(SUM(length(sub)) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN ({vocab_case}) = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unk
    FROM subrows GROUP BY doc_id
)
SELECT doc_id, n_chars, n_subwords, n_unk,
       ({_TOKRATIO_MIN} * n_subwords <= n_chars
        AND n_chars <= {_TOKRATIO_MAX} * n_subwords) AS r_compression,
       (10 * n_unk <= n_subwords) AS r_unk,
       ({_TOKRATIO_MIN} * n_subwords <= n_chars
        AND n_chars <= {_TOKRATIO_MAX} * n_subwords
        AND 10 * n_unk <= n_subwords) AS tok_keep
FROM agg
"""


@register(
    "tok_compression_ratio",
    _tok_ratio_oracle(),
    doc="Tokenizer compression-ratio gate — the chars-per-token signal "
    "curation pipelines read off the real tokenizer (text that the "
    "fitted BPE cannot compress is garbage or out-of-distribution; "
    "text that compresses absurdly well is degenerate repetition): "
    "the corpus encodes under the pinned 12-merge vocabulary "
    "(operators/bpe.py — merges run once per DISTINCT word, the "
    "tok_bpe_encode shape), and per doc the subword count, subword "
    "char mass, and unknown-id count gate by integer cross-"
    "multiplication (2 <= chars/subword <= 20, unk <= 10%). "
    "Same linear explode + hash-agg cost as tokenization itself — "
    "the gate is free when run beside tok_bpe_encode at 100 TB.",
)
def tok_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    agg = enc.groupBy("doc_id").agg(
        F.sum(F.length("subword")).cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_subwords"),
        F.sum((F.col("token_id") == -1).cast("int"))
        .cast("bigint")
        .alias("n_unk"),
    )
    r_comp = (_TOKRATIO_MIN * F.col("n_subwords") <= F.col("n_chars")) & (
        F.col("n_chars") <= _TOKRATIO_MAX * F.col("n_subwords")
    )
    r_unk = 10 * F.col("n_unk") <= F.col("n_subwords")
    return agg.select(
        "doc_id", "n_chars", "n_subwords", "n_unk",
        r_comp.alias("r_compression"),
        r_unk.alias("r_unk"),
        (r_comp & r_unk).alias("tok_keep"),
    )


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
    "One narrow mapInPandas stage, zero shuffle — demux byte-walk + "
    "one decode per frame, linear in corpus bytes.",
)
def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_detect(batches):
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )
        from evolution_data_warehouse_spark.operators.video import (
            encode_avi_mjpeg,
            parse_avi_mjpeg,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
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
                rows.append(
                    {
                        "doc_id": d,
                        "n_frames": np.int32(len(pixels)),
                        "n_keyframes": np.int32(len(keyframes)),
                        "first_cut": np.int32(
                            keyframes[1] if len(keyframes) > 1 else -1
                        ),
                        "detect_ok": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
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
    "column expressions over one narrow mapInPandas stage — zero "
    "shuffle, linear in corpus bytes; composes ahead of "
    "dedup_image_phash the way the text gates feed the funnel.",
)
def mm_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(batches):
        from evolution_data_warehouse_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )
        from evolution_data_warehouse_spark.operators.phash import (
            _decode_pixels,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
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
                dec = _decode_pixels(enc(px))
                dh, dw = dec.shape[0], dec.shape[1]
                rng = max(
                    int(dec[:, :, c].max()) - int(dec[:, :, c].min())
                    for c in range(dec.shape[2])
                )
                rows.append(
                    {
                        "doc_id": d,
                        "width": np.int32(dw),
                        "height": np.int32(dh),
                        "px_range": np.int32(rng),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    measured = ids.mapInPandas(
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
    from evolution_data_warehouse_spark.operators.phash import dhash_pairs

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
    from evolution_data_warehouse_spark.operators.caption import (
        caption_cte_chain,
    )

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
    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _phash_family_pixels,
    )
    from evolution_data_warehouse_spark.operators.caption import (
        caption_pair_stats,
    )

    def synth_and_measure(batches):
        from evolution_data_warehouse_spark.operators.multimodal import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )
        from evolution_data_warehouse_spark.operators.phash import (
            _decode_pixels,
            dhash64,
        )

        for pdf in batches:
            rows = []
            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                d = int(doc_id)
                leg = d % 10
                if leg == 8:
                    px = np.full((8, 9, 3), d % 256, dtype=np.uint8)
                elif leg == 9:
                    px = np.zeros((2, 2, 3), dtype=np.uint8)
                    px[:, :, 0] = (16 * np.arange(2))[None, :]
                else:
                    px = _phash_family_pixels(d)
                enc = (encode_bmp, encode_ppm, encode_png)[d % 3]
                dec = _decode_pixels(enc(px))
                rng = max(
                    int(dec[:, :, c].max()) - int(dec[:, :, c].min())
                    for c in range(dec.shape[2])
                )
                rows.append(
                    {
                        "doc_id": d,
                        "source": source,
                        "width": np.int32(dec.shape[1]),
                        "height": np.int32(dec.shape[0]),
                        "px_range": np.int32(rng),
                        "dhash": dhash64(dec),
                    }
                )
            yield pd.DataFrame(rows)

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = docs.mapInPandas(
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
    "exactly by the oracle. One narrow mapInPandas stage, zero "
    "shuffle — composes ahead of dedup_audio_fingerprint the way "
    "mm_image_quality feeds mm_image_curation.",
)
def mm_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_measure(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            decode_wav,
            encode_wav,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                sig = _audio_defect_signal(d)
                if sig is None:
                    n = 64 * (13 + d % 7)
                    t_ = np.arange(n, dtype=np.float64)
                    sig = np.floor(
                        6000.0 * np.sin(2.0 * np.pi * t_ / 64.0) + 0.5
                    ).astype(np.int64)
                out = decode_wav(encode_wav(sig[:, None], 16000, width=2))
                x = out["samples"][:, 0].astype(np.int64)
                rows.append(
                    {
                        "doc_id": d,
                        "n_frames": len(x),
                        "n_silent": int((np.abs(x) < 16).sum()),
                        "n_clipped": int((np.abs(x) >= 32760).sum()),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    m = ids.mapInPandas(
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
    def synth_and_measure(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            decode_wav,
            encode_wav,
        )
        from evolution_data_warehouse_spark.operators.audio_fp import (
            N_BUCKETS,
            audio_fingerprint64,
        )

        for pdf in batches:
            rows = []
            afps: list[int | None] = []
            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                d = int(doc_id)
                sig = _audio_defect_signal(d)
                if sig is None:
                    sig = _afp_family_signal(d)
                out = decode_wav(encode_wav(sig[:, None], 16000, width=2))
                x = out["samples"][:, 0].astype(np.int64)
                n = len(x)
                rows.append(
                    {
                        "doc_id": d,
                        "source": source,
                        "n_frames": n,
                        "n_silent": int((np.abs(x) < 16).sum()),
                        "n_clipped": int((np.abs(x) >= 32760).sum()),
                    }
                )
                # NULL, not 0, for un-fingerprintable clips: 0 is a
                # legitimate fingerprint (all non-increasing block
                # energies), and NULL keys can never equi-join, so a
                # sentinel can never merge unrelated docs even if the
                # duration gate stops excluding them (r10 ADVICE).
                afps.append(audio_fingerprint64(x) if n >= N_BUCKETS else None)
            out_pdf = pd.DataFrame(rows)
            # Explicit nullable Int64: a None in a plain int column
            # would coerce to float64 and corrupt 64-bit fingerprints.
            out_pdf["afp"] = pd.array(afps, dtype="Int64")
            yield out_pdf

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = docs.mapInPandas(
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
    def synth_and_measure(batches):
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )
        from evolution_data_warehouse_spark.operators.phash import (
            dhash64,
        )
        from evolution_data_warehouse_spark.operators.video import (
            encode_avi_mjpeg,
            parse_avi_mjpeg,
        )

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

        for pdf in batches:
            rows = []
            # family siblings re-encode the SAME frames (same pattern,
            # dims, shift) — memoize per batch so each distinct frame
            # is rendered + JPEG-encoded once, not once per member
            frame_cache: dict[tuple, bytes] = {}

            def cached_jpeg(pat, w, h, shift):
                key = (pat, w, h, shift)
                if key not in frame_cache:
                    frame_cache[key] = encode_jpeg(
                        family_frame(pat, w, h, shift)
                    )
                return frame_cache[key]

            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                d = int(doc_id)
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
                rows.append(
                    {
                        "doc_id": d,
                        "source": source,
                        "n_frames": len(parsed["frames"]),
                        "width": np.int32(parsed["width"]),
                        "height": np.int32(parsed["height"]),
                        "dhash": dhash64(key_px),
                    }
                )
            yield pd.DataFrame(rows)

    docs = cpu_repartition(
        t(spark, sf_dir, "documents").select("doc_id", "source")
    )
    measured = docs.mapInPandas(
        synth_and_measure,
        "doc_id long, source string, n_frames long, width int, "
        "height int, dhash long",
    ).localCheckpoint(eager=False)
    quality = (F.col("n_frames") >= 2) & (
        F.least("width", "height") >= 4
    )
    return _curation_funnel(measured, quality, "dhash")


# ---------------------------------------------------------------------------
# URL quality filters — the pre-fetch gate on the crawl frontier
# ---------------------------------------------------------------------------

_URLQ_BLOCK_DOMAINS = ("spam-mill.example", "link-farm.example")
_URLQ_BLOCK_WORDS = ("casino", "viagra")

# The string cast is a {STR} template slot formatted per engine
# (VARCHAR for DuckDB, STRING for Spark) — never a post-hoc
# str.replace over shared SQL, which would silently rewrite any future
# literal containing the type name (r10 ADVICE).
_URLQ_URL_SQL_T = """
CASE CAST(doc_id % 6 AS INT)
     WHEN 0 THEN 'http://spam-mill.example/page/'
          || CAST(doc_id AS {STR})
     WHEN 1 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/' || repeat('x', 300)
     WHEN 2 THEN 'http://99887766554433221100.corpus.local/doc/'
          || CAST(doc_id AS {STR})
     WHEN 3 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local' || repeat('/d', 12) || '/'
          || CAST(doc_id AS {STR})
     WHEN 4 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/best-casino-bonus/'
          || CAST(doc_id AS {STR})
     ELSE 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/article/' || CAST(doc_id AS {STR})
          || '?ref=home&utm_campaign=c' || CAST(doc_id % 7 AS {STR})
     END
"""
_URLQ_URL_SQL = _URLQ_URL_SQL_T.format(STR="VARCHAR")


def _urlq_oracle() -> str:
    blocked_host = " OR ".join(
        f"host = '{d}' OR host LIKE '%.{d}'" for d in _URLQ_BLOCK_DOMAINS
    )
    blocked_word = " OR ".join(
        f"contains(lower(url), '{w}')" for w in _URLQ_BLOCK_WORDS
    )
    return f"""
WITH u AS (SELECT doc_id, {_URLQ_URL_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path
    FROM u
),
m AS (
    SELECT doc_id, url, host,
           CAST(length(url) AS BIGINT) AS url_len,
           CAST(length(host) - length(regexp_replace(host, '[0-9]', '',
                'g')) AS BIGINT) AS host_digits,
           CAST(length(host) AS BIGINT) AS host_len,
           CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)
               AS path_depth,
           CASE WHEN contains(url, '?')
                THEN CAST(1 + length(url) - length(replace(url, '&', ''))
                          AS BIGINT)
                ELSE 0 END AS n_params,
           ({blocked_host}) AS blocked_domain,
           ({blocked_word}) AS blocked_word
    FROM parts
)
SELECT doc_id, url_len, host_digits, path_depth, n_params,
       blocked_domain, blocked_word,
       url_len <= 256 AS r_length,
       2 * host_digits <= host_len AS r_host_digits,
       path_depth <= 10 AS r_path_depth,
       n_params <= 8 AS r_params,
       (url_len <= 256 AND 2 * host_digits <= host_len
        AND path_depth <= 10 AND n_params <= 8
        AND NOT blocked_domain AND NOT blocked_word) AS url_keep
FROM m
"""


@register(
    "web_url_quality",
    _urlq_oracle(),
    doc="URL quality filters (the RefinedWeb/FineWeb pre-fetch gate — "
    "judging a page by its address is free; fetching it is not): URL "
    "length <= 256, digit fraction of the host <= 50% (integer "
    "cross-multiplied), path depth <= 10, query params <= 8, plus "
    "pinned blocklists for domains (exact or subdomain suffix) and "
    "URL substrings. The fixture schedule is closed-form in doc_id — "
    "every 6th URL a blocklisted domain, 6th+1 a 300-char tail, "
    "6th+2 a digit-mill host, 6th+3 a 12-deep path, 6th+4 a spam "
    "keyword; the rest clean article URLs. Pure column expressions "
    "over one scan — composes in FRONT of web_frontier_build's "
    "robots gate, so at 100 TB the cheap string rules prune before "
    "any rule-table join.",
)
def web_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = F.expr(_URLQ_URL_SQL_T.format(STR="STRING"))
    docs = t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    m = docs.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.length("url").cast("bigint").alias("url_len"),
        (
            F.length(host)
            - F.length(F.regexp_replace(host, "[0-9]", ""))
        )
        .cast("bigint")
        .alias("host_digits"),
        F.length(host).cast("bigint").alias("host_len"),
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit(""))))
        .cast("bigint")
        .alias("path_depth"),
        F.when(
            F.contains("url", F.lit("?")),
            1
            + F.length("url")
            - F.length(F.replace(F.col("url"), F.lit("&"), F.lit(""))),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("n_params"),
    )
    blocked_domain = None
    for dname in _URLQ_BLOCK_DOMAINS:
        c = (F.col("host") == dname) | F.col("host").like(f"%.{dname}")
        blocked_domain = c if blocked_domain is None else blocked_domain | c
    blocked_word = None
    for wname in _URLQ_BLOCK_WORDS:
        c = F.contains(F.lower(F.col("url")), F.lit(wname))
        blocked_word = c if blocked_word is None else blocked_word | c
    r_len = F.col("url_len") <= 256
    r_dig = 2 * F.col("host_digits") <= F.col("host_len")
    r_depth = F.col("path_depth") <= 10
    r_par = F.col("n_params") <= 8
    return m.select(
        "doc_id", "url_len", "host_digits", "path_depth", "n_params",
        blocked_domain.alias("blocked_domain"),
        blocked_word.alias("blocked_word"),
        r_len.alias("r_length"),
        r_dig.alias("r_host_digits"),
        r_depth.alias("r_path_depth"),
        r_par.alias("r_params"),
        (
            r_len & r_dig & r_depth & r_par
            & ~blocked_domain & ~blocked_word
        ).alias("url_keep"),
    )


# ---------------------------------------------------------------------------
# Sharded JSONL sink — the training-data handoff format
# ---------------------------------------------------------------------------

_JSONL_SHARDS = 8


def _jsonl_shards_oracle() -> str:
    from evolution_data_warehouse_spark.queries.datapipe import (
        _bucket_sql,
    )

    return f"""
SELECT {_bucket_sql('doc_id', _JSONL_SHARDS)} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY 1
"""


@register(
    "snk_jsonl_shards",
    _jsonl_shards_oracle(),
    doc="Sharded JSONL export — the handoff format LLM training "
    "toolchains actually consume (one JSON object per line, "
    "hash-sharded files a data loader streams independently): "
    "documents serialize with to_json, write partitioned by the "
    "md5-derived shard (split_train_hash's bucket primitive, so "
    "assignment is reproducible anywhere), and the query re-reads "
    "the written TEXT files back, re-parses each line with "
    "from_json, and aggregates per shard — counts, id checksum, and "
    "language cardinality only prove out if serialization, sharded "
    "layout, and re-parse are all lossless. Shard directories are "
    "independent at 100 TB (each file a self-contained JSONL "
    "stream); the write is one hash-partitioned pass.",
)
def snk_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from evolution_data_warehouse_spark.operators.datapipe import (
        hash_bucket,
    )
    from evolution_data_warehouse_spark.queries.relational import (
        _scratch,
    )

    path = _scratch("snk_jsonl_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    payload = F.to_json(F.struct("doc_id", "lang", "source", "text"))
    (
        docs.select(
            hash_bucket(F.col("doc_id"), _JSONL_SHARDS).alias("shard"),
            payload.alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json("value", schema).alias("r"),
        F.input_file_name().alias("_f"),
    ).select(
        "r.doc_id",
        "r.lang",
        F.regexp_extract("_f", r"shard=(\d+)", 1)
        .cast("bigint")
        .alias("shard"),
    )
    return parsed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Column profiler — the ANALYZE-style table report
# ---------------------------------------------------------------------------

# (column, string-rendering expression) pairs: min/max render through
# type-stable casts (BIGINT / DATE / VARCHAR / DECIMAL(18,2)) so the
# two engines print identical strings — raw DOUBLE->string formatting
# differs between JVM and DuckDB and is deliberately avoided.
_PROFILE_COLS = (
    ("o_orderkey", "CAST({v} AS BIGINT)"),
    ("o_custkey", "CAST({v} AS BIGINT)"),
    ("o_orderstatus", "{v}"),
    ("o_totalprice", "CAST({v} AS DECIMAL(18,2))"),
    ("o_orderdate", "CAST({v} AS DATE)"),
)


def _profile_oracle() -> str:
    legs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        legs.append(f"""
SELECT '{name}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
       CAST(MIN({v}) AS VARCHAR) AS min_value,
       CAST(MAX({v}) AS VARCHAR) AS max_value
FROM orders""")
    return " UNION ALL ".join(legs)


@register(
    "quality_profile_table",
    _profile_oracle(),
    doc="Column profiler — the ANALYZE/data-profiling report every "
    "warehouse hands its operators (null counts, distinct "
    "cardinality, min/max per column), complementing "
    "proc_refresh_stats' optimizer-stats leg with a user-facing "
    "one: five orders columns profile in ONE scan (per-column "
    "conditional aggregates, unpivoted to a row per column "
    "JVM-side), exact distincts, and min/max rendered through "
    "type-stable casts so both engines print identical strings. At "
    "100 TB this is the same single-pass multi-aggregate shape as "
    "quality_expectations (count-distinct partials merge map-side); "
    "swap exact distinct for approx_count_distinct when estimates "
    "suffice.",
)
def quality_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    aggs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        aggs += [
            F.count("*").cast("bigint").alias(f"{name}__n"),
            (F.count("*") - F.count(name))
            .cast("bigint")
            .alias(f"{name}__nn"),
            F.countDistinct(name).cast("bigint").alias(f"{name}__nd"),
            F.min(F.expr(v)).cast("string").alias(f"{name}__min"),
            F.max(F.expr(v)).cast("string").alias(f"{name}__max"),
        ]
    one = orders.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"{name}__n").alias("n_rows"),
            F.col(f"{name}__nn").alias("n_null"),
            F.col(f"{name}__nd").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_value"),
            F.col(f"{name}__max").alias("max_value"),
        )
        for name, _ in _PROFILE_COLS
    ]
    return one.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# Streaming quality gate — the continuous-ingest curation twin
# ---------------------------------------------------------------------------


def _stream_gate_oracle() -> str:
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags_sql,
        gopher_metrics_sql,
    )

    m = gopher_metrics_sql("COALESCE(text, '')", prefix="g_")
    gpass = gopher_flags_sql(min_words=20, prefix="g_")["g_gopher_pass"]
    mcols = ", ".join(f"{sql} AS {name}" for name, sql in m.items())
    return f"""
WITH m AS (SELECT source, {mcols} FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {gpass} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gopher_pass
FROM m GROUP BY source
"""


@register(
    "stream_quality_gate",
    _stream_gate_oracle(),
    doc="Streaming curation gate (batch twin): the Gopher rule suite "
    "applied per-source over a document FEED — streaming/events.py::"
    "quality_gate_counts is one logical plan that Structured "
    "Streaming runs incrementally (readStream + availableNow, "
    "asserted equal to this batch result in test_streaming), which "
    "is how a crawl ingests continuously instead of in daily "
    "batches. Gate + one aggregate: per-source partials are the only "
    "state, merged map-side — the same cost incrementally as in "
    "batch (SURVEY §2.9 extension).",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.streaming.events import (
        quality_gate_counts,
    )

    return quality_gate_counts(
        t(spark, sf_dir, "documents").select("source", "text")
    )


# ---------------------------------------------------------------------------
# Hash-Poisson bootstrap — deterministic resampling confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 100
#: nearest-rank 2.5% / 97.5% order statistics, derived from B so a
#: replicate-count change can never silently keep stale ranks
_BOOT_LO_RANK = -(-25 * _BOOT_B // 1000)  # ceil(0.025 * B)
_BOOT_HI_RANK = -(-975 * _BOOT_B // 1000)  # ceil(0.975 * B)
#: Poisson(1) CDF in millionths — integer thresholds so the per-row
#: resample weight is a pure integer comparison chain, no float RNG.
_POISSON_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_sql(hexpr: str) -> str:
    case = " ".join(
        f"WHEN {hexpr} < {thr} THEN {k}"
        for k, thr in enumerate(_POISSON_CDF_PPM)
    )
    return f"CASE {case} ELSE {len(_POISSON_CDF_PPM)} END"


def _bootstrap_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )
    from evolution_data_warehouse_spark.queries.common import davg_sql

    h = (
        content_hash64_sql(
            "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
        )
        + " % 1000000"
    )
    return f"""
WITH rep AS (
    SELECT e.event_id, e.value, bs.b
    FROM events e, (SELECT unnest(range(0, {_BOOT_B})) AS b) bs
),
w AS (
    SELECT b, value, {_boot_weight_sql(f'({h})')} AS k FROM rep
),
means AS (
    SELECT b,
           CAST(SUM(CAST(value AS DECIMAL(28,6)) * k) AS DOUBLE)
               / CAST(SUM(k) AS DOUBLE) AS mean_b
    FROM w GROUP BY b
),
ranked AS (
    SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS r
    FROM means
),
ci AS (
    SELECT MIN(CASE WHEN r = {_BOOT_LO_RANK} THEN mean_b END) AS ci_lo,
           MIN(CASE WHEN r = {_BOOT_HI_RANK} THEN mean_b END) AS ci_hi
    FROM ranked
),
pt AS (
    SELECT {davg_sql('value', 6)} AS point_mean,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
)
SELECT pt.point_mean, pt.n_rows, ci.ci_lo, ci.ci_hi,
       CAST({_BOOT_B} AS BIGINT) AS n_replicates
FROM pt, ci
"""


@register(
    "stats_bootstrap_ci",
    _bootstrap_oracle(),
    doc="Poisson-bootstrap confidence interval for the event-value "
    "mean — the resampling member of the inferential-stats family "
    "(beside the closed-form z/U/KS tests): each (row, replicate) "
    "pair draws its resample multiplicity from Poisson(1) via "
    "md5-hash uniforms against INTEGER CDF thresholds (the standard "
    "streaming bootstrap — no RNG state, reproducible on any "
    "partitioning/engine), replicate means use the exact decimal-"
    "weighted sum, and the 95% CI is the nearest-rank 2.5/97.5 order "
    "statistic of the 100 replicate means (integer ranks, no "
    "interpolation, ties broken by replicate id). Scale: the explode "
    "is x100 but each replicate reduces map-side to one partial per "
    "partition — the bootstrap costs ~B aggregates over one scan, "
    "never B scans; the rank step sorts B rows.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.common import davg

    ev = t(spark, sf_dir, "events").select("event_id", "value")
    rep = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    h = (
        content_hash64(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    )
    k = None
    for kk, thr in enumerate(_POISSON_CDF_PPM):
        k = (
            F.when(h < thr, kk)
            if k is None
            else k.when(h < thr, kk)
        )
    k = k.otherwise(len(_POISSON_CDF_PPM))
    means = (
        rep.select(
            "b",
            (F.col("value").cast("decimal(28,6)") * k).alias("wv"),
            k.alias("k"),
        )
        .groupBy("b")
        .agg(
            (
                F.sum("wv").cast("double")
                / F.sum("k").cast("double")
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b",
        F.row_number().over(W.orderBy("mean_b", "b")).alias("r"),
    )
    ci = ranked.agg(
        F.min(
            F.when(F.col("r") == _BOOT_LO_RANK, F.col("mean_b"))
        ).alias("ci_lo"),
        F.min(
            F.when(F.col("r") == _BOOT_HI_RANK, F.col("mean_b"))
        ).alias("ci_hi"),
    )
    pt = ev.agg(
        davg("value", 6).alias("point_mean"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return pt.crossJoin(ci).select(
        "point_mean", "n_rows", "ci_lo", "ci_hi",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# Weighted percentile — cumulative-weight order statistic
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH w AS (
    SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
),
cum AS (
    SELECT *,
           SUM(wt) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cumw,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS total_weight
    FROM w
),
q AS (
    SELECT *, row_number() OVER (
        PARTITION BY l_returnflag
        ORDER BY l_extendedprice, l_orderkey, l_linenumber
    ) AS rn
    FROM cum WHERE 2 * cumw >= total_weight
)
SELECT l_returnflag,
       l_extendedprice AS weighted_median_price,
       CAST(total_weight AS BIGINT) AS total_weight
FROM q WHERE rn = 1
"""


@register(
    "agg_weighted_percentile",
    _WMEDIAN_ORACLE,
    doc="Weighted median (the quantity-weighted 50th-percentile price "
    "per return flag) by the cumulative-weight order statistic: one "
    "running integer weight sum in price order, the median is the "
    "first row where 2*cumw >= total — no interpolation, no float "
    "arithmetic, fully tie-broken by the line's unique key, so the "
    "answer is a VALUE FROM THE DATA and hash-exact on any engine. "
    "The aggregate family's missing classic beside exact/approx "
    "unweighted percentiles. Scale: one shuffle on the group key; "
    "the running sum is the standard window pass (at extreme group "
    "sizes swap in the two-pass bucketed quantile like "
    "agg_approx_percentile).",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    wo = (
        W.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = li.select(
        "*",
        F.sum("wt").over(wo).alias("cumw"),
        F.sum("wt").over(W.partitionBy("l_returnflag")).alias(
            "total_weight"
        ),
    )
    q = cum.filter(2 * F.col("cumw") >= F.col("total_weight")).select(
        "*",
        F.row_number()
        .over(W.partitionBy("l_returnflag").orderBy(*order))
        .alias("rn"),
    )
    return q.filter(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("weighted_median_price"),
        F.col("total_weight").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Curriculum ordering — quality-phased training schedule
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_metrics_sql,
    )

    m = gopher_metrics_sql("COALESCE(text, '')")
    return f"""
WITH s AS (
    SELECT doc_id,
           {m['n_words']} AS n_words,
           {m['stop_hits']} AS stop_hits
    FROM documents
),
scored AS (
    SELECT doc_id, n_words,
           1000 * stop_hits + n_words AS quality_score
    FROM s
),
phased AS (
    SELECT doc_id, n_words, quality_score,
           NTILE(4) OVER (ORDER BY quality_score DESC, doc_id)
               AS phase
    FROM scored
)
SELECT CAST(phase AS INT) AS phase,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       CAST(MIN(quality_score) AS BIGINT) AS min_score,
       CAST(MAX(quality_score) AS BIGINT) AS max_score
FROM phased GROUP BY phase
"""


@register(
    "pack_curriculum",
    _curriculum_oracle(),
    doc="Curriculum schedule — the training-order stage after "
    "filtering and packing: documents rank by an integer quality "
    "score (1000x stop-word hits + word count — stop-word mass "
    "dominates until length differences reach ~1000 words, the cheap "
    "proxy a curriculum pipeline derives from its gate metrics) and "
    "NTILE into 4 equal phases, highest-quality first, "
    "ties broken by doc_id so the phase assignment is deterministic "
    "on any engine/partitioning. The report gives each phase's doc "
    "and token budget plus its score band — what a trainer consumes "
    "to schedule epochs. One scan + one rank pass; at 100 TB the "
    "NTILE becomes the two-pass bucketed rank every sort-based "
    "layout op here uses (zorder_layout's repartitionByRange shape).",
)
def pack_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_metrics,
    )

    m = gopher_metrics(F.coalesce(F.col("text"), F.lit("")))
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        m["n_words"].alias("n_words"),
        (1000 * m["stop_hits"] + m["n_words"]).alias("quality_score"),
    )
    phased = scored.select(
        "*",
        F.ntile(4)
        .over(W.orderBy(F.col("quality_score").desc(), "doc_id"))
        .alias("phase"),
    )
    return phased.groupBy("phase").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.min("quality_score").cast("bigint").alias("min_score"),
        F.max("quality_score").cast("bigint").alias("max_score"),
    ).select(
        F.col("phase").cast("int").alias("phase"),
        "n_docs", "n_tokens", "min_score", "max_score",
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands — consecutive-day activity streaks
# ---------------------------------------------------------------------------

_STREAK_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
anchored AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INT) AS anchor
    FROM days
),
islands AS (
    SELECT user_id, anchor,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(d) AS streak_start
    FROM anchored GROUP BY user_id, anchor
),
ranked AS (
    SELECT user_id, streak_days, streak_start,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY streak_days DESC, streak_start ASC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_streaks,
           CAST(SUM(streak_days) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_active_days
    FROM islands
)
SELECT user_id, n_active_days, n_streaks,
       streak_days AS max_streak_days,
       streak_start AS max_streak_start
FROM ranked WHERE rn = 1
"""


@register(
    "win_streak_islands",
    _STREAK_ORACLE,
    doc="Gaps-and-islands — the classic consecutive-runs window "
    "pattern (user activity streaks): distinct active days anchor by "
    "`date - row_number()` (consecutive days share an anchor), "
    "islands aggregate to streaks, and each user reports active-day "
    "total, streak count, and the longest streak (ties to the "
    "earliest start — fully deterministic, all date/integer "
    "arithmetic). Completes the window family beside sessions "
    "(win_session_gap sessionizes by GAP LENGTH; islands segment by "
    "exact calendar adjacency). Scale: two window passes partitioned "
    "by user — the same user-cardinality shuffle as every "
    "session/funnel query here.",
)
def win_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    days = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    anchored = days.select(
        "user_id",
        "d",
        F.date_sub(
            F.col("d"),
            F.row_number().over(
                W.partitionBy("user_id").orderBy("d")
            ),
        ).alias("anchor"),
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").cast("bigint").alias("streak_days"),
        F.min("d").alias("streak_start"),
    )
    wu = W.partitionBy("user_id")
    ranked = islands.select(
        "user_id",
        "streak_days",
        "streak_start",
        F.row_number()
        .over(
            wu.orderBy(
                F.col("streak_days").desc(), F.col("streak_start").asc()
            )
        )
        .alias("rn"),
        F.count("*").over(wu).cast("bigint").alias("n_streaks"),
        F.sum("streak_days").over(wu).cast("bigint").alias(
            "n_active_days"
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        "n_active_days",
        "n_streaks",
        F.col("streak_days").alias("max_streak_days"),
        F.col("streak_start").alias("max_streak_start"),
    )


# ---------------------------------------------------------------------------
# Robust outliers — median / MAD (no moments, no float aggregation)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH ranked AS (
    SELECT event_type, value, event_id,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type, value AS median_value
    FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
    SELECT e.event_type, e.value, e.event_id,
           ABS(e.value - m.median_value) AS adev,
           m.median_value
    FROM events e JOIN med m ON e.event_type = m.event_type
),
dranked AS (
    SELECT event_type, adev, median_value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY adev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (
    SELECT event_type, median_value, adev AS mad_value
    FROM dranked WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       m.median_value,
       m.mad_value,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median_value, m.mad_value
"""


@register(
    "stats_mad_outliers",
    _MAD_ORACLE,
    doc="Robust outlier detection by median / MAD (median absolute "
    "deviation) — the moment-free member of the stats family (mean/"
    "stddev z-scores break under the heavy tails they are meant to "
    "find; median/MAD have a 50% breakdown point): per event type, "
    "the nearest-rank median (a VALUE from the data, tie-broken by "
    "event_id — no interpolation, no float aggregation anywhere), "
    "the nearest-rank median of absolute deviations, and the count "
    "beyond the classic 3xMAD fence. Deviations are single IEEE "
    "subtractions of data values, so every number is bit-identical "
    "across engines and partitionings. Scale: two rank passes "
    "partitioned by type + one broadcast-sized (k-row) median join — "
    "the exact-percentile shape, paid twice.",
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    wt = W.partitionBy("event_type")
    ranked = ev.select(
        "*",
        F.row_number().over(wt.orderBy("value", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("value").alias("median_value"))
    dev = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("adev"),
    )
    dranked = dev.select(
        "*",
        F.row_number().over(wt.orderBy("adev", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    mad = dranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("adev").alias("mad_value"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_value")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "median_value", "mad_value", "n_rows",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation — time-series dependence, fixed-point exact
# ---------------------------------------------------------------------------

#: fixed-point quantizer: terms DIVIDE by 1e6 before flooring — the
#: day count is calendar-bounded (~2400) while deviation products grow
#: with SF^2, so quantizing DOWN keeps every per-row value and both
#: sums inside int64 at ANY scale (1000x up-scaling overflowed at
#: sf0.1 — caught loudly by ANSI mode); the ~1e6 absolute quantization
#: error is ~1e-8 relative on sf0.1 terms and identical on both
#: engines, so the ratio stays bit-deterministic.
_ACF_DOWNSCALE = 1_000_000


def _acf_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import dsum_sql

    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
paired AS (
    SELECT d.x, mu.mu, mu.n_days,
           lead(d.x) OVER (ORDER BY d.day) AS x_next
    FROM daily d, mu
),
terms AS (
    SELECT n_days,
           CAST(floor((x - mu) * (x_next - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACF_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT MAX(n_days) AS n_days,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf_lag1
FROM terms
"""


@register(
    "ts_acf_lag1",
    _acf_oracle(),
    doc="Lag-1 autocorrelation of the daily revenue series — the "
    "time-series dependence statistic beside CUSUM/seasonality: "
    "daily sums are exact decimal aggregates, the series mean is one "
    "decimal sum + one division, and each (x_t - mu)(x_t+1 - mu) "
    "product quantizes to fixed point BEFORE summation (the "
    "elementwise-means discipline — double product sums are "
    "summation-order-dependent, floor(term*1000) BIGINT sums are "
    "not), so the statistic is bit-identical on any partitioning. "
    "The lead() pairing is one day-ordered window over the "
    "day-cardinality frame; everything after the daily aggregate is "
    "model-sized regardless of corpus scale.",
)
def ts_acf_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.common import dsum

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
    )
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    paired = daily.crossJoin(mu).select(
        "x",
        "mu",
        "n_days",
        F.lead("x").over(W.orderBy("day")).alias("x_next"),
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_next") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACF_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        "n_days", num_q.alias("num_q"), den_q.alias("den_q")
    )
    return terms.agg(
        F.max("n_days").alias("n_days"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf_lag1"),
    )
