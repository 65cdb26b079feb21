"""LLM training-data pipeline operators as oracle-checked queries.

Beyond the reference's own surface (driver north star): deduplication,
similarity search, text analysis, multimodal plumbing — each over the
documents / embeddings testdata tables.

Oracle-parity notes:
* md5 is the cross-engine hash primitive (identical hex in Spark and
  DuckDB) — all content hashing routes through it.
* vector math is done in DOUBLE with an explicit sequential fold order
  on both sides, so cosines are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators import similarity as sim
from evolution_data_warehouse_spark.operators import textops
from evolution_data_warehouse_spark.operators.multimodal import decode_documents
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    fpq,
    fpq_sql,
    register,
    t,
)

DIM = 64  # embedding dimensionality of the testdata


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    "SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_doc_id, "
    "COUNT(*) AS n_copies FROM documents GROUP BY md5(text)",
    doc="Exact dedup: hash-groupBy on content. One shuffle on the hash; "
    "map-side partial aggregation collapses copies early — the plan that "
    "holds at 100 TB.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    "SELECT doc_id, "
    "CAST(len(str_split(text, ' ')) AS INT) AS n_tokens_ws, "
    f"CAST(len(regexp_extract_all(text, '{textops.TOKEN_RE}')) AS INT) AS n_tokens_re "
    "FROM documents",
    doc="Token counting: whitespace + BPE-ish regex tokenizer.",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_ws, n_re = textops.token_counts(F.col("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id", n_ws.alias("n_tokens_ws"), n_re.alias("n_tokens_re")
    )


_EN_STOPS_SQL = "['the','and','of','to','a']"
_QUALITY_ORACLE = f"""
WITH q AS (
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_obs,
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_filter(str_split(lower(text), ' '),
                    x -> list_contains({_EN_STOPS_SQL}, x))) AS INT) AS stop_hits
    FROM documents
)
SELECT doc_id, n_chars_obs, n_tokens,
       CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)
           AS stopword_ratio,
       CAST(n_chars_obs - (n_tokens - 1) AS DOUBLE)
           / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) AS avg_token_len
FROM q
"""


@register(
    "text_quality",
    _QUALITY_ORACLE,
    doc="Quality scoring: length / stopword-ratio / token-shape features — "
    "pure column expressions, streams at scan speed.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars_obs"),
        F.size(textops.tokens_ws(F.col("text"))).alias("n_tokens"),
        textops.stopword_hits(F.col("text"), textops.STOPWORDS["en"]).alias(
            "stop_hits"
        ),
    )
    nt = F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0))
    return df.select(
        "doc_id",
        "n_chars_obs",
        "n_tokens",
        (F.col("stop_hits").cast("double") / nt).alias("stopword_ratio"),
        ((F.col("n_chars_obs") - (F.col("n_tokens") - 1)).cast("double") / nt).alias(
            "avg_token_len"
        ),
    )


def _langid_oracle() -> str:
    langs = sorted(textops.STOPWORDS)
    score_cols = ", ".join(
        "CAST(len(list_filter(str_split(lower(text), ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in textops.STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH s AS (SELECT doc_id, lang AS labeled_lang, {score_cols} FROM documents)
SELECT doc_id, labeled_lang, CASE {chain} END AS predicted_lang FROM s
"""


@register(
    "text_langid",
    _langid_oracle(),
    doc="Language ID via stopword-hit heuristic, deterministic argmax "
    "(first-wins in lang order).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = textops.lang_scores(F.col("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        textops.predict_lang(scores).alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    "SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
    "str_split(lower(text), ' '))), ' ')) AS fingerprint FROM documents",
    doc="Document fingerprint: md5 over the sorted distinct token set "
    "(bag-of-words canonicalization key).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", textops.fingerprint(F.col("text")).alias("fingerprint")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

_JACCARD_MIN = 0.1

_SHINGLES_SQL = """
SELECT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
)
"""

from evolution_data_warehouse_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_SHINGLE_DF as _MAX_SHINGLE_DF,
)

_NGRAM_ORACLE = f"""
WITH sh0 AS ({_SHINGLES_SQL}),
shu AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle_h
       FROM sh0),
sh AS (SELECT doc_id, shingle_h FROM shu
       QUALIFY COUNT(*) OVER (PARTITION BY shingle_h) <= {_MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE)
       / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE)
      / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {_JACCARD_MIN}
"""


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → distinct 3-gram word shingles (exploded).

    The shingle build (split + transform + array_distinct + explode) is
    the CPU-heavy stage of every dedup pipeline; a corpus that arrives
    in fewer input splits than the cluster has cores would serialize
    it. Spread the raw docs to full width first — the raw-text shuffle
    is tiny next to the exploded output, and the guard never *reduces*
    an already-wide scan (the 100 TB case, where the scan brings
    thousands of splits on its own).
    """
    docs = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    shingles = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2), F.element_at(toks, i + 3)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


@register(
    "dedup_ngram_jaccard",
    _NGRAM_ORACLE,
    doc="n-gram Jaccard near-dup: distinct 3-gram shingles, self-join on "
    "shingle for intersection counts, |A∪B| = |A|+|B|-|A∩B| over the "
    "df-capped shingle sets. Shingles with document frequency > "
    "DEFAULT_MAX_SHINGLE_DF are dropped before the self-join (standard "
    "discard-super-frequent-shingles step): one boilerplate shingle "
    "shared by m docs would emit m·(m-1)/2 join rows — quadratic at "
    "corpus scale. Cap interpolated into the oracle.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        cap_shingle_df,
        content_hash64,
    )

    # Join on the 60-bit shingle hash, not the string: ~10x smaller
    # shuffle payload for the self-join, identical counts (and the same
    # hash on the oracle side). Reused three times (sizes + both join
    # sides); eager localCheckpoint materializes once with reclaimable
    # blocks instead of a cache pinned until an unpersist nobody owns.
    # The df cap runs BEFORE the checkpoint so the materialized relation
    # is already hot-key-free.
    sh = (
        cap_shingle_df(
            _doc_shingles(spark, sf_dir).select(
                "doc_id", content_hash64(F.col("shingle")).alias("shingle_h")
            )
        )
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    out = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= _JACCARD_MIN)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# embedding cosine near-dup + ANN
# ---------------------------------------------------------------------------

_COS_MIN = 0.7


def _dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def _sqnorm_sql(alias: str) -> str:
    return " + ".join(
        f"CAST({alias}.embedding[{i}] AS DOUBLE) * CAST({alias}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


_COSINE_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, embedding,
           sqrt({_sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({_dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ({_dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) >= {_COS_MIN}
"""


@register(
    "dedup_embedding_cosine",
    _COSINE_ORACLE,
    doc="Embedding-cosine near-dup with label blocking (pairs only within "
    "a label bucket — the blocking key that keeps all-pairs sub-quadratic; "
    "at scale the LSH signature replaces the label as bucket).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = sim.with_norm(t(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = a.join(
        b,
        (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")),
    )
    out = pairs.withColumn(
        "cosine", sim.cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    )
    return out.filter(F.col("cosine") >= _COS_MIN).select("vec_a", "vec_b", "cosine")


_ANN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({_sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ({_dot_sql('q', 'c')}) / NULLIF(q.norm * c.norm, 0.0) AS cosine
    FROM q JOIN e c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


@register(
    "sim_ann_bruteforce",
    _ANN_ORACLE,
    doc="Exact top-k cosine neighbors (brute force baseline): query side "
    "broadcast, corpus scan stays parallel; per-query row_number top-k.",
)
def sim_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Corpus-side spread: the per-row cosine math otherwise runs inside
    # the under-split embeddings scan stage (single-row-group file).
    emb = cpu_repartition(t(spark, sf_dir, "embeddings"), "vec_id")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.brute_force_topk(queries, emb, k=10)


# ---------------------------------------------------------------------------
# multimodal plumbing (mapInPandas, fake decode)
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
    doc="Multimodal decode plumbing: binary payload column → mapInPandas "
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
    "bug breaks the hash. Two narrow mapInPandas stages, no shuffle; "
    "baseline JPEG decodes for real too (operators/jpeg.py, "
    "exercised by mm_decode_jpeg).",
)
def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_documents_real,
    )

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
    import numpy as np
    import pandas as pd

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_png_text,
        encode_png,
    )

    def synth(batches):
        for pdf in batches:
            px = np.zeros((2, 2, 3), dtype=np.uint8)
            payloads = [
                encode_png(
                    px,
                    text={
                        "title": f"doc-{int(r.doc_id)}",
                        "lang": str(r.lang),
                        "source": str(r.source),
                    },
                )
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    def parse(batches):
        for pdf in batches:
            metas = [decode_png_text(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "title": [m.get("title") for m in metas],
                    "lang_meta": [m.get("lang") for m in metas],
                    "source_meta": [m.get("source") for m in metas],
                    "n_chunks": pd.Series(
                        [len(m) for m in metas], dtype="int32"
                    ),
                }
            )

    payloads = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source")
        .mapInPandas(synth, "doc_id long, payload binary")
    )
    return payloads.mapInPandas(
        parse,
        "doc_id long, title string, lang_meta string, "
        "source_meta string, n_chunks int",
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup, SimHash, hyperplane-LSH ANN
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BUCKET,
    MERSENNE_P,
    MINHASH_COEFFS,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    content_hash64_sql,
    minhash_lsh_pairs,
    simhash,
)


def _mh_sql_fragments() -> dict[str, str]:
    """Shared SQL fragments for every MinHash oracle: the universal-hash
    input, the K minima aggregate, the banded-key expansion, and the
    equal-minhash count. One source of truth — a change to coefficient
    handling or band-key formatting cannot silently diverge one oracle.
    """
    hm = f"{content_hash64_sql('shingle')} % {MERSENNE_P}"
    mh_cols = ", ".join(
        f"MIN(({a} * hm + {b}) % {MERSENNE_P}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = []
    for b in range(N_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = (
            "concat_ws('|', "
            + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            + ")"
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS band_key FROM mh"
        )
    eq = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    return {
        "hm": hm,
        "mh_cols": mh_cols,
        "bands": " UNION ALL ".join(band_selects),
        "eq": eq,
    }


def _minhash_oracle() -> str:
    f = _mh_sql_fragments()
    hm, mh_cols, bands, eq = f["hm"], f["mh_cols"], f["bands"], f["eq"]
    # Mirrors minhash_lsh_pairs' default-on hot-bucket guard: the
    # threshold is interpolated from operators/dedup.py's
    # DEFAULT_MAX_BUCKET so engine and oracle cannot diverge silently,
    # and the window-count formulation matches the engine's plan shape.
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, {hm} AS hm FROM sh),
mh AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id),
bands_raw AS ({bands}),
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
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(({eq}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) AS est_jaccard
FROM cand
JOIN mh sa ON doc_a = sa.doc_id
JOIN mh sb ON doc_b = sb.doc_id
"""


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    doc="MinHash + banded LSH near-dup detection: shingles → K=16 "
    "universal-hash minima → 4 bands of 4 → candidate pairs share a "
    "band bucket → estimated Jaccard = equal-minhash fraction. The "
    "pair join runs on the LSH bucket, never all-pairs — the plan that "
    "survives 100 TB. Coefficients are fixed literals (seeded) so "
    "signatures reproduce across engines.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(_doc_shingles(spark, sf_dir))


def _simhash_oracle() -> str:
    h = content_hash64_sql("token")
    sums = ", ".join(
        f"SUM(((h >> {k}) & 1) * 2 - 1) AS s{k}" for k in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN {2**k} ELSE 0 END)" for k in range(SIMHASH_BITS)
    )
    return f"""
WITH tk AS (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token FROM documents
),
hh AS (SELECT doc_id, {h} AS h FROM tk),
s AS (SELECT doc_id, {sums} FROM hh GROUP BY doc_id),
sig AS (SELECT doc_id, CAST(({sig}) AS INT) AS simhash FROM s)
SELECT doc_id, simhash,
       MIN(doc_id) OVER (PARTITION BY simhash) AS canonical_doc_id
FROM sig
"""


@register(
    "dedup_simhash",
    _simhash_oracle(),
    doc="SimHash fingerprinting: 16-bit majority-vote signature over "
    "token hashes; identical signatures → dup group (canonical = min "
    "doc_id). Hamming-ball search at scale uses bit-band LSH on the "
    "signature, same shape as dedup_minhash_lsh.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    sig = simhash(tokens)
    return sig.select(
        "doc_id",
        "simhash",
        F.min("doc_id").over(W.partitionBy("simhash")).alias("canonical_doc_id"),
    )


import numpy as _np  # noqa: E402

_PLANES = _np.random.default_rng(20260813).normal(size=(8, DIM)).tolist()


def _lsh_bucket_sql() -> str:
    """The 8-bit hyperplane-signature bucket expression over an
    ``embedding`` column — one source of truth shared by the
    sim_ann_lsh oracle and extensions_r13's sim_lsh_recall_eval."""
    plane_terms = []
    for i, plane in enumerate(_PLANES):
        dot = " + ".join(
            f"(CAST(embedding[{j+1}] AS DOUBLE) * {plane[j]:.17e})"
            for j in range(DIM)
        )
        plane_terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {2**i} ELSE 0 END)")
    return " + ".join(plane_terms)


def _ann_lsh_oracle() -> str:
    bucket = _lsh_bucket_sql()
    return f"""
WITH b AS (SELECT vec_id, CAST(({bucket}) AS INT) AS bucket FROM embeddings)
SELECT vec_id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS n_in_bucket
FROM b
"""


@register(
    "sim_ann_lsh",
    _ann_lsh_oracle(),
    doc="Random-hyperplane LSH bucketing for ANN: 8 fixed literal planes "
    "→ 8-bit sign signature → equi-joinable bucket id. Neighbor search "
    "becomes a shuffle on bucket (plus probing adjacent buckets), "
    "replacing the O(n²) scan of sim_ann_bruteforce at scale.",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        as_double,
        hyperplane_signature,
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("_vec")
    )
    b = e.select(
        "vec_id", hyperplane_signature(F.col("_vec"), _PLANES).alias("bucket")
    )
    return b.select(
        "vec_id",
        "bucket",
        F.count("*").over(W.partitionBy("bucket")).alias("n_in_bucket"),
    )


# ---------------------------------------------------------------------------
# text redaction + vector centroid / k-means assignment step
# ---------------------------------------------------------------------------


@register(
    "text_redact",
    "SELECT doc_id, regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), "
    "'(key|customer)', '<ENT>', 'g') AS redacted FROM documents",
    doc="PII-style redaction: numeric spans and entity tokens replaced "
    "inline — a streaming-safe scrub pass (pure regexp, scan speed).",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"),
            "(key|customer)",
            "<ENT>",
        ).alias("redacted"),
    )


# Fixed-point sums (floor(v·1e12) as int64) instead of decimal casts:
# double→decimal rounding modes differ between engines at representation
# boundaries, while floor(x*1e12) is pure IEEE arithmetic — identical
# everywhere — and the integer sum is exact and order-independent.
_CENTROID_ORACLE = """
SELECT label, CAST(i AS INT) AS dim,
       (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12) AS BIGINT))
             AS DOUBLE) / 1e12) / CAST(COUNT(*) AS DOUBLE) AS centroid
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i
"""


@register(
    "sim_centroid",
    _CENTROID_ORACLE,
    doc="Per-label centroid (long form: label, dim, value) — the k-means "
    "update step as one posexplode + hash aggregate; fixed-point sums "
    "keep it order-independent.",
)
def sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import as_double

    e = t(spark, sf_dir, "embeddings").select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "v")
    )
    return (
        e.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(
            (
                (
                    F.sum(F.floor(F.col("v") * 1e12).cast("long")).cast("double")
                    / F.lit(1e12)
                )
                / F.count("*").cast("double")
            ).alias("centroid")
        )
    )


_KM_CENTROIDS = _np.random.default_rng(7).normal(size=(4, DIM)).tolist()


def _km_oracle() -> str:
    dists = []
    for c in _KM_CENTROIDS:
        terms = " + ".join(
            f"((CAST(embedding[{j+1}] AS DOUBLE) - {c[j]:.17e}) "
            f"* (CAST(embedding[{j+1}] AS DOUBLE) - {c[j]:.17e}))"
            for j in range(DIM)
        )
        dists.append(f"({terms})")
    least = f"least({', '.join(f'd{k}' for k in range(4))})"
    chain = " ".join(
        f"WHEN d{k} <= {least} THEN {k}" for k in range(4)
    )
    d_cols = ", ".join(f"{d} AS d{k}" for k, d in enumerate(dists))
    return f"""
WITH d AS (SELECT vec_id, {d_cols} FROM embeddings)
SELECT vec_id, CAST(CASE {chain} END AS INT) AS cluster FROM d
"""


@register(
    "sim_kmeans_assign",
    _km_oracle(),
    doc="k-means assignment step: nearest of 4 fixed literal centroids "
    "by squared L2, deterministic first-wins argmin. One scan, no "
    "shuffle — the iterative-ML step shape (centroid update is "
    "sim_centroid).",
)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import as_double

    e = cpu_repartition(t(spark, sf_dir, "embeddings"), "vec_id").select(
        "vec_id", as_double(F.col("embedding")).alias("_v")
    )
    dist_cols = []
    for k, c in enumerate(_KM_CENTROIDS):
        cvec = F.array(*[F.lit(float(x)) for x in c])
        d = F.aggregate(
            F.zip_with(F.col("_v"), cvec, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dist_cols.append(d.alias(f"d{k}"))
    d = e.select("vec_id", *dist_cols)
    best = F.least(*[F.col(f"d{k}") for k in range(4)])
    assign = None
    for k in range(4):
        cond = F.col(f"d{k}") <= best
        assign = F.when(cond, k) if assign is None else assign.when(cond, k)
    return d.select("vec_id", assign.cast("int").alias("cluster"))


def _ivf_oracle() -> str:
    dist_exprs = []
    for c in _KM_CENTROIDS:
        terms = " + ".join(
            f"((CAST(embedding[{j+1}] AS DOUBLE) - {c[j]:.17e}) "
            f"* (CAST(embedding[{j+1}] AS DOUBLE) - {c[j]:.17e}))"
            for j in range(DIM)
        )
        dist_exprs.append(f"({terms})")
    d_cols = ", ".join(f"{d} AS d{k}" for k, d in enumerate(dist_exprs))
    long_union = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS centroid_id, d{k} AS dist FROM d"
        for k in range(len(_KM_CENTROIDS))
    )
    return f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({_sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
d AS (SELECT vec_id, {d_cols} FROM embeddings),
long AS ({long_union}),
ranked AS (
    SELECT vec_id, centroid_id, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rnk
    FROM long
),
corpus_b AS (SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
             FROM ranked WHERE rnk = 1),
probes AS (SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
           FROM ranked WHERE rnk <= 2 AND vec_id < 5),
cand AS (
    SELECT p.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM probes p JOIN corpus_b cb
      ON p.centroid_id = cb.centroid_id AND p.vec_id <> cb.vec_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           ({_dot_sql('q', 'c')}) / NULLIF(q.norm * c.norm, 0.0) AS cosine
    FROM cand
    JOIN e q ON q.vec_id = cand.query_id
    JOIN e c ON c.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


@register(
    "sim_ann_ivf",
    _ivf_oracle(),
    doc="IVF-style ANN: coarse-quantize the corpus into inverted lists "
    "(nearest of 4 literal centroids — the codebook shared with "
    "sim_kmeans_assign), multi-probe the query's 2 nearest lists, exact "
    "cosine re-rank of candidates only. Search cost scales with list "
    "size, not corpus size — the middle path between sim_ann_bruteforce "
    "(exact, O(Q·N)) and sim_ann_lsh (hyperplane buckets).",
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        ivf_assign,
        with_norm,
    )

    e = with_norm(t(spark, sf_dir, "embeddings")).select(
        "vec_id", "_vec", "_norm"
    )
    corpus_b = ivf_assign(e, _KM_CENTROIDS, n_probe=1)
    queries_b = ivf_assign(
        e.filter(F.col("vec_id") < 5), _KM_CENTROIDS, n_probe=2
    )
    cand = (
        queries_b.alias("qb")
        .join(corpus_b.alias("cb"), "centroid_id")
        .filter(F.col("qb.vec_id") != F.col("cb.vec_id"))
        .select(
            F.col("qb.vec_id").alias("query_id"),
            F.col("cb.vec_id").alias("neighbor_id"),
        )
    )
    q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("_vec").alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_vec").alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cosine",
            sim.cosine(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# multimodal breadth: resize / frame-sample / audio features; grouped
# applyInPandas normalization
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.operators.multimodal import (  # noqa: E402
    audio_features_documents,
    frame_sample_documents,
    resize_documents,
)

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
    doc="Multimodal resize plumbing: mapInPandas batch op deriving the "
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
    "from the byte payload via mapInPandas (librosa slot in production).",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_features_documents(t(spark, sf_dir, "documents"))


_ZSCORE_ORACLE = """
WITH g AS (
    SELECT source, COUNT(*) AS n,
           SUM(n_chars) AS s, SUM(n_chars * n_chars) AS ss
    FROM documents GROUP BY source
)
SELECT doc_id, d.source,
       CASE WHEN n > 1 AND (n * ss - s * s) > 0 THEN
            (CAST(n_chars AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt(CAST(n * ss - s * s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       END AS z
FROM documents d JOIN g USING (source)
"""


@register(
    "pandas_zscore",
    _ZSCORE_ORACLE,
    doc="Grouped applyInPandas operator (per-source z-score of document "
    "length). Statistics come from exact integer sums so the Arrow "
    "round-trip is bit-deterministic — the pattern for any custom "
    "per-group pandas op that must stay reproducible.",
)
def pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        s = int(pdf["n_chars"].sum())
        ss = int((pdf["n_chars"].astype("int64") ** 2).sum())
        num = n * ss - s * s
        if n > 1 and num > 0:
            mean = float(s) / float(n)
            std = math.sqrt(float(num) / (float(n) * float(n)))
            z = (pdf["n_chars"].astype("float64") - mean) / std
        else:
            z = pd.Series([None] * n, dtype="float64")
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "source": pdf["source"], "z": z}
        )

    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .groupBy("source")
        .applyInPandas(per_group, "doc_id long, source string, z double")
    )


# ---------------------------------------------------------------------------
# dedup clustering (connected components) + TF-IDF scoring
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.operators.dedup import (  # noqa: E402
    connected_components,
    minhash_lsh_pairs,
)

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, ({content_hash64_sql('shingle')}) % {MERSENNE_P} AS hm FROM sh),
mh AS (SELECT doc_id, {", ".join(
    f"MIN(({a} * hm + {b}) % {MERSENNE_P}) AS mh{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)} FROM h GROUP BY doc_id),
bands_raw AS ({" UNION ALL ".join(
    "SELECT doc_id, %d AS band, concat_ws('|', %s) AS band_key FROM mh"
    % (b, ", ".join(
        f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)
    ))
    for b in range(N_BANDS)
)}),
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
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS n, doc_b AS m FROM cand
    UNION SELECT doc_b, doc_a FROM cand
),
reach(node, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.n, r.label FROM reach r JOIN edges e ON e.m = r.node
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""


@register(
    "dedup_clusters",
    _CLUSTERS_ORACLE,
    doc="Duplicate-cluster assignment: connected components (min-label "
    "propagation to a fixpoint) over the MinHash-LSH candidate graph — "
    "the final step that turns pairwise candidates into canonical "
    "cluster ids for keep-one-per-cluster dedup.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id")
    # checkpoint storage: the signatures are consumed once here (the
    # edge list is immediately checkpointed inside connected_components)
    # and must not stay pinned in the CacheManager afterwards.
    pairs = minhash_lsh_pairs(
        _doc_shingles(spark, sf_dir), sig_storage="checkpoint"
    ).select("doc_a", "doc_b")
    return connected_components(docs, pairs)


_KEEP_CANONICAL_ORACLE = f"""
WITH clusters AS ({_CLUSTERS_ORACLE})
SELECT cluster_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
FROM clusters GROUP BY cluster_id
"""


@register(
    "dedup_keep_canonical",
    _KEEP_CANONICAL_ORACLE,
    doc="Keep-one-per-cluster dedup output: the canonical document of "
    "each duplicate cluster (its min-label representative) with the "
    "cluster's size — the table a training pipeline actually "
    "materializes after near-dup clustering.",
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = dedup_clusters(spark, sf_dir)
    return (
        cc.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .select(F.col("cluster_id").alias("doc_id"), "cluster_size")
    )


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
    from evolution_data_warehouse_spark.operators.similarity import as_double

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


_TFIDF_TOP_K = 5
# Linear inverse document frequency (tf * N / df) instead of log-idf:
# ln() is only ~1-ulp reproducible across libm implementations, which
# breaks bit-exact oracle matching; the linear variant is exact integer
# arithmetic and preserves the ranking behavior needed here.
_TFIDF_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, token,
           CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)
               AS score
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, score, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
    FROM scored
) WHERE rank <= {_TFIDF_TOP_K}
"""


@register(
    "text_tfidf",
    _TFIDF_ORACLE,
    doc="Top-k characteristic terms per document by tf·(N/df) weighting "
    "(linear idf — see oracle note), fully tie-broken ranking.",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Same single-split guard as _doc_shingles: the tokenize+explode is
    # the heavy stage; never let one input split serialize it.
    wide = cpu_repartition(docs, "doc_id")
    tk = wide.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tk.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size folded into the plan as a broadcast 1-row aggregate
    # (mirrors the oracle's CROSS JOIN n): the whole query is one job,
    # instead of a separate driver-side count() scan of documents.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df_, "token").crossJoin(n).select(
        "doc_id",
        "token",
        (
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("df").cast("double")
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", "token", "score", "rank")
    )


_EMB_LSH_COS_MIN = 0.15


def _emb_lsh_pairs_oracle() -> str:
    plane_terms = []
    for i, plane in enumerate(_PLANES):
        dot = " + ".join(
            f"(CAST(embedding[{j+1}] AS DOUBLE) * {plane[j]:.17e})"
            for j in range(DIM)
        )
        plane_terms.append(f"(CASE WHEN ({dot}) >= 0 THEN {2**i} ELSE 0 END)")
    bucket = " + ".join(plane_terms)
    return f"""
WITH e AS (
    SELECT vec_id, embedding,
           CAST(({bucket}) AS INT) AS bucket,
           sqrt({_sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({_dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ({_dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0)
      >= {_EMB_LSH_COS_MIN}
"""


@register(
    "dedup_embedding_lsh",
    _emb_lsh_pairs_oracle(),
    doc="Embedding near-dup at scale: candidate pairs come from the "
    "hyperplane-LSH bucket (equi-join, no all-pairs), then exact cosine "
    "over the candidates — composes sim_ann_lsh's bucketing with "
    "dedup_embedding_cosine's scoring.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        as_double,
        cosine,
        hyperplane_signature,
        vec_norm,
    )

    e = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("_vec"))
        .withColumn("bucket", hyperplane_signature(F.col("_vec"), _PLANES))
        .withColumn("_norm", vec_norm(F.col("_vec")))
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("bucket").alias("bucket_a"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    pairs = a.join(
        b,
        (F.col("bucket_a") == F.col("bucket_b"))
        & (F.col("vec_a") < F.col("vec_b")),
    )
    out = pairs.withColumn(
        "cosine", cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    )
    return out.filter(F.col("cosine") >= _EMB_LSH_COS_MIN).select(
        "vec_a", "vec_b", "cosine"
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH tk AS (
    SELECT doc_id, unnest(str_split(lower(text), ' ')) AS token FROM documents
),
cnt AS (
    SELECT doc_id, token, COUNT(*) AS c FROM tk GROUP BY doc_id, token
),
agg AS (
    SELECT doc_id,
           CAST(SUM(c) AS INT) AS n_tokens,
           CAST(COUNT(*) AS INT) AS n_distinct,
           CAST(MAX(c) AS INT) AS top_token_n
    FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_token_n,
       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS dup_word_ratio,
       CAST(top_token_n AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS top_token_ratio
FROM agg
"""


@register(
    "text_repetition",
    _REPETITION_ORACLE,
    doc="Repetition signals for corpus quality filtering (the "
    "Gopher-rule shape: excessive duplicate words / one dominant "
    "token mark low-quality docs): duplicate-word fraction and "
    "top-token frequency share per document. One explode + two hash "
    "aggregates, partials combined map-side — linear at corpus scale. "
    "Ratios are single IEEE divisions of exact integer counts, so "
    "they are bit-identical across engines.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    cnt = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_tokens"),
        F.count("*").cast("int").alias("n_distinct"),
        F.max("c").cast("int").alias("top_token_n"),
    )
    nt = F.col("n_tokens").cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / nt).alias(
            "dup_word_ratio"
        ),
        (F.col("top_token_n").cast("double") / nt).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram statistics + embedding hygiene
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = """
WITH bg AS (
    SELECT unnest(list_transform(
               range(1, greatest(len(tk), 1)),
               i -> tk[i] || ' ' || tk[i+1]
           )) AS bigram
    FROM (SELECT str_split(lower(text), ' ') AS tk FROM documents)
),
counted AS (
    SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram
)
SELECT prefix, bigram, cnt, CAST(rnk AS INT) AS rnk FROM (
    SELECT str_split(bigram, ' ')[1] AS prefix, bigram, cnt,
           ROW_NUMBER() OVER (
               PARTITION BY str_split(bigram, ' ')[1]
               ORDER BY cnt DESC, bigram ASC
           ) AS rnk
    FROM counted WHERE cnt >= 5
) WHERE rnk <= 3
"""


@register(
    "text_bigram_topk",
    _BIGRAM_ORACLE,
    doc="Corpus bigram language-model statistics: top-3 continuations "
    "per prefix token by corpus count (min support 5) — the n-gram-LM "
    "table a data pipeline derives for quality scoring and generation "
    "heuristics. One explode + hash aggregate; the per-prefix rank is "
    "bounded per partition (WindowGroupLimit shape), tie-broken by the "
    "bigram text.",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        t(spark, sf_dir, "documents")
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    prefix = F.split(F.col("bigram"), " ").getItem(0)
    w = W.partitionBy("prefix").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counted.withColumn("prefix", prefix)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("prefix", "bigram", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


# Embedding-norm outlier audit: vector-hygiene report flagging vectors
# whose L2 norm sits more than 3 sigma above the corpus mean (broken
# encoders, corrupted rows, unnormalized batches). The norm is the
# sequential-fold chain (bit-identical to the oracle's spelled-out
# sum); mean/sigma come from fixed-point integer sums of the norms, so
# the threshold — and therefore the flag — is bit-identical too.
_NORM_SQL = f"sqrt({_sqnorm_sql('embeddings')})"
_NORM_STATS_ORACLE = f"""
WITH e AS (
    SELECT vec_id, {_NORM_SQL} AS norm FROM embeddings
),
stats AS (
    SELECT CAST(SUM(CAST(floor(norm * 1e12) AS BIGINT)) AS DOUBLE) / 1e12
               / COUNT(*) AS mean_norm,
           CAST(SUM(CAST(floor(norm * norm * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 / COUNT(*) AS mean_sq
    FROM e
)
SELECT vec_id, norm,
       norm > mean_norm + 3.0 * sqrt(greatest(mean_sq - mean_norm * mean_norm,
                                              0.0)) AS is_outlier
FROM e, stats
"""


@register(
    "emb_norm_outliers",
    _NORM_STATS_ORACLE,
    doc="Embedding-norm outlier audit: per-vector L2 norm plus a "
    "mean+3sigma flag computed from fixed-point integer sums (one "
    "1-row broadcast of the corpus stats — the TF-IDF corpus-count "
    "pattern, no driver collect).",
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = sim.with_norm(t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("_norm").alias("norm")
    )
    stats = e.agg(
        (
            F.sum(F.floor(F.col("norm") * 1e12).cast("long")).cast("double")
            / F.lit(1e12)
            / F.count("*")
        ).alias("mean_norm"),
        (
            F.sum(
                F.floor(F.col("norm") * F.col("norm") * 1e12).cast("long")
            ).cast("double")
            / F.lit(1e12)
            / F.count("*")
        ).alias("mean_sq"),
    )
    thresh = F.col("mean_norm") + 3.0 * F.sqrt(
        F.greatest(
            F.col("mean_sq") - F.col("mean_norm") * F.col("mean_norm"),
            F.lit(0.0),
        )
    )
    return e.join(stats).select(
        "vec_id", "norm", (F.col("norm") > thresh).alias("is_outlier")
    )


_NORM_DEDUP_ORACLE = """
WITH canon AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               AS norm_hash
    FROM documents
)
SELECT norm_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM canon GROUP BY norm_hash
"""


@register(
    "dedup_exact_normalized",
    _NORM_DEDUP_ORACLE,
    doc="Normalized exact dedup — the form production pipelines "
    "actually run: lowercase, collapse every non-alphanumeric run to a "
    "single space, trim, THEN hash — so case/punctuation/whitespace "
    "variants of a document collapse to one group that raw-text "
    "hashing (dedup_exact) treats as distinct. Same one-shuffle "
    "hash-groupBy plan; normalization is a scan-side projection.",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    return (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5(norm).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


# Per-doc average bigram log-probability under the corpus' own bigram
# model — the statistical quality filter (low score = improbable word
# salad). Determinism: p = cnt/prefix_cnt is an int÷int double
# (engine-identical); ln() could differ in the last ulp between libm
# implementations, so each log is rounded to 12 decimals via a DECIMAL
# cast before the (then exact) sum, and the final average is
# fixed-point-quantized — a 1-ulp ln() disagreement moves the result
# by ≤1e-12, absorbed by fpq's half-bucket margin.
_LM_SCORE_ORACLE = f"""
WITH bg AS (
    SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(toks), 1)),
               i -> toks[i] || ' ' || toks[i+1]
           )) AS bigram
    FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
),
counts AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
prefixes AS (
    SELECT str_split(bigram, ' ')[1] AS prefix, SUM(cnt) AS pcnt
    FROM counts GROUP BY prefix
),
probs AS (
    SELECT bigram,
           ln(CAST(cnt AS DOUBLE) / CAST(pcnt AS DOUBLE)) AS logp
    FROM counts JOIN prefixes ON str_split(bigram, ' ')[1] = prefix
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {{fpq}} AS avg_logp
FROM bg JOIN probs USING (bigram)
GROUP BY doc_id
""".format(
    fpq=fpq_sql(
        "CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE)"
    )
)


@register(
    "text_lm_score",
    _LM_SCORE_ORACLE,
    doc="Bigram-LM quality scoring: every document scored by its "
    "average bigram log-probability under the corpus' own counts — "
    "the statistical filter that ranks word salad below fluent text "
    "without any external model. Plan: the (doc, bigram, k) relation "
    "comes out of ONE Arrow-batched Counter pass (bigram counts never "
    "cross docs, so no exchange is needed to build it — r15; "
    "previously an interpreted-HOF transform + explode + two-phase "
    "aggregate), two hash aggregates for the model, one aggregate per "
    "doc — the corpus is never joined to itself. The "
    "weighted decimal sum logp·k is exact (decimal(28,12) × "
    "decimal(9,0) fits decimal(38,12)), so the result is bit-"
    "identical to the oracle's per-instance sum.",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (doc, bigram, k) in ONE narrow Arrow-batched mapInPandas pass:
    # a doc's bigram counts never cross rows, so Counter per doc
    # replaces BOTH the interpreted higher-order bigram transform
    # (guide §4.2 — the r15 profile put 53.4 s of executorRunTime in
    # that scan stage at sf1) AND the (doc_id, bigram) exchange + final
    # aggregate behind it (§2.4 — the counts arrive complete; r14's
    # "spread collapses map-side aggregation" objection dissolves with
    # the aggregation). Strings are exact (JVM lower, single-space
    # split, " ".join == concat_ws), counts are integers: the relation
    # is bit-identical to the old explode + groupBy (exceptAll-proven
    # at sf1, oracle green). Idle sf1 full-query A/B 8.48 -> 7.09 s —
    # a 16% win; the remaining cost is the downstream model joins.
    import pandas as pd

    def bigram_counts(batches):
        from collections import Counter

        for pdf in batches:
            ids, bgs, ks = [], [], []
            for doc_id, text in zip(
                pdf["doc_id"].values, pdf["text"].values
            ):
                if text is None:  # NULL text = no bigrams, as before
                    continue
                toks = text.split(" ")
                if len(toks) < 2:
                    continue
                c = Counter(map(" ".join, zip(toks, toks[1:])))
                ids.extend([doc_id] * len(c))
                bgs.extend(c.keys())
                ks.extend(c.values())
            if ids:
                yield pd.DataFrame(
                    {"doc_id": ids, "bigram": bgs, "k": ks}
                )
            else:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "bigram": pd.Series(dtype="object"),
                        "k": pd.Series(dtype="int64"),
                    }
                )

    bgc = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.lower(F.col("text")).alias("text"))
        .mapInPandas(bigram_counts, "doc_id bigint, bigram string, k bigint")
        .localCheckpoint(eager=True)
    )
    counts = bgc.groupBy("bigram").agg(F.sum("k").alias("cnt"))
    prefixes = counts.groupBy(
        F.split(F.col("bigram"), " ").getItem(0).alias("prefix")
    ).agg(F.sum("cnt").alias("pcnt"))
    probs = counts.join(
        prefixes,
        F.split(counts.bigram, " ").getItem(0) == prefixes.prefix,
    ).select(
        "bigram",
        F.log(
            F.col("cnt").cast("double") / F.col("pcnt").cast("double")
        ).alias("logp"),
    )
    avg_logp = (
        F.sum(
            F.col("logp").cast("decimal(28,12)")
            * F.col("k").cast("decimal(9,0)")
        ).cast("double")
        / F.sum("k").cast("double")
    )
    return (
        bgc.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            fpq(avg_logp).alias("avg_logp"),
        )
    )


def _minhash_incr_oracle() -> str:
    f = _mh_sql_fragments()
    hm, mh_cols, bands, eq = f["hm"], f["mh_cols"], f["bands"], f["eq"]
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, {hm} AS hm FROM sh),
mh AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id),
bands_all AS ({bands}),
bands_c AS (
    SELECT doc_id AS corpus_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
        FROM bands_all WHERE doc_id % 5 <> 0
    ) WHERE bucket_n <= {DEFAULT_MAX_BUCKET}
),
bands_b AS (
    SELECT doc_id AS batch_id, band, band_key FROM bands_all
    WHERE doc_id % 5 = 0
),
cand AS (
    SELECT DISTINCT corpus_id, batch_id
    FROM bands_c JOIN bands_b USING (band, band_key)
)
SELECT corpus_id, batch_id,
       CAST(({eq}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) AS est_jaccard
FROM cand
JOIN mh sa ON corpus_id = sa.doc_id
JOIN mh sb ON batch_id = sb.doc_id
"""


@register(
    "dedup_minhash_incremental",
    _minhash_incr_oracle(),
    doc="Incremental MinHash near-dup (operators/dedup.py "
    "minhash_lsh_pairs_incremental): a new batch (doc_id % 5 == 0 "
    "stands in for today's ingest) is banded against the existing "
    "corpus only — work scales with the batch's bucket matches, never "
    "corpus². Hot-bucket guard on the corpus side; the same guard "
    "constant is interpolated into the oracle.",
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )

    corpus = sh.filter(F.col("doc_id") % 5 != 0)
    batch = sh.filter(F.col("doc_id") % 5 == 0)
    return minhash_lsh_pairs_incremental(corpus, batch)


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
    "the mapInPandas OUTPUT columns, so only decode touches the binary "
    "payload; everything after is columnar.",
)
def mm_filter_by_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_documents,
    )

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


# Chunking geometry: 16-token windows advancing by 12 (4-token overlap)
_CHUNK_SIZE = 16
_CHUNK_STRIDE = 12

_CHUNK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents
),
chunks AS (
    SELECT doc_id,
           CAST(s AS INT) AS chunk_id,
           array_to_string(tk[s * {_CHUNK_STRIDE} + 1 :
                              s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
               AS chunk_text,
           CAST(len(tk[s * {_CHUNK_STRIDE} + 1 :
                       s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS INT)
               AS n_tokens
    FROM toks,
         LATERAL unnest(range(0, CAST(ceil(
             greatest(len(tk) - {_CHUNK_SIZE}, 0) / {_CHUNK_STRIDE}.0
         ) AS BIGINT) + 1)) AS u(s)
)
SELECT doc_id, chunk_id, chunk_text, n_tokens FROM chunks
"""


@register(
    "text_chunk_overlap",
    _CHUNK_ORACLE,
    doc=f"Document chunking with overlap (RAG/window prep): "
    f"{_CHUNK_SIZE}-token windows advancing by {_CHUNK_STRIDE}, so "
    f"consecutive chunks share {_CHUNK_SIZE - _CHUNK_STRIDE} tokens "
    "and no token is lost at a boundary. The chunk index generates "
    "executor-side (sequence + explode over a per-doc count) — one "
    "narrow pass, output rows ≈ corpus tokens ÷ stride; every chunk "
    "carries (doc_id, chunk_id) so provenance survives shuffling.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = F.split(F.lower(F.col("text")), " ")
    n = F.size(tk)
    n_chunks = (
        F.ceil(
            F.greatest(n - F.lit(_CHUNK_SIZE), F.lit(0))
            / F.lit(float(_CHUNK_STRIDE))
        ).cast("bigint")
        + 1
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        tk.alias("tk"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "s"
        ),
    )
    chunk = F.slice(
        F.col("tk"), (F.col("s") * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_SIZE
    )
    return docs.select(
        "doc_id",
        F.col("s").cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )
