"""Round-11 query batch: the image-text alignment gate that completes
the LAION-style curation funnel (CLIP-score analog over paired
image/caption embeddings), BM25 ranked retrieval, and the
deterministic epoch-shuffle training sink.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float aggregation, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
is a curated-CSV warehouse with no media/retrieval surface — this
batch extends the engine's LLM-training-pipeline coverage beyond
reference parity (the declared SURVEY §7 growth direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    register,
    t,
)

# ---------------------------------------------------------------------------
# Image-text (caption) alignment — the CLIP-score gate of LAION-style
# image-corpus curation
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.operators.caption import (  # noqa: E402
    caption_cte_chain,
    caption_pair_stats,
)

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
# BM25 ranked retrieval — the standard IR scorer beside text_tfidf
# ---------------------------------------------------------------------------

# Pinned query sets (query_id -> terms), drawn from the documents
# fixture vocabulary. k1 = 1.2 and b = 0.75 are the textbook BM25
# constants; they enter the math only as the exact integer factors
# 22 (= 10·(k1+1)), 3 (= 10·k1·(1-b)) and 9 (= 10·k1·b) after
# multiplying numerator and denominator through by 10·T (T = total
# corpus tokens), so no float constant ever appears.
_BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("window", "sort", "merge")),
    (3, ("spark", "vector", "scan")),
)
_BM25_TOP_K = 10
# Per-term scores quantize to floor(score * 1e6) via exact integer
# floor-division BEFORE the per-query sum, so the summed score and the
# ranking are pure int64 arithmetic on both engines.
_BM25_FP = 1_000_000


def _bm25_scored_cte() -> str:
    """The shared WITH chain ending in scored(query_id, doc_id,
    score_q) — one source of truth so text_bm25_topk's and
    sim_rrf_fusion's oracles cannot silently diverge."""
    vals = ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in _BM25_QUERIES
        for term in terms
    )
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
dft AS (
    SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tk GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
terms AS (
    SELECT q.query_id, tf.doc_id,
           CAST((CAST(2 * g.n_docs - 2 * dft.df + 1 AS HUGEINT)
                      * 22 * tf.tf * g.total_tokens * {_BM25_FP})
                // (CAST(2 * dft.df + 1 AS HUGEINT)
                    * (10 * g.total_tokens * tf.tf
                       + 3 * g.total_tokens
                       + 9 * dl.dl * g.n_docs)) AS BIGINT) AS term_q
    FROM tf
    JOIN dft USING (token)
    JOIN q ON q.token = tf.token
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM terms GROUP BY 1, 2
)"""


def _bm25_oracle() -> str:
    return f"""{_bm25_scored_cte()},
ranked AS (
    SELECT query_id, doc_id, score_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_q DESC, doc_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, doc_id, score_q, rank
FROM ranked WHERE rank <= {_BM25_TOP_K}
"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer BM25 scores (query_id, doc_id, score_q) for the
    pinned query sets — the engine twin of _bm25_scored_cte(), shared
    by text_bm25_topk and sim_rrf_fusion."""
    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    # dl and df derive from the tf aggregate, never from the exploded
    # relation: tf has one row per (doc, token), so COUNT(*) per token
    # IS the document frequency and SUM(tf) per doc IS the length —
    # shuffling the compact tf rows instead of the corpus-token
    # explode three times (review finding; text_inverted_index uses
    # the same derivation).
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))
    q = spark.createDataFrame(
        [
            (qid, term)
            for qid, terms in _BM25_QUERIES
            for term in terms
        ],
        "query_id int, token string",
    )
    # Widen BEFORE multiplying: the numerator product grows ~scale²
    # (N·22·tf·T·1e6 ≈ 3e34 at the 100 TB shape) and the denominator's
    # (2df+1) factor pushes it past int64 too, so the FIRST factor of
    # each chain casts to DECIMAL(38,0) (HUGEINT on the DuckDB side)
    # and the whole product stays exact — a silent int64 wrap on the
    # Spark side while DuckDB errors loudly would be a cross-engine
    # divergence. The inner saturation term (10·T·tf + 3·T + 9·dl·N)
    # is linear in corpus tokens (tf and dl are per-doc-bounded) and
    # stays int64 with ~70x margin at 100 TB.
    terms = (
        tf.join(F.broadcast(dft.join(F.broadcast(q), "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(CAST(2 * n_docs - 2 * df + 1 AS DECIMAL(38,0)) "
                f"* 22 * tf * total_tokens * {_BM25_FP} DIV "
                f"(CAST(2 * df + 1 AS DECIMAL(38,0)) "
                f"* (10 * total_tokens * tf "
                f"+ 3 * total_tokens + 9 * dl * n_docs)) AS BIGINT)"
            ).alias("term_q"),
        )
    )
    return terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_q").cast("bigint").alias("score_q")
    )


@register(
    "text_bm25_topk",
    _bm25_oracle(),
    doc="BM25 ranked retrieval (Robertson-Spärck Jones probabilistic "
    "weighting, the standard IR scorer beside text_tfidf): top-10 "
    "documents per pinned query term set, scored with k1=1.2, "
    "b=0.75. Determinism: following text_tfidf's log-free precedent "
    "the idf is the rational (N - df + 0.5)/(df + 0.5) (doubled to "
    "(2N-2df+1)/(2df+1)); multiplying the tf saturation term through "
    "by 10·T makes every numerator and denominator an exact int64, "
    "and each per-term score quantizes to floor(x·1e6) by integer "
    "floor-division (decimal DIV / HUGEINT //) BEFORE the per-query "
    "sum — ranking compares pure integers, fully tie-broken by "
    "doc_id. Scale shape: tf/df/dl are the same hash aggregates as "
    "text_tfidf (map-side combinable); corpus totals fold in as a "
    "1-row broadcast (allowlisted scalar BNL); the 8-row query table "
    "broadcasts; the top-k filter is rank-over-window, pushed to "
    "per-partition heaps (WindowGroupLimit).",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    scored = bm25_scores(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOP_K)
        .select("query_id", "doc_id", "score_q", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch-shuffle training sink — completes snk_jsonl_shards
# + pack_curriculum with the trainer-side shuffled epoch order
# ---------------------------------------------------------------------------

# Epoch seed is pinned; a trainer would pass epoch number here. The
# permutation rank of a doc is the 60-bit md5 key of 'epoch{seed}:id'
# (content_hash64 — the repo's cross-engine hash primitive), so ANY
# worker reproduces the full epoch order from ids alone, with no RNG
# state and no coordination.
_EPOCH_SEED = 11
_EPOCH_SHARDS = 8
# Shard = rank-key range: rk div 2^57 for 8 shards over the 60-bit key
# space. md5 uniformity balances the shards by construction — no
# sampled range boundaries (repartitionByRange samples, which is not
# reproducible), no global sort, no driver state. Reading shard 0..7,
# each ordered by (rk, doc_id), IS the epoch permutation.
_EPOCH_RANGE_DIV = 1 << 57


def _shuffled_shards_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    rk = content_hash64_sql(
        f"'epoch{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH r AS (
    SELECT doc_id, {rk} AS rk FROM documents
),
s AS (
    SELECT doc_id, rk, rk // {_EPOCH_RANGE_DIV} AS shard FROM r
),
p AS (
    SELECT shard, doc_id, rk,
           ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY rk, doc_id) AS epoch_pos
    FROM s
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(MIN(rk) AS BIGINT) AS min_rk,
       CAST(MAX(rk) AS BIGINT) AS max_rk,
       CAST(SUM(epoch_pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(0 AS BIGINT) AS n_misplaced,
       CAST(0 AS BIGINT) AS n_bad_rk
FROM p GROUP BY 1
"""


@register(
    "snk_shuffled_shards",
    _shuffled_shards_oracle(),
    doc="Deterministic epoch-shuffle training sink — the trainer-side "
    "op that completes snk_jsonl_shards + pack_curriculum: each "
    "document's permutation rank is the 60-bit md5 key of "
    "'epoch{seed}:doc_id', its shard is the KEY RANGE rk div 2^57 "
    "(md5 uniformity balances shards by construction — deliberately "
    "NOT repartitionByRange, whose sampled boundaries are not "
    "reproducible), and shard files are written pre-sorted by "
    "(rk, doc_id), so reading shards 0..7 in order IS the shuffled "
    "epoch and any worker reproduces it from ids alone. The query "
    "re-reads the written JSONL, recomputes rank and shard from the "
    "payload, asserts the directory layout matches (n_misplaced must "
    "be 0) and the stored ranks agree (n_bad_rk must be 0), and "
    "emits per-shard count/id-checksum/key-range plus a "
    "POSITIONAL checksum sum(epoch_pos*doc_id) that only matches the "
    "oracle if the permutation is exactly right. Scale: one hash "
    "shuffle + per-shard sort; shard count would be O(cluster "
    "cores) at 100 TB (pinned 8 here), shards stream independently "
    "into loaders.",
)
def snk_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import types as T

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.relational import (
        _scratch,
    )

    def rank_key(doc_id_col):
        return content_hash64(
            F.concat(
                F.lit(f"epoch{_EPOCH_SEED}:"), doc_id_col.cast("string")
            )
        )

    path = _scratch("snk_shuffled_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.select(
        "doc_id",
        "lang",
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    (
        keyed.repartition(_EPOCH_SHARDS, "shard")
        .sortWithinPartitions("shard", "rk", "doc_id")
        .select(
            "shard",
            F.to_json(F.struct("doc_id", "lang", "rk")).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("rk", T.LongType()),
        ]
    )
    parsed = (
        spark.read.text(path)
        .select(
            F.from_json("value", schema).alias("r"),
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1)
            .cast("bigint")
            .alias("file_shard"),
        )
        .select("r.doc_id", "r.rk", "file_shard")
    )
    # Everything below recomputes from the payload: rank from the id,
    # shard from the rank. The file layout (coalesced to -1 so a path
    # that fails the shard= extraction COUNTS as misplaced instead of
    # null-ing out of the sum) and the rank STORED in the JSONL both
    # have to agree with the recomputation (review finding: the
    # stored rk was previously parsed but never compared).
    checked = parsed.select(
        "doc_id",
        F.coalesce("file_shard", F.lit(-1)).alias("file_shard"),
        F.col("rk").alias("stored_rk"),
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("rk", "doc_id")
    )
    placed = checked.withColumn("epoch_pos", pos)
    bad_rk = F.coalesce(
        (F.col("stored_rk") != F.col("rk")).cast("int"), F.lit(1)
    )
    return placed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.min("rk").cast("bigint").alias("min_rk"),
        F.max("rk").cast("bigint").alias("max_rk"),
        F.sum(F.col("epoch_pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("pos_checksum"),
        F.sum((F.col("file_shard") != F.col("shard")).cast("int"))
        .cast("bigint")
        .alias("n_misplaced"),
        F.sum(bad_rk).cast("bigint").alias("n_bad_rk"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of BM25 and vector ranks
# ---------------------------------------------------------------------------

# RRF constant (Cormack et al. 2009 use k=60), list depth fused from
# each retriever, and the fused cut. The reciprocal 1/(k+rank)
# quantizes to the exact integer 1e9 div (k+rank), so fusion scores
# and the fused ranking are pure int64 on both engines.
_RRF_K = 60
_RRF_LIST = 50
_RRF_TOP = 10
_RRF_FP = 1_000_000_000
# The lexical leg is _BM25_QUERIES entry 1 ('hash join'); the vector
# leg is inner-product retrieval against the pinned _PQ_QUERY vector
# (extensions_r9), quantized to the SAME integer literals on both
# engines — Python computes floor(q*1000) once and injects ints, so
# no cross-engine float math exists anywhere in the leg.
_RRF_QUERY_ID = 1


def _rrf_qvec_ints() -> list[int]:
    import math

    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _PQ_QUERY,
    )

    return [int(math.floor(q * 1000)) for q in _PQ_QUERY]


def _rrf_oracle() -> str:
    qlits = ", ".join(str(v) for v in _rrf_qvec_ints())
    return f"""{_bm25_scored_cte()},
lexr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id)
                AS INT) AS r_lex
    FROM scored WHERE query_id = {_RRF_QUERY_ID}
    QUALIFY r_lex <= {_RRF_LIST}
),
vq AS (
    SELECT vec_id AS doc_id,
           list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS dq
    FROM embeddings
),
vdot AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(1, len(dq) + 1),
               i -> dq[i] * ([{qlits}])[i])) AS BIGINT) AS dot_q
    FROM vq
),
vecr AS (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY dot_q DESC, doc_id)
                AS INT) AS r_vec
    FROM vdot
    QUALIFY r_vec <= {_RRF_LIST}
),
fused AS (
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec,
           CAST(COALESCE({_RRF_FP} // ({_RRF_K} + l.r_lex), 0)
                + COALESCE({_RRF_FP} // ({_RRF_K} + v.r_vec), 0)
                AS BIGINT) AS rrf_q
    FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
)
SELECT doc_id, r_lex, r_vec, rrf_q,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id) AS INT)
           AS fused_rank
FROM fused
QUALIFY fused_rank <= {_RRF_TOP}
"""


@register(
    "sim_rrf_fusion",
    _rrf_oracle(),
    doc="Hybrid retrieval — reciprocal-rank fusion (Cormack et al. "
    "2009, the standard RAG-stack combiner) of a lexical and a "
    "vector ranking: the BM25 top-50 for the pinned 'hash join' "
    "query fuses with the inner-product top-50 against the pinned "
    "query vector, score = sum over lists of 1e9 div (60 + rank) — "
    "exact integers, so fusion and the fused top-10 are fully "
    "deterministic (doc_id tie-break). Scale shape: each leg's "
    "top-50 is orderBy+limit (TakeOrdered per-partition heaps, "
    "never a global single-partition window over the corpus); rank "
    "assignment and the fusion join then run over <=100 rows. The "
    "vector leg's query is injected as integer literals computed "
    "once in Python (floor(q*1000)) — no join against a query table "
    "and no cross-engine float math.",
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    qlits = F.array(*[F.lit(v).cast("long") for v in _rrf_qvec_ints()])
    lex50 = (
        bm25_scores(spark, sf_dir)
        .filter(F.col("query_id") == _RRF_QUERY_ID)
        .orderBy(F.desc("score_q"), F.asc("doc_id"))
        .limit(_RRF_LIST)
    )
    lexr = lex50.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score_q"), F.asc("doc_id")))
        .alias("r_lex"),
    )
    dq = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000).cast("long"),
    )
    vdot = (
        t(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"), dq.alias("dq"))
        .select(
            "doc_id",
            F.aggregate(
                F.zip_with(F.col("dq"), qlits, lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot_q"),
        )
    )
    vec50 = vdot.orderBy(F.desc("dot_q"), F.asc("doc_id")).limit(
        _RRF_LIST
    )
    vecr = vec50.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("dot_q"), F.asc("doc_id")))
        .alias("r_vec"),
    )
    fused = lexr.join(vecr, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_vec",
        (
            F.coalesce(
                F.expr(f"{_RRF_FP} DIV ({_RRF_K} + r_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_FP} DIV ({_RRF_K} + r_vec)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_q"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(
                W.orderBy(F.desc("rrf_q"), F.asc("doc_id"))
            ),
        )
        .filter(F.col("fused_rank") <= _RRF_TOP)
        .select("doc_id", "r_lex", "r_vec", "rrf_q", "fused_rank")
    )


# ---------------------------------------------------------------------------
# Inverted-index segment build — the IR infrastructure behind BM25
# ---------------------------------------------------------------------------

# Posting lists cap at the lowest-doc_id 64 entries per token: at
# 100 TB a hot term's full posting list is GBs and must never pass
# through one aggregation buffer — the cap runs as a rank-over-window
# BEFORE collect_list, so per-partition heaps bound it
# (WindowGroupLimit), while df/cf still aggregate over the FULL
# relation. Real index builders write segment files per shard; the
# capped segment sample plus exact df/cf is the oracle-checkable core.
_INV_POSTINGS_CAP = 64


def _inverted_index_oracle() -> str:
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
tf AS (
    SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
stats AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf
    FROM tf GROUP BY 1
),
capped AS (
    SELECT token, doc_id, tf,
           ROW_NUMBER() OVER (
               PARTITION BY token ORDER BY doc_id) AS rn
    FROM tf
    QUALIFY rn <= {_INV_POSTINGS_CAP}
),
segs AS (
    SELECT token,
           string_agg(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(tf AS VARCHAR), ','
                      ORDER BY doc_id) AS postings
    FROM capped GROUP BY 1
)
SELECT s.token, s.df, s.cf,
       CAST(least(s.df, {_INV_POSTINGS_CAP}) AS BIGINT)
           AS n_postings,
       g.postings
FROM stats s JOIN segs g ON s.token = g.token
"""


@register(
    "text_inverted_index",
    _inverted_index_oracle(),
    doc="Inverted-index segment build — the IR structure BM25 serves "
    "from: per token, exact document frequency and collection "
    "frequency over the whole corpus plus a posting-list segment "
    "('doc:tf' pairs sorted by doc_id) CAPPED at the lowest-id 64 "
    "entries. The cap is rank-over-window BEFORE the list "
    "aggregation (per-partition heaps via WindowGroupLimit), so a "
    "hot term's full posting list never passes through one "
    "aggregation buffer at 100 TB; df/cf still aggregate the full "
    "relation (map-side combinable). Postings serialize to a string "
    "on both engines (array_sort of (doc_id, tf) structs on the "
    "Spark side makes the collect_list order irrelevant).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    tf = tk.groupBy("token", "doc_id").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    stats = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    rn = F.row_number().over(
        W.partitionBy("token").orderBy(F.asc("doc_id"))
    )
    capped = tf.withColumn("rn", rn).filter(
        F.col("rn") <= _INV_POSTINGS_CAP
    )
    segs = capped.groupBy("token").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "tf"))
                ),
                lambda p: F.concat_ws(
                    ":",
                    p["doc_id"].cast("string"),
                    p["tf"].cast("string"),
                ),
            ),
            ",",
        ).alias("postings")
    )
    return stats.join(segs, "token").select(
        "token",
        "df",
        "cf",
        F.least(F.col("df"), F.lit(_INV_POSTINGS_CAP))
        .cast("bigint")
        .alias("n_postings"),
        "postings",
    )


# ---------------------------------------------------------------------------
# Tokenizer OOV-rate gate — vocabulary-coverage curation signal
# ---------------------------------------------------------------------------

# Pinned closed vocabulary (a frozen tokenizer's word list); the gate
# keeps documents whose out-of-vocabulary token share is <= 25%
# (integer cross-multiplication). The fixture vocabulary has 31
# distinct tokens, so leaving 7 out makes both outcomes populated.
_OOV_VOCAB = (
    "a", "agg", "batch", "column", "customer", "data", "fast",
    "filter", "hash", "join", "key", "line", "merge", "order",
    "part", "row", "scan", "slow", "small", "sort", "spark",
    "table", "the", "value",
)
_OOV_MAX_PCT = 25


def _oov_oracle() -> str:
    vocab = ", ".join(f"'{w}'" for w in _OOV_VOCAB)
    return f"""
WITH d AS (
    SELECT doc_id,
           str_split(lower(COALESCE(text, '')), ' ') AS tk
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tk, w ->
               NOT list_contains([{vocab}], w))) AS BIGINT) AS n_oov
    FROM d
)
SELECT doc_id, n_tokens, n_oov,
       (100 * n_oov <= {_OOV_MAX_PCT} * n_tokens) AS oov_keep
FROM m
"""


@register(
    "tok_oov_rate",
    _oov_oracle(),
    doc="Tokenizer vocabulary-coverage gate — the OOV-rate curation "
    "signal run before committing a corpus to a frozen tokenizer "
    "(high OOV share means wrong language, wrong domain, or "
    "garbage): per document, token count and out-of-vocabulary "
    "count against a pinned closed vocabulary (broadcast as an "
    "array literal — at 100 TB a real word list is KBs and ships "
    "with the plan), gated at 25% by integer cross-multiplication. "
    "One shuffle-free projection; complements tok_compression_ratio "
    "(which needs the BPE merges) with the cheap pre-check.",
)
def tok_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = F.array(*[F.lit(w) for w in _OOV_VOCAB])
    toks = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    m = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda w: ~F.array_contains(vocab, w))
        )
        .cast("bigint")
        .alias("n_oov"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (100 * F.col("n_oov") <= _OOV_MAX_PCT * F.col("n_tokens")).alias(
            "oov_keep"
        ),
    )


# ---------------------------------------------------------------------------
# Model-based quality classifier — the fasttext-style linear gate
# ---------------------------------------------------------------------------

# Pinned linear-model weights over the closed vocabulary (a frozen
# fasttext/logistic quality classifier's weight vector, as the GPT-3 /
# CCNet pipelines ship it): filler words negative, content terms
# positive, out-of-vocabulary 0. Keep iff the mean token weight is
# >= 0.5, tested as 2*score >= n_tokens — integers only.
_QCLS_WEIGHTS = (
    ("a", -8), ("the", -8),
    ("row", -1), ("line", -1), ("value", -1), ("key", -1),
    ("part", -1), ("small", -1), ("slow", -1), ("fast", -1),
    ("join", 3), ("hash", 3), ("scan", 3), ("merge", 3), ("sort", 3),
    ("filter", 3), ("agg", 3), ("batch", 3), ("spark", 3),
    ("table", 3), ("window", 3), ("vector", 3), ("column", 3),
    ("order", 3), ("data", 3), ("customer", 3),
)


def _qcls_case_sql(var: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _QCLS_WEIGHTS
    )
    return f"CASE {var} {whens} ELSE 0 END"


_QCLS_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           str_split(lower(COALESCE(text, '')), ' ') AS tk
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(tk, w -> {_qcls_case_sql('w')}))
                AS BIGINT) AS score_q
    FROM d
)
SELECT doc_id, n_tokens, score_q,
       (2 * score_q >= n_tokens) AS classifier_keep
FROM m
"""


@register(
    "text_quality_classifier",
    _QCLS_ORACLE,
    doc="Model-based quality gate — the linear-classifier filter of "
    "the GPT-3/CCNet pipelines (a frozen fasttext/logistic model "
    "scores each document; high-scoring docs are kept or "
    "importance-sampled): score = sum over tokens of the pinned "
    "integer weight vector (bag-of-words dot product, the exact "
    "inference a linear text classifier runs), gated at mean weight "
    ">= 0.5 via the integer cross-multiplication 2*score >= "
    "n_tokens. The weight table ships with the plan (a real model's "
    "vocab weights are MBs — still broadcast-sized); scoring is one "
    "shuffle-free projection over the corpus, the cheapest possible "
    "100 TB pass. Complements the rule-based gates (gopher/C4) with "
    "the learned-model stage every production funnel ends with.",
)
def text_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = [x for kv in _QCLS_WEIGHTS for x in kv]
    wmap = F.create_map(*[F.lit(x) for x in pairs])
    toks = F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.coalesce(wmap[w], F.lit(0)).cast("long"),
    )
    m = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        score.alias("score_q"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "score_q",
        (2 * F.col("score_q") >= F.col("n_tokens")).alias(
            "classifier_keep"
        ),
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights — hashed-feature domain reweighting
# ---------------------------------------------------------------------------

# Hashed feature space (DSIR, Xie et al. 2023: hash n-grams into
# buckets, weight documents by how target-like their feature counts
# are). Target domain = lang 'en'. The per-bucket likelihood ratio
# p_target(b)/p_raw(b) = (c_t(b)·T_r)/(c_r(b)·T_t) quantizes to
# floor(ratio·1e6) by exact integer floor-division (DECIMAL DIV /
# HUGEINT //; c_t·1e6·T_r can pass int64); a document's importance
# score is the count-weighted sum of its buckets' ratios —
# 'oversample' when the mean ratio is >= 1 (score >= 1e6·n_tokens).
# The paper uses log-ratios; the rational form keeps every value an
# exact integer on both engines (the text_tfidf log-free discipline).
_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"
_DSIR_FP = 1_000_000


def _dsir_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    b = content_hash64_sql("token")
    return f"""
WITH d AS (
    SELECT doc_id, lang,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM d GROUP BY 1, 2, 3
),
bk AS (
    SELECT doc_id, lang, ({b} % {_DSIR_BUCKETS}) AS bucket, tf
    FROM tf
),
bc AS (
    SELECT bucket,
           CAST(SUM(tf) AS BIGINT) AS c_r,
           CAST(SUM(CASE WHEN lang = '{_DSIR_TARGET_LANG}'
                         THEN tf ELSE 0 END) AS BIGINT) AS c_t
    FROM bk GROUP BY 1
),
g AS (
    SELECT CAST(SUM(c_r) AS BIGINT) AS t_r,
           CAST(SUM(c_t) AS BIGINT) AS t_t
    FROM bc
),
q AS (
    SELECT bucket,
           CAST((CAST(c_t AS HUGEINT) * {_DSIR_FP} * t_r)
                // (CAST(c_r AS HUGEINT) * t_t) AS BIGINT) AS ratio_q
    FROM bc, g
),
s AS (
    SELECT bk.doc_id,
           CAST(SUM(bk.tf) AS BIGINT) AS n_tokens,
           CAST(SUM(bk.tf * q.ratio_q) AS BIGINT) AS dsir_q
    FROM bk JOIN q USING (bucket) GROUP BY 1
)
SELECT doc_id, n_tokens, dsir_q,
       (dsir_q >= {_DSIR_FP} * n_tokens) AS oversample
FROM s
"""


@register(
    "corpus_dsir_weights",
    _dsir_oracle(),
    doc="DSIR-style importance weights (Xie et al. 2023, Data "
    "Selection with Importance Resampling): hash tokens into 64 "
    "feature buckets, estimate the target-domain (lang='en') vs raw "
    "likelihood ratio per bucket, and weight every document by its "
    "count-weighted mean ratio — the reweighting step that tilts a "
    "web-scale mixture toward a target domain. Determinism: ratios "
    "quantize to floor(ratio*1e6) by exact integer floor-division; "
    "document scores and the oversample flag are pure int64. Scale "
    "shape: md5 runs once per DISTINCT (doc, token) pair (after the "
    "tf hash-aggregate, the r10 md5-cost lesson), the bucket stats "
    "are a 64-row broadcast, and the per-doc score is one more hash "
    "aggregate — two map-side-combinable shuffles over corpus "
    "tokens, linear at 100 TB.",
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "lang", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    bk = tf.select(
        "doc_id",
        "lang",
        (content_hash64(F.col("token")) % _DSIR_BUCKETS).alias("bucket"),
        "tf",
    )
    bc = bk.groupBy("bucket").agg(
        F.sum("tf").cast("bigint").alias("c_r"),
        F.sum(
            F.when(
                F.col("lang") == _DSIR_TARGET_LANG, F.col("tf")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c_t"),
    )
    g = bc.agg(
        F.sum("c_r").cast("bigint").alias("t_r"),
        F.sum("c_t").cast("bigint").alias("t_t"),
    )
    # Both sides of the division widen before multiplying: c_t·1e6·T_r
    # and c_r·T_t are products of corpus-token-scale totals (~scale²),
    # so an unwidened int64 product would wrap silently on the Spark
    # side while DuckDB errors loudly — the same divergence class the
    # BM25 terms guard against.
    q = bc.crossJoin(g).select(
        "bucket",
        F.expr(
            f"CAST(CAST(c_t AS DECIMAL(38,0)) * {_DSIR_FP} * t_r "
            f"DIV (CAST(c_r AS DECIMAL(38,0)) * t_t) AS BIGINT)"
        ).alias("ratio_q"),
    )
    s = (
        bk.join(F.broadcast(q), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("ratio_q"))
            .cast("bigint")
            .alias("dsir_q"),
        )
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "dsir_q",
        (F.col("dsir_q") >= _DSIR_FP * F.col("n_tokens")).alias(
            "oversample"
        ),
    )


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph — the iterative-algorithm pattern
# ---------------------------------------------------------------------------

# Fixed-point PageRank: total mass FP, damping 0.85 as the integer
# pair (85, 100), every division an integer floor (Spark DIV /
# DuckDB //), so all three unrolled iterations are bit-identical on
# both engines — the log-free/float-free discipline applied to an
# ITERATIVE algorithm (floor per edge leaks a little mass, which is
# fine: both engines leak identically, and ranking only compares
# exact integers).
_PR_FP = 10**12
_PR_ITERS = 3
_PR_TOP = 20


def _pagerank_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _EDGES_SQL,
    )

    iters = []
    prev = "pr0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
pr{i} AS (
    SELECT s.v AS node,
           MAX(p.base) + (85 * SUM(p.pr // d.od)) // 100 AS pr,
           MAX(p.base) AS base
    FROM {prev} p
    JOIN sym s ON s.u = p.node
    JOIN outdeg d ON d.u = s.u
    GROUP BY s.v
)""")
        prev = f"pr{i}"
    return f"""
WITH {_EDGES_SQL},
sym AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL
    SELECT pb AS u, pa AS v FROM edges
),
outdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od FROM sym GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes FROM sym),
pr0 AS (
    SELECT u AS node,
           {_PR_FP} // n_nodes AS pr,
           (15 * ({_PR_FP} // n_nodes)) // 100 AS base
    FROM (SELECT DISTINCT u FROM sym), n
),{",".join(iters)}
SELECT node, CAST(pr AS BIGINT) AS pagerank_q,
       CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INT) AS rank
FROM {prev}
QUALIFY rank <= {_PR_TOP}
"""


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="PageRank over the co-purchase graph (same support-pruned "
    "edge set as graph_copurchase_triangles, symmetrized) — the "
    "canonical ITERATIVE algorithm on Spark: three unrolled "
    "power-iteration steps, each one join of the rank vector against "
    "the degree-annotated edge list plus a hash aggregate. "
    "Determinism: mass is the integer 1e12, damping is the pair "
    "(85, 100), and every division floors (Spark DIV / DuckDB //), "
    "so both engines compute bit-identical ranks (the float-free "
    "discipline applied to iteration; the per-edge floor leaks mass "
    "identically on both sides). Scale shape: the edge list is "
    "localCheckpoint-pinned once and re-joined per iteration (the "
    "iterative-algorithm rule everywhere in this repo); rank state "
    "is one row per node; top-20 via window rank. At 100 TB the "
    "per-iteration cost is one shuffle of the edge list on u.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _edges,
    )

    e = _edges(spark, sf_dir).select("pa", "pb")
    sym = (
        e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(e.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    )
    outdeg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("od"))
    # The edge list is re-joined every iteration — pin it once, with
    # its out-degrees attached, so the support-pruning subtree never
    # recomputes (the graph_copurchase_triangles discipline).
    symdeg = sym.join(outdeg, "u").localCheckpoint(eager=True)
    # Nodes derive from the PINNED symdeg, not the raw sym lineage —
    # otherwise the support-pruned edge aggregate (the dominant
    # subtree) recomputes for this branch (review finding). Every
    # node appears as u in the symmetric edge list, so the set is
    # identical.
    nodes = symdeg.select(F.col("u").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pr = nodes.crossJoin(nn).select(
        "node",
        F.expr(f"{_PR_FP} DIV n_nodes").alias("pr"),
        F.expr(f"(15 * ({_PR_FP} DIV n_nodes)) DIV 100").alias("base"),
    )
    for _ in range(_PR_ITERS):
        # Alias both sides: pr's lineage includes symdeg after the
        # first iteration, so unqualified column refs turn ambiguous.
        contribs = pr.alias("p").join(
            symdeg.alias("s"), F.col("p.node") == F.col("s.u")
        ).select(
            F.col("s.v").alias("v"),
            F.expr("p.pr DIV s.od").alias("c"),
            F.col("p.base").alias("base"),
        )
        pr = contribs.groupBy("v").agg(
            (F.max("base") + F.expr("(85 * SUM(c)) DIV 100")).alias("pr"),
            F.max("base").alias("base"),
        ).withColumnRenamed("v", "node")
    # Top-20 via orderBy+limit FIRST (TakeOrdered per-partition heaps)
    # so the rank window only ever sees 20 rows — never a global
    # single-partition window over the node set.
    top = (
        pr.select("node", F.col("pr").cast("bigint").alias("pagerank_q"))
        .orderBy(F.desc("pagerank_q"), F.asc("node"))
        .limit(_PR_TOP)
    )
    w = W.orderBy(F.desc("pagerank_q"), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Streaming exactly-once dedup — batch twin of stream_dedup_events
# ---------------------------------------------------------------------------

_STREAM_DEDUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(event_id) AS BIGINT) AS id_checksum
FROM events
GROUP BY event_type
"""


@register(
    "stream_dedup_ingest",
    _STREAM_DEDUP_ORACLE,
    doc="Exactly-once ingest dedup (batch twin): the event feed is "
    "delivered TWICE (the at-least-once redelivery every real "
    "message bus exhibits — modeled as the table unioned with "
    "itself), deduplicated on event_id, and aggregated per type — "
    "counts, user cardinality, and an id checksum only match the "
    "single-delivery oracle if dedup removed exactly the redelivered "
    "copies. The genuine Structured Streaming form is streaming/"
    "events.py::stream_dedup_events (dropDuplicatesWithinWatermark, "
    "asserted to produce exactly this row set across a duplicated "
    "file feed in test_streaming). Scale shape: dropDuplicates on "
    "the key is one hash shuffle with map-side partial dedup; the "
    "watermark bounds streaming state to the late-data horizon "
    "(SURVEY §2.9 extension).",
)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    redelivered = ev.unionAll(ev)
    deduped = redelivered.dropDuplicates(["event_id"])
    return deduped.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Multimodal sequence packing — MMC4/LLaVA-style interleaved windows
# ---------------------------------------------------------------------------

# Images on a closed-form schedule (doc_id % 3: 1 -> one image,
# 2 -> two images, else text-only), each costing the ViT patch budget
# a vision-language trainer reserves per image (24x24 = 576 tokens,
# the LLaVA-1.5 number). Context windows are 4096 tokens — a real VLM
# capacity, and large enough that every doc fits.
_MM_PACK_IMAGE_TOKENS = 576
_MM_PACK_CAPACITY = 4096


def _mm_pack_oracle() -> str:
    from evolution_data_warehouse_spark.operators.datapipe import (
        PACK_SHARDS,
    )
    from evolution_data_warehouse_spark.queries.datapipe import (
        _bucket_sql,
    )

    return f"""
WITH m AS (
    SELECT doc_id,
           CAST(len(str_split(lower(COALESCE(text, '')), ' '))
                AS BIGINT) AS n_text_tokens,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END
                AS BIGINT) AS n_images,
           {_bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
toks AS (
    SELECT doc_id, n_text_tokens, n_images, shard,
           n_text_tokens + {_MM_PACK_IMAGE_TOKENS} * n_images
               AS n_mm_tokens
    FROM m
),
runs AS (
    SELECT doc_id, n_text_tokens, n_images, n_mm_tokens, shard,
           COALESCE(SUM(n_mm_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
)
SELECT doc_id, n_text_tokens, n_images,
       CAST(n_mm_tokens AS BIGINT) AS n_mm_tokens, shard,
       CAST((shard << 40) + (cum_before // {_MM_PACK_CAPACITY})
            AS BIGINT) AS bin_id,
       CAST(cum_before % {_MM_PACK_CAPACITY} AS BIGINT) AS bin_pos
FROM runs
"""


@register(
    "pack_multimodal",
    _mm_pack_oracle(),
    doc="Multimodal sequence packing — the MMC4/LLaVA interleaved-"
    "window builder: a document's window cost is its text tokens "
    "plus 576 per image (the ViT patch budget a VLM trainer "
    "reserves), and documents pack into 4096-token context windows "
    "with the same sharded contiguous-fill machinery as "
    "pack_sequences (operators/datapipe.py::pack_contiguous — hash "
    "shard, per-shard running sum, (shard << 40) | local_bin ids; "
    "no global sort, shards scale with the cluster). Image counts "
    "are a closed-form doc_id schedule, so the oracle states the "
    "whole layout exactly. The cost column is the only multimodal "
    "delta — packing at 100 TB is identical to the text path.",
)
def pack_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.datapipe import (
        pack_contiguous,
    )

    n_images = (
        F.when(F.col("doc_id") % 3 == 1, 1)
        .when(F.col("doc_id") % 3 == 2, 2)
        .otherwise(0)
        .cast("bigint")
    )
    n_text = F.size(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
    ).cast("bigint")
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        n_text.alias("n_text_tokens"),
        n_images.alias("n_images"),
    ).withColumn(
        "n_mm_tokens",
        (
            F.col("n_text_tokens")
            + _MM_PACK_IMAGE_TOKENS * F.col("n_images")
        ).cast("bigint"),
    )
    return pack_contiguous(
        docs, token_col="n_mm_tokens", capacity=_MM_PACK_CAPACITY
    ).select(
        "doc_id", "n_text_tokens", "n_images", "n_mm_tokens",
        "shard", "bin_id", "bin_pos",
    )


# ---------------------------------------------------------------------------
# l-diversity audit — the companion privacy check to quality_k_anonymity
# ---------------------------------------------------------------------------

_L_DIVERSITY_L = 3

_L_DIV_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
g AS (
    SELECT c_nationkey, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
    FROM q GROUP BY c_nationkey, bal_bucket
)
SELECT c_nationkey, bal_bucket, k, l_distinct
FROM g WHERE l_distinct < {_L_DIVERSITY_L}
"""


@register(
    "quality_l_diversity",
    _L_DIV_ORACLE,
    doc="l-diversity audit (Machanavajjhala et al. 2007) — the "
    "companion check quality_k_anonymity needs: a class can be "
    "k-anonymous yet still leak if every member shares the SAME "
    "sensitive value, so each quasi-identifier class (nation, "
    "balance bucket) must contain >= l = 3 distinct sensitive values "
    "(market segment). One hash aggregate at quasi-identifier "
    "cardinality with a distinct-count; the filter keeps only the "
    "leaking classes, so output stays small at any input scale.",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    g = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_distinct"),
    )
    return g.filter(F.col("l_distinct") < _L_DIVERSITY_L)


# ---------------------------------------------------------------------------
# Mergeable histogram-quantile sketch — the distributed percentile
# estimator beside the exact fpq percentiles
# ---------------------------------------------------------------------------

# Fixed integer bins of width 1000 over l_extendedprice (domain
# ~[900, 105k] -> ~105 bins at any SF). The histogram IS the mergeable
# sketch: per-partition partials combine map-side, and bin cardinality
# is bounded by the value DOMAIN, not the data size — the property
# that makes it a sketch. Estimated quantile = the lower bound of the
# smallest bin whose cumulative count reaches ceil(p*n), stated in
# integer thousandths of the bin width.
_HIST_BIN_WIDTH = 1000
_HIST_QUANTILES = ((25, "q25"), (50, "q50"), (75, "q75"), (99, "q99"))


def _hist_quantiles_oracle() -> str:
    qcols = ", ".join(
        f"CAST(MIN(CASE WHEN 100 * cum >= {p} * n THEN bin_lo END) "
        f"AS BIGINT) AS {name}"
        for p, name in _HIST_QUANTILES
    )
    return f"""
WITH b AS (
    SELECT CAST(floor(l_extendedprice / {_HIST_BIN_WIDTH}) AS BIGINT)
               AS bin,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
cums AS (
    SELECT bin, c,
           bin * {_HIST_BIN_WIDTH} AS bin_lo,
           SUM(c) OVER (ORDER BY bin) AS cum,
           SUM(c) OVER () AS n
    FROM b
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       {qcols}
FROM cums
"""


@register(
    "agg_histogram_quantiles",
    _hist_quantiles_oracle(),
    doc="Mergeable histogram-quantile sketch — the distributed "
    "percentile estimator (t-digest's fixed-bin cousin) beside the "
    "exact fpq percentiles: values bucket into fixed integer bins "
    "(width 1000 over l_extendedprice, ~105 bins at ANY scale "
    "because bin count is bounded by the value DOMAIN, not the row "
    "count), per-partition partials combine map-side, and each "
    "quantile reads off as the lower bound of the first bin whose "
    "cumulative count reaches ceil(p*n) — the integer "
    "cross-multiplication 100*cum >= p*n, no float ever decides. "
    "The cumulative window runs over the ~105-row bin table, never "
    "the data. This is the sketch a 1000-executor job publishes "
    "when exact order statistics would need a full sort.",
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    b = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice") / _HIST_BIN_WIDTH)
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cums = b.select(
        "bin",
        "c",
        (F.col("bin") * _HIST_BIN_WIDTH).alias("bin_lo"),
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qcols = [
        F.min(
            F.when(100 * F.col("cum") >= p * F.col("n"), F.col("bin_lo"))
        )
        .cast("bigint")
        .alias(name)
        for p, name in _HIST_QUANTILES
    ]
    return cums.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        *qcols,
    )


# ---------------------------------------------------------------------------
# Schema-evolution source read — mergeSchema over heterogeneous snapshots
# ---------------------------------------------------------------------------

_MERGESCHEMA_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_source,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_source,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
"""


@register(
    "src_parquet_mergeschema",
    _MERGESCHEMA_ORACLE,
    doc="Schema-evolution read — the lake-format reality at 100 TB: "
    "old partitions were written before a column existed. Two "
    "snapshots of the corpus are written side by side (v1: even "
    "doc_ids WITHOUT the source column — the pre-evolution schema; "
    "v2: odd doc_ids with it), then read back as ONE relation via "
    "spark.read.option('mergeSchema', true) — the widened schema "
    "back-fills NULL for v1's missing column. The aggregate (row "
    "count, non-null vs null source split exactly on the snapshot "
    "boundary, language cardinality, id checksum) only matches the "
    "oracle's closed-form expectation if the union, the back-fill, "
    "and the column alignment are all correct. Note mergeSchema "
    "reads every footer — production pins the merged schema in the "
    "catalog instead; this query proves the mechanics the catalog "
    "automates.",
)
def src_parquet_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.relational import (
        _scratch,
    )

    path = _scratch("src_parquet_mergeschema", sf_dir)
    docs = t(spark, sf_dir, "documents")
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(f"{path}/v1")
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "source")
        .write.mode("overwrite")
        .parquet(f"{path}/v2")
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("source").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_with_source"),
        F.sum(F.col("source").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_source"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )
