"""Round-14 query extensions.

Per the r13 verdict's build directives: retrieval chunking (the
retrieval-side twin of context-window packing), a quality-classifier
calibration curve (the measure-the-knob companion to
``text_quality_ccnet``), and the connexion-session duration report
that closes the last reference-parity residual (track_connexions).
All follow the registry's determinism rules
(queries/common.py): integer fixed-point arithmetic wherever an
interpolated value would otherwise rank, full tie-breaks, exact DuckDB
oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.datapipe import (
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    chunk_fixed_tokens,
)
from evolution_data_warehouse_spark.queries.common import (
    gated_broadcast,
    register,
    t,
)

_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


# ---------------------------------------------------------------------------
# chunk_overlap_spans — fixed-token retrieval chunks with provenance
# ---------------------------------------------------------------------------


def _chunk_oracle() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS toks
    FROM documents
),
tok AS (
    SELECT doc_id,
           unnest(range(1, len(toks) + 1)) - 1 AS pos,
           unnest(toks) AS tok
    FROM d
),
tr AS (
    SELECT doc_id, pos, length(tok) AS tlen,
           COALESCE(SUM(length(tok) + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS char_off,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_toks
    FROM tok
),
starts AS (
    SELECT doc_id, pos AS tok_start, char_off AS char_start,
           LEAST(pos + {CHUNK_SIZE}, n_toks) AS end_excl
    FROM tr
    WHERE pos % {_CHUNK_STRIDE} = 0
      AND (pos = 0 OR pos < n_toks - {CHUNK_OVERLAP})
),
ends AS (
    SELECT doc_id, pos AS tok_end, char_off + tlen AS char_end FROM tr
)
SELECT s.doc_id,
       CAST(s.tok_start // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s.tok_start AS BIGINT) AS tok_start,
       CAST(e.tok_end AS BIGINT) AS tok_end,
       CAST(s.char_start AS BIGINT) AS char_start,
       CAST(e.char_end AS BIGINT) AS char_end,
       CAST(e.tok_end - s.tok_start + 1 AS BIGINT) AS n_chunk_tokens
FROM starts s
JOIN ends e ON e.doc_id = s.doc_id AND e.tok_end = s.end_excl - 1
"""


@register(
    "chunk_overlap_spans",
    _chunk_oracle(),
    doc=f"Fixed-token retrieval chunking with overlap and provenance — "
    f"the retrieval-side twin of pack_sequences (pack merges short "
    f"docs into context windows; chunk splits docs into "
    f"{CHUNK_SIZE}-token retrieval units with {CHUNK_OVERLAP}-token "
    f"overlap). Every chunk carries (doc_id, chunk_idx, token span, "
    f"char span into the original text) so retrieved chunks can be "
    f"traced back to exact source offsets. A trailing start is "
    f"emitted only if it adds tokens beyond the previous chunk "
    f"(start == 0 OR start < n - overlap), so no chunk is contained "
    f"in its predecessor. Plan: posexplode + ONE shuffle per doc over "
    f"which all four window expressions share the exchange and sort "
    f"(running char offset — the pack_contiguous running-sum "
    f"discipline — plus lead(size-1)/partition-max for chunk char "
    f"ends); join-free, so nothing corpus-sized is ever broadcast. "
    f"No global sort; docs chunk independently at any corpus size.",
)
def chunk_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_fixed_tokens(docs)


# ---------------------------------------------------------------------------
# text_quality_calibration — precision/recall per decile fence
# ---------------------------------------------------------------------------

_CAL_EFP = 10**6  # the text_quality_ccnet score fixed point
_CAL_DECILES = 10


def _calibration_oracle() -> str:
    return f"""
WITH s AS (
    SELECT CAST(({_CAL_EFP} * len(COALESCE(text, '')))
                // GREATEST(len(str_split(lower(COALESCE(text, '')),
                                          ' ')), 1) AS BIGINT) AS score_q,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
),
per_score AS (
    SELECT score_q, CAST(COUNT(*) AS BIGINT) AS n_s,
           CAST(SUM(pos) AS BIGINT) AS pos_s
    FROM s GROUP BY score_q
),
cum AS (
    SELECT score_q, n_s, pos_s,
           SUM(n_s) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           SUM(n_s) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS keep_n,
           SUM(pos_s) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS keep_pos
    FROM per_score
),
tot AS (
    SELECT CAST(SUM(n_s) AS BIGINT) AS n,
           CAST(SUM(pos_s) AS BIGINT) AS p
    FROM per_score
),
fences AS (
    SELECT d.d AS decile,
           MIN(c.score_q) AS fence_score
    FROM (SELECT unnest(range(1, {_CAL_DECILES} + 1)) AS d) d
    CROSS JOIN tot
    JOIN cum c ON c.cum_n >= (tot.n * (d.d - 1)) // {_CAL_DECILES} + 1
    GROUP BY d.d
)
SELECT CAST(f.decile AS BIGINT) AS decile,
       CAST(f.fence_score AS BIGINT) AS fence_score,
       CAST(c.keep_n AS BIGINT) AS n_keep,
       CAST(c.keep_pos AS BIGINT) AS tp,
       CAST(c.keep_pos AS DOUBLE) / CAST(c.keep_n AS DOUBLE) AS precision_keep,
       CAST(c.keep_pos AS DOUBLE) / CAST(tot.p AS DOUBLE) AS recall_keep,
       CAST(2 * c.keep_pos AS DOUBLE)
           / CAST(c.keep_n + tot.p AS DOUBLE) AS f1_keep
FROM fences f
JOIN cum c ON c.score_q = f.fence_score
CROSS JOIN tot
ORDER BY decile
"""


@register(
    "text_quality_calibration",
    _calibration_oracle(),
    doc="Quality-classifier calibration curve — the measure-the-knob "
    "companion to text_quality_ccnet (same dedup_threshold_sweep "
    "discipline: never deploy a filter fence without its curve). The "
    "ccnet proxy score is bucketed into deciles; for each decile "
    "fence the policy 'keep score >= fence' is scored against a "
    "known-label fixture (lang = 'en' as the stand-in ground truth — "
    "deployments swap in their human-labeled column, the same "
    "stand-in contract as ccnet's perplexity proxy), emitting "
    "precision / recall / F1 per fence as single-division doubles "
    "over exact integer tallies. Plan: the corpus is touched by ONE "
    "groupBy on the score value; deciles, fences and the whole curve "
    "derive from the per-distinct-score aggregate (cardinality « "
    "docs) — no per-doc global window, unlike a naive NTILE. At "
    "100 TB the only wide op over raw data is that single hash "
    "aggregate.",
)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = F.expr(
        f"CAST({_CAL_EFP} * length(coalesce(text, '')) DIV "
        f"greatest(size(split(lower(coalesce(text, '')), ' ')), 1)"
        f" AS BIGINT)"
    )
    s = t(spark, sf_dir, "documents").select(
        score.alias("score_q"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_score = s.groupBy("score_q").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("pos").cast("bigint").alias("pos_s"),
    )
    from pyspark.sql import Window as W

    asc = W.orderBy("score_q").rowsBetween(W.unboundedPreceding, W.currentRow)
    desc = W.orderBy(F.col("score_q").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = per_score.select(
        "score_q",
        "n_s",
        "pos_s",
        F.sum("n_s").over(asc).alias("cum_n"),
        F.sum("n_s").over(desc).alias("keep_n"),
        F.sum("pos_s").over(desc).alias("keep_pos"),
    )
    tot = per_score.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("pos_s").cast("bigint").alias("p"),
    )
    deciles = spark.range(1, _CAL_DECILES + 1).select(
        F.col("id").cast("bigint").alias("decile")
    )
    fences = (
        deciles.crossJoin(tot)
        .join(
            cum.select("score_q", "cum_n"),
            F.col("cum_n")
            >= F.expr(f"(n * (decile - 1)) DIV {_CAL_DECILES} + 1"),
        )
        .groupBy("decile")
        .agg(F.min("score_q").alias("fence_score"))
    )
    return (
        fences.join(cum, F.col("fence_score") == cum["score_q"])
        .crossJoin(tot)
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("fence_score").cast("bigint").alias("fence_score"),
            F.col("keep_n").cast("bigint").alias("n_keep"),
            F.col("keep_pos").cast("bigint").alias("tp"),
            (F.col("keep_pos").cast("double") / F.col("keep_n").cast("double"))
            .alias("precision_keep"),
            (F.col("keep_pos").cast("double") / F.col("p").cast("double"))
            .alias("recall_keep"),
            (
                (2 * F.col("keep_pos")).cast("double")
                / (F.col("keep_n") + F.col("p")).cast("double")
            ).alias("f1_keep"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# view_session_durations — connexion-session report (gap-and-island)
# ---------------------------------------------------------------------------

# 30-minute inactivity gap: the classic web/DB session boundary (the
# reference's active-session view reports "duree_connexion_min" per
# live connection; over an event log the same report is sessionization).
_SESSION_GAP_US = 30 * 60 * 1_000_000


def _session_oracle() -> str:
    return f"""
WITH e AS (
    SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
),
g AS (
    SELECT user_id, event_id, ts, us,
           CASE WHEN us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > {_SESSION_GAP_US} OR LAG(us) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM e
),
s AS (
    SELECT user_id, ts, us,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM g
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST((MAX(us) - MIN(us)) // 60000000 AS BIGINT) AS duration_min,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s
GROUP BY user_id, session_seq
"""


@register(
    "view_session_durations",
    _session_oracle(),
    doc="Connexion-session duration report — the observable output of "
    "the reference's connection tracker "
    "(analytics/etl/track_connexions.py:79-92 projects the auth log; "
    "its v_connexions_actives view reports duree_connexion_min per "
    "session), re-expressed as gap-and-island sessionization over the "
    "events log: a 30-minute inactivity gap opens a new session "
    "(lag + running-sum flags — the standard island id), then one "
    "aggregate per (user, session) emits start/end/duration-minutes/"
    "event-count. Duration is integer epoch-microsecond arithmetic "
    "(floor minutes) — no float ever ranks. Plan: ONE shuffle on "
    "user_id shared by the lag window, the island running sum, and "
    "the final per-session aggregate; users sessionize independently "
    "at any event volume (no global sort, no self-join).",
)
def view_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("us")
    )
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("us").over(w_ord)
    new_sess = F.when(
        prev.isNull() | ((F.col("us") - prev) > _SESSION_GAP_US), 1
    ).otherwise(0)
    s = ev.withColumn(
        "session_seq",
        F.sum(new_sess).over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr("(max(us) - min(us)) DIV 60000000")
        .cast("bigint")
        .alias("duration_min"),
        F.count("*").cast("bigint").alias("n_events"),
    ).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start",
        "session_end",
        "duration_min",
        "n_events",
    )


# ---------------------------------------------------------------------------
# stream_chunk_ingest — streaming retrieval-chunk maintenance
# ---------------------------------------------------------------------------


def _stream_chunk_oracle() -> str:
    # the chunk_overlap_spans oracle restricted to the streamed slice
    return _chunk_oracle().replace(
        "FROM documents", "FROM documents WHERE doc_id % 5 = 0"
    )


@register(
    "stream_chunk_ingest",
    _stream_chunk_oracle(),
    doc="Streaming retrieval-chunk maintenance "
    "(streaming/incremental.py::streaming_chunk_ingest): new documents "
    "(doc_id % 5 == 0, staged as parquet files) drain through an "
    "availableNow file stream; each micro-batch emits its own "
    "fixed-token chunks with char-span provenance into the chunk "
    "store. Chunking is per-document, so the drained store is "
    "bit-identical to batch-chunking the whole slice regardless of "
    "how files split into micro-batches — asserted by sharing "
    "chunk_overlap_spans' oracle restricted to the slice. The query "
    "runs the stream TWICE against one checkpoint; the rerun must "
    "process 0 rows (file-source restart idempotence, the "
    "stream_minhash_ingest contract, exercised inside the "
    "oracle-checked query itself). At 100 TB this is how a retrieval "
    "index stays current: only new files ever re-chunk, the corpus "
    "store is append-only.",
)
def stream_chunk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from evolution_data_warehouse_spark.streaming.incremental import (
        streaming_chunk_ingest,
    )

    batch = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 5 == 0)
    )
    root = tempfile.mkdtemp(prefix="stream_chunk_ingest_")
    src, out, ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"
    batch.repartition(2).write.parquet(src)
    n1 = streaming_chunk_ingest(
        spark, src, out, ckpt, "doc_id long, text string"
    )
    n2 = streaming_chunk_ingest(
        spark, src, out, ckpt, "doc_id long, text string"
    )
    if n1 < 1 or n2 != 0:
        raise AssertionError(
            f"availableNow idempotence violated: first run {n1} "
            f"input rows, rerun {n2} (expected >=1 then 0)"
        )
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# chunk_bm25_topk — chunk-grain BM25 retrieval with span provenance
# ---------------------------------------------------------------------------


def _chunk_bm25_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r11 import (
        _BM25_FP,
        _BM25_QUERIES,
        _BM25_TOP_K,
    )

    vals = ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in _BM25_QUERIES
        for term in terms
    )
    return f"""
WITH d AS (
    SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS toks
    FROM documents
),
tok AS (
    SELECT doc_id,
           unnest(range(1, len(toks) + 1)) - 1 AS pos,
           unnest(toks) AS tok
    FROM d
),
tr AS (
    SELECT doc_id, pos, tok, length(tok) AS tlen,
           COALESCE(SUM(length(tok) + 1) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS char_off,
           COUNT(*) OVER (PARTITION BY doc_id) AS n_toks
    FROM tok
),
chunk_span AS (
    SELECT s.doc_id, s.pos // {_CHUNK_STRIDE} AS chunk_idx,
           s.pos AS tok_start,
           LEAST(s.pos + {CHUNK_SIZE}, s.n_toks) - 1 AS tok_end,
           s.char_off AS char_start,
           e.char_off + e.tlen AS char_end,
           LEAST(s.pos + {CHUNK_SIZE}, s.n_toks) - s.pos AS dl
    FROM tr s
    JOIN tr e ON e.doc_id = s.doc_id
             AND e.pos = LEAST(s.pos + {CHUNK_SIZE}, s.n_toks) - 1
    WHERE s.pos % {_CHUNK_STRIDE} = 0
      AND (s.pos = 0 OR s.pos < s.n_toks - {CHUNK_OVERLAP})
),
ct AS (
    SELECT cs.doc_id, cs.chunk_idx, cs.dl, lower(k.tok) AS token
    FROM chunk_span cs
    JOIN tr k ON k.doc_id = cs.doc_id
             AND k.pos BETWEEN cs.tok_start AND cs.tok_end
),
tf AS (
    SELECT doc_id, chunk_idx, token, dl, CAST(COUNT(*) AS BIGINT) AS tf
    FROM ct GROUP BY 1, 2, 3, 4
),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM chunk_span
),
dft AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
terms AS (
    SELECT q.query_id, tf.doc_id, tf.chunk_idx,
           CAST((CAST(2 * g.n_chunks - 2 * dft.df + 1 AS HUGEINT)
                      * 22 * tf.tf * g.total_tokens * {_BM25_FP})
                // (CAST(2 * dft.df + 1 AS HUGEINT)
                    * (10 * g.total_tokens * tf.tf
                       + 3 * g.total_tokens
                       + 9 * tf.dl * g.n_chunks)) AS BIGINT) AS term_q
    FROM tf
    JOIN dft USING (token)
    JOIN q ON q.token = tf.token
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, chunk_idx,
           CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM terms GROUP BY 1, 2, 3
),
ranked AS (
    SELECT query_id, doc_id, chunk_idx, score_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_q DESC, doc_id, chunk_idx) AS INT) AS rank
    FROM scored
)
SELECT r.query_id, r.doc_id,
       CAST(r.chunk_idx AS BIGINT) AS chunk_idx,
       CAST(cs.char_start AS BIGINT) AS char_start,
       CAST(cs.char_end AS BIGINT) AS char_end,
       r.score_q, r.rank
FROM ranked r
JOIN chunk_span cs
  ON cs.doc_id = r.doc_id AND cs.chunk_idx = r.chunk_idx
WHERE r.rank <= {_BM25_TOP_K}
"""


@register(
    "chunk_bm25_topk",
    _chunk_bm25_oracle(),
    doc="Chunk-grain BM25 retrieval — the RAG composite of "
    "chunk_overlap_spans and text_bm25_topk: the pinned query sets "
    "rank 16-token retrieval chunks instead of whole documents, and "
    "every hit carries its char span into the source text (what a "
    "retrieval service actually returns). Scoring reuses "
    "text_bm25_topk's log-free exact-integer BM25 (rational idf, "
    "DECIMAL-widened products, floor(x*1e6) per-term quantization "
    "BEFORE the sum) with chunk-level df, chunk length as dl, and "
    "chunk count as N — ranking compares pure integers, fully "
    "tie-broken by (doc_id, chunk_idx). Scale shape: chunk spans "
    "come from the join-free chunker; chunk-token membership is an "
    "equi-join on (doc, token position) via a 16-element sequence "
    "explode of each chunk's span (never BETWEEN over the corpus); "
    "tf/df are map-side-combinable hash aggregates; corpus totals "
    "fold in as a 1-row broadcast; top-k is rank-over-window "
    "(WindowGroupLimit per-partition heaps).",
)
def chunk_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.extensions_r11 import (
        _BM25_FP,
        _BM25_QUERIES,
        _BM25_TOP_K,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_fixed_tokens(docs)
    tk = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("pos", "token"),
    )
    # chunk-token membership: explode each chunk's <=16-position span
    # and equi-join token rows on (doc, pos) — bounded fan-out, never
    # a range predicate over the corpus
    ct = (
        chunks.select(
            "doc_id",
            "chunk_idx",
            F.col("n_chunk_tokens").alias("dl"),
            F.explode(
                F.sequence(F.col("tok_start"), F.col("tok_end"))
            ).alias("pos"),
        )
        .join(tk, ["doc_id", "pos"])
        .select("doc_id", "chunk_idx", "dl", "token")
    )
    tf = ct.groupBy("doc_id", "chunk_idx", "token").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.first("dl").alias("dl"),
    )
    g = chunks.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("bigint").alias("total_tokens"),
    )
    dft = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    q = spark.createDataFrame(
        [
            (qid, term)
            for qid, terms in _BM25_QUERIES
            for term in terms
        ],
        "query_id int, token string",
    )
    terms = (
        tf.join(F.broadcast(dft.join(F.broadcast(q), "token")), "token")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            "chunk_idx",
            F.expr(
                f"CAST(CAST(2 * n_chunks - 2 * df + 1 AS DECIMAL(38,0)) "
                f"* 22 * tf * total_tokens * {_BM25_FP} DIV "
                f"(CAST(2 * df + 1 AS DECIMAL(38,0)) "
                f"* (10 * total_tokens * tf "
                f"+ 3 * total_tokens + 9 * dl * n_chunks)) AS BIGINT)"
            ).alias("term_q"),
        )
    )
    scored = terms.groupBy("query_id", "doc_id", "chunk_idx").agg(
        F.sum("term_q").cast("bigint").alias("score_q")
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"), F.asc("chunk_idx")
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BM25_TOP_K)
    )
    return ranked.join(
        chunks.select("doc_id", "chunk_idx", "char_start", "char_end"),
        ["doc_id", "chunk_idx"],
    ).select(
        "query_id",
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "char_start",
        "char_end",
        "score_q",
        "rank",
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar — common-neighbor link prediction, AA weighting
# ---------------------------------------------------------------------------

_AA_FP = 10**6
_AA_TOP = 20
_AA_MAX_DEG = 1000  # the graph_jaccard_neighbors hub-guard value


def _adamic_adar_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _EDGES_SQL,
    )

    return f"""
WITH {_EDGES_SQL},
adj0 AS (
    SELECT pa AS node, pb AS nbr FROM edges
    UNION ALL
    SELECT pb AS node, pa AS nbr FROM edges
),
deg0 AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj0 GROUP BY node
),
keep AS (SELECT node FROM deg0 WHERE d <= {_AA_MAX_DEG}),
adj AS (
    SELECT a.node, a.nbr FROM adj0 a
    JOIN keep k1 ON k1.node = a.node
    JOIN keep k2 ON k2.node = a.nbr
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
),
wz AS (
    -- d >= 2: only nodes with two distinct neighbors can center a
    -- wedge, so the filter drops nothing that joins and keeps ln(d)
    -- away from ln(1) = 0
    SELECT node, CAST(FLOOR({_AA_FP} / ln(d)) AS BIGINT) AS w_q
    FROM deg WHERE d >= 2
),
pairs AS (
    SELECT a.nbr AS u, b.nbr AS w,
           CAST(COUNT(*) AS BIGINT) AS common,
           CAST(SUM(wz.w_q) AS BIGINT) AS aa_q
    FROM adj a
    JOIN adj b ON b.node = a.node AND a.nbr < b.nbr
    JOIN wz ON wz.node = a.node
    GROUP BY a.nbr, b.nbr
    HAVING COUNT(*) >= 2
)
SELECT u, w, common, aa_q
FROM pairs
ORDER BY aa_q DESC, u, w
LIMIT {_AA_TOP}
"""


@register(
    "graph_adamic_adar",
    _adamic_adar_oracle(),
    doc="Adamic-Adar link prediction over the co-purchase graph — the "
    "frequency-weighted refinement of graph_jaccard_neighbors "
    "(Adamic & Adar 2003): each shared neighbor z contributes "
    "1/ln(deg(z)), so rare co-purchase hubs count more than common "
    "ones. Same guarded wedge machinery: hub nodes above the "
    f"{_AA_MAX_DEG}-degree cap drop with their edges, pairs need >= 2 "
    "common neighbors, and the per-z weight quantizes to "
    "floor(1e6/ln(d)) BEFORE the integer sum — the weight table "
    "filters to d >= 2 (only such nodes can center a wedge), so "
    "ln never sees 1. Ranking compares pure int64 sums, top-20 "
    "tie-broken by "
    "(u, w). Scale: wedge fan-out is sum(deg^2) over CAPPED degrees; "
    "the per-node weight table joins the wedge ON THE WEDGE CENTER "
    "(broadcastable after the cap), never per-pair.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.extensions_r7 import _edges

    e = _edges(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=True)
    adj0 = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionAll(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg0 = adj0.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    keep = deg0.filter(F.col("d") <= _AA_MAX_DEG).select("node")
    # per-node tables grow with scale factor: hinted only under the gate
    adj = (
        adj0.join(gated_broadcast(keep, sf_dir, "lineitem"), "node")
        .join(
            gated_broadcast(
                keep.withColumnRenamed("node", "nbr"), sf_dir, "lineitem"
            ),
            "nbr",
        )
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    wz = gated_broadcast(
        deg.filter(F.col("d") >= 2).select(
            F.col("node").alias("wnode"),
            F.expr(f"CAST(FLOOR({_AA_FP} / ln(d)) AS BIGINT)").alias("w_q"),
        ),
        sf_dir,
        "lineitem",
    )
    a, b = adj.alias("a"), adj.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.node") == F.col("a.node"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .join(wz, F.col("a.node") == F.col("wnode"))
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum("w_q").cast("bigint").alias("aa_q"),
        )
        .filter(F.col("common") >= 2)
    )
    return (
        pairs.select("u", "w", "common", "aa_q")
        .orderBy(F.col("aa_q").desc(), "u", "w")
        .limit(_AA_TOP)
    )


# ---------------------------------------------------------------------------
# sim_ann_ndcg_eval — graded-relevance ranking quality for the IVF leg
# ---------------------------------------------------------------------------

_NDCG_FP = 10**6
# Pinned integer discount table floor(1e6 / log2(i+1)) for positions
# 1..10, computed ONCE in Python and embedded as the same literal in
# both engines — no runtime log ever runs, so NDCG is pure int64
# arithmetic end to end.
_NDCG_DISCOUNT = tuple(
    int(_NDCG_FP / __import__("math").log2(i + 1)) for i in range(1, 11)
)


def _ndcg_rel_case(rank_col: str) -> str:
    return (
        f"CASE WHEN {rank_col} <= 3 THEN 3 "
        f"WHEN {rank_col} <= 6 THEN 2 ELSE 1 END"
    )


def _ann_ndcg_oracle() -> str:
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _ANN_ORACLE,
        _ivf_oracle,
    )

    disc_vals = ", ".join(
        f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISCOUNT)
    )
    return f"""
WITH bf AS (
    SELECT query_id, neighbor_id, rank,
           {_ndcg_rel_case('rank')} AS rel
    FROM ({_ANN_ORACLE})
),
iv AS (SELECT query_id, neighbor_id, rank AS pos FROM ({_ivf_oracle()})),
disc(pos, d) AS (VALUES {disc_vals}),
idcg AS (
    -- the exact list is already ideally ordered (rel non-increasing
    -- in exact rank), so IDCG is its discounted sum directly
    SELECT bf.query_id,
           CAST(SUM(bf.rel * disc.d) AS BIGINT) AS idcg_q
    FROM bf JOIN disc ON disc.pos = bf.rank
    GROUP BY 1
),
dcg AS (
    SELECT iv.query_id,
           CAST(SUM(COALESCE(bf.rel, 0) * disc.d) AS BIGINT) AS dcg_q
    FROM iv
    JOIN disc ON disc.pos = iv.pos
    LEFT JOIN bf ON bf.query_id = iv.query_id
                AND bf.neighbor_id = iv.neighbor_id
    GROUP BY 1
)
SELECT i.query_id, i.idcg_q,
       CAST(COALESCE(g.dcg_q, 0) AS BIGINT) AS dcg_q,
       CAST((COALESCE(g.dcg_q, 0) * {_NDCG_FP}) // i.idcg_q AS BIGINT)
           AS ndcg_fp
FROM idcg i LEFT JOIN dcg g ON g.query_id = i.query_id
"""


@register(
    "sim_ann_ndcg_eval",
    _ann_ndcg_oracle(),
    doc="ANN NDCG@10 evaluation — the graded-relevance companion to "
    "sim_ann_recall_eval (recall says WHETHER the exact neighbors "
    "come back; NDCG says whether they come back IN ORDER, which is "
    "what a retrieval consumer experiences). Exact brute-force ranks "
    "grade relevance (top-3 -> 3, 4-6 -> 2, 7-10 -> 1); the IVF "
    "ranking's DCG divides by the ideal DCG (the exact list is "
    "ideally ordered by construction, so IDCG is its own discounted "
    "sum). Position discounts floor(1e6/log2(i+1)) are a PINNED "
    "10-row integer literal shared by both engines — no runtime log, "
    "pure int64 sums, a single floor division per query. Both legs "
    "are the registered queries themselves (callables + composed "
    "oracles, the recall-eval one-source-of-truth discipline). "
    "Scale: the exact leg is the calibration-time O(Q*N) scan on a "
    "query sample; the discount/grade joins are 10-row broadcasts.",
)
def sim_ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.llm_ops import (
        sim_ann_bruteforce,
        sim_ann_ivf,
    )

    # pinned: grades and IDCG both consume the O(Q*N) exact leg (the
    # sim_ann_recall_eval checkpoint lesson)
    bf = (
        sim_ann_bruteforce(spark, sf_dir)
        .select(
            "query_id",
            "neighbor_id",
            F.expr(_ndcg_rel_case("rank")).cast("bigint").alias("rel"),
            F.col("rank").cast("int").alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    disc = F.broadcast(
        spark.createDataFrame(
            [(i + 1, d) for i, d in enumerate(_NDCG_DISCOUNT)],
            "pos int, d long",
        )
    )
    idcg = (
        bf.join(disc, bf["rank"] == disc["pos"])
        .groupBy("query_id")
        .agg(F.sum(F.col("rel") * F.col("d")).cast("bigint").alias("idcg_q"))
    )
    iv = sim_ann_ivf(spark, sf_dir).select(
        F.col("query_id").alias("iq"),
        F.col("neighbor_id").alias("inb"),
        F.col("rank").cast("int").alias("pos"),
    )
    dcg = (
        iv.join(disc, iv["pos"] == disc["pos"])
        .join(
            bf.select(
                F.col("query_id").alias("bq"),
                F.col("neighbor_id").alias("bnb"),
                "rel",
            ),
            (F.col("iq") == F.col("bq")) & (F.col("inb") == F.col("bnb")),
            "left",
        )
        .groupBy(F.col("iq").alias("query_id"))
        .agg(
            F.sum(F.coalesce(F.col("rel"), F.lit(0)) * F.col("d"))
            .cast("bigint")
            .alias("dcg_q")
        )
    )
    return idcg.join(dcg, "query_id", "left").select(
        "query_id",
        "idcg_q",
        F.coalesce("dcg_q", F.lit(0)).cast("bigint").alias("dcg_q"),
        F.expr(f"(coalesce(dcg_q, 0) * {_NDCG_FP}) DIV idcg_q")
        .cast("bigint")
        .alias("ndcg_fp"),
    )


# ---------------------------------------------------------------------------
# ivm_join_maintenance — delta-rule maintenance of a join view
# ---------------------------------------------------------------------------

_IVMJ_DEC = "decimal(28,2)"

_IVMJ_ORACLE = """
WITH r_all AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
s_all AS (SELECT c_custkey, c_mktsegment FROM customer),
r_new AS (SELECT * FROM r_all),
s_new AS (SELECT * FROM s_all)
SELECT s.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(r.o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
           AS sum_price
FROM r_new r JOIN s_new s ON s.c_custkey = r.o_custkey
GROUP BY 1
"""


@register(
    "ivm_join_maintenance",
    _IVMJ_ORACLE,
    doc="Incremental maintenance of an aggregated JOIN view — the "
    "delta-rule generalization of ivm_agg_retraction from one "
    "relation to two: V = agg(R join S) absorbs inserts to BOTH "
    "sides via dV = agg(dR join S0) + agg(R0 join dS) + "
    "agg(dR join dS) (the classic bag-algebra delta expansion), "
    "merged into the pinned V0 = agg(R0 join S0). The base split is "
    "deterministic (orderkey %% 4, custkey %% 10); correctness is "
    "the full-recompute oracle over (R0+dR) join (S0+dS) — "
    "delta-merge == recompute bit-for-bit because counts are signed "
    "integers and sums stay DECIMAL(28,2) until one final double "
    "cast. Scale: V0 is aggregated once and checkpoint-pinned; the "
    "R0-side delta leg joins against the dS KEY SET (broadcast — at "
    "100 TB this is the pruned index lookup a join view keeps, never "
    "a base rescan per batch); dR legs touch only the delta.",
)
def ivm_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    r_all = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    s_all = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = F.col("o_totalprice").cast(_IVMJ_DEC)

    r0 = r_all.filter(F.col("o_orderkey") % 4 != 0)
    dr = r_all.filter(F.col("o_orderkey") % 4 == 0)
    s0 = s_all.filter(F.col("c_custkey") % 10 != 0)
    ds = s_all.filter(F.col("c_custkey") % 10 == 0)

    def agg_leg(r, s):
        return (
            r.join(s, r["o_custkey"] == s["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").cast("bigint").alias("dn"),
                F.sum(dec).alias("dsum"),
            )
        )

    # the materialized view state: aggregated once, pinned
    v0 = agg_leg(r0, s0).withColumnRenamed("dn", "n0").withColumnRenamed(
        "dsum", "s0"
    ).localCheckpoint(eager=True)
    # delta legs: dR x S0, R0 x dS (dS keys broadcast = index lookup),
    # dR x dS
    legs = (
        agg_leg(dr, s0)
        .unionByName(agg_leg(r0, ds))
        .unionByName(agg_leg(dr, ds))
    )
    delta = legs.groupBy("c_mktsegment").agg(
        F.sum("dn").cast("bigint").alias("dn"),
        F.sum("dsum").alias("ds"),
    )
    zero = F.lit(0).cast(_IVMJ_DEC)
    return v0.join(delta, "c_mktsegment", "full_outer").select(
        "c_mktsegment",
        (
            F.coalesce(F.col("n0"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        (
            F.coalesce(F.col("s0"), zero) + F.coalesce(F.col("ds"), zero)
        )
        .cast("double")
        .alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# fe_quantile_binning — equal-frequency feature binning, grid-bounded
# ---------------------------------------------------------------------------

_QBIN_N = 10


def _qbin_oracle() -> str:
    return f"""
WITH v AS (
    SELECT CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents FROM customer
),
per_val AS (
    SELECT cents, CAST(COUNT(*) AS BIGINT) AS n_v FROM v GROUP BY cents
),
cum AS (
    SELECT cents, n_v,
           SUM(n_v) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
    FROM per_val
),
tot AS (SELECT CAST(SUM(n_v) AS BIGINT) AS n FROM per_val),
fences AS (
    SELECT d.d AS bin, MIN(c.cents) AS fence_cents
    FROM (SELECT unnest(range(1, {_QBIN_N} + 1)) AS d) d
    CROSS JOIN tot
    JOIN cum c ON c.cum_n >= (tot.n * (d.d - 1)) // {_QBIN_N} + 1
    GROUP BY d.d
),
fc AS (
    SELECT f.bin, f.fence_cents, c.cum_n
    FROM fences f JOIN cum c ON c.cents = f.fence_cents
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(fence_cents AS BIGINT) AS fence_cents,
       CAST(COALESCE(LEAD(cum_n) OVER (ORDER BY bin), tot.n)
            - (cum_n - (SELECT n_v FROM per_val p
                        WHERE p.cents = fc.fence_cents))
            AS BIGINT) AS n_in_bin
FROM fc CROSS JOIN tot
ORDER BY bin
"""


@register(
    "fe_quantile_binning",
    _qbin_oracle(),
    doc="Equal-frequency (quantile) feature binning — the "
    "feature-engineering workhorse beside fe_woe_encoding / "
    "fe_feature_hashing: 10 bins over account balance, each bin's "
    "fence being the smallest value whose cumulative count reaches "
    "the bin's rank threshold (exact, fully deterministic — no "
    "approx-percentile sketch variance). The value is pre-quantized "
    "to a fixed cents grid, so the ordered cumulative pass runs over "
    "GRID-cardinality rows (bounded by the value range, independent "
    "of corpus size) — the text_quality_calibration discipline; the "
    "raw table is touched by one hash aggregate only. Bin counts "
    "derive from consecutive fence cumulative counts via a 10-row "
    "window (lead), never a per-row range join.",
)
def fe_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    v = t(spark, sf_dir, "customer").select(
        F.expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").alias("cents")
    )
    per_val = v.groupBy("cents").agg(
        F.count("*").cast("bigint").alias("n_v")
    )
    cum = per_val.select(
        "cents",
        "n_v",
        F.sum("n_v")
        .over(
            W.orderBy("cents").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        )
        .alias("cum_n"),
    )
    tot = per_val.agg(F.sum("n_v").cast("bigint").alias("n"))
    bins = spark.range(1, _QBIN_N + 1).select(
        F.col("id").cast("bigint").alias("bin")
    )
    fences = (
        bins.crossJoin(tot)
        .join(
            cum.select("cents", "cum_n"),
            F.col("cum_n") >= F.expr(f"(n * (bin - 1)) DIV {_QBIN_N} + 1"),
        )
        .groupBy("bin")
        .agg(F.min("cents").alias("fence_cents"))
    )
    fc = fences.join(
        cum, F.col("fence_cents") == cum["cents"]
    ).select("bin", "fence_cents", "cum_n", "n_v")
    wl = W.orderBy("bin")
    return (
        fc.crossJoin(tot)
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("fence_cents").cast("bigint").alias("fence_cents"),
            (
                F.coalesce(F.lead("cum_n").over(wl), F.col("n"))
                - (F.col("cum_n") - F.col("n_v"))
            )
            .cast("bigint")
            .alias("n_in_bin"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# chunk_sentence_bins — sentence-boundary-aware chunk assignment
# ---------------------------------------------------------------------------

_SENT_BUDGET = 24  # tokens per chunk budget (testdata docs ~25 tokens)


def _sentence_bins_oracle() -> str:
    return f"""
WITH d AS (
    SELECT doc_id,
           str_split(COALESCE(text, ''), '. ') AS sents
    FROM documents
),
s AS (
    SELECT doc_id,
           unnest(range(1, len(sents) + 1)) - 1 AS sent_idx,
           unnest(sents) AS sent
    FROM d
),
tok AS (
    SELECT doc_id, sent_idx,
           CAST(len(str_split(sent, ' ')) AS BIGINT) AS n_tok
    FROM s
),
runs AS (
    SELECT doc_id, sent_idx, n_tok,
           COALESCE(SUM(n_tok) OVER (
               PARTITION BY doc_id ORDER BY sent_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM tok
)
SELECT doc_id,
       CAST(cum_before // {_SENT_BUDGET} AS BIGINT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_sentences,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(sent_idx) AS BIGINT) AS first_sent,
       CAST(MAX(sent_idx) AS BIGINT) AS last_sent
FROM runs
GROUP BY doc_id, cum_before // {_SENT_BUDGET}
"""


@register(
    "chunk_sentence_bins",
    _sentence_bins_oracle(),
    doc="Sentence-boundary-aware chunking — the production RAG "
    "strategy beside chunk_overlap_spans' fixed-token windows: "
    "sentences ('. ' boundaries, the corpus convention) pack into "
    f"~{_SENT_BUDGET}-token chunks by running token count, so no "
    "sentence is ever split across chunks (one straddling sentence "
    "per boundary is admitted — the pack_contiguous contiguous-fill "
    "trade, which keeps assignment a single linear window instead of "
    "a serialized greedy repack). Output per chunk: sentence span + "
    "token count provenance. Plan: sentence posexplode + ONE "
    "doc-keyed window (running sum) + one hash aggregate — docs "
    "chunk independently at any corpus size; no global sort.",
)
def chunk_sentence_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    sents = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\\. ")
        ).alias("sent_idx", "sent"),
    )
    tok = sents.select(
        "doc_id",
        "sent_idx",
        F.size(F.split(F.col("sent"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    runs = tok.withColumn(
        "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    ).withColumn(
        "chunk_idx",
        F.expr(f"cum_before DIV {_SENT_BUDGET}").cast("bigint"),
    )
    return runs.groupBy("doc_id", "chunk_idx").agg(
        F.count("*").cast("bigint").alias("n_sentences"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("sent_idx").cast("bigint").alias("first_sent"),
        F.max("sent_idx").cast("bigint").alias("last_sent"),
    )


# ---------------------------------------------------------------------------
# stream_session_ingest — mergeable streaming sessionization
# ---------------------------------------------------------------------------


@register(
    "stream_session_ingest",
    _session_oracle(),
    doc="Streaming sessionization with a MERGEABLE session store "
    "(streaming/incremental.py::streaming_session_ingest): the events "
    "table drains through an availableNow file stream in 1-file "
    "micro-batches; each batch sessionizes only ITSELF, then merges "
    "into the store by per-user interval coalescing under the same "
    "30-minute gap rule (sort by start, running-max end, island sum). "
    "Interval coalescing is ORDER-INDEPENDENT — coalescing partial "
    "sessionizations equals sessionizing the union of events no "
    "matter how files split into batches — so the drained store is "
    "hash-identical to view_session_durations' batch output over the "
    "same events (the two entries share ONE oracle, the "
    "recall-eval one-source-of-truth discipline). The query reruns "
    "the stream against its checkpoint and asserts the rerun "
    "processes 0 rows (restart idempotence). At 100 TB this is how "
    "session state stays fresh: closed sessions are never "
    "reprocessed, only new files sessionize, and the merge touches "
    "store+batch intervals (users x sessions), never the event log.",
)
def stream_session_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.streaming.incremental import (
        streaming_session_ingest,
    )

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    root = tempfile.mkdtemp(prefix="stream_session_ingest_")
    src, store, ckpt = f"{root}/src", f"{root}/store", f"{root}/ckpt"
    # 4 files -> 4 micro-batches (maxFilesPerTrigger=1): the random
    # repartition split is exactly what the order-independence claim
    # must survive
    ev.repartition(4).write.parquet(src)
    schema = "user_id long, event_id long, ts timestamp"
    n1 = streaming_session_ingest(spark, src, store, ckpt, schema)
    n2 = streaming_session_ingest(spark, src, store, ckpt, schema)
    if n1 < 1 or n2 != 0:
        raise AssertionError(
            f"availableNow idempotence violated: first run {n1} "
            f"input rows, rerun {n2} (expected >=1 then 0)"
        )
    sessions = spark.read.parquet(store)
    w = W.partitionBy("user_id").orderBy("session_start", "session_end")
    return sessions.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("session_seq"),
        "session_start",
        "session_end",
        F.expr(
            "(unix_micros(session_end) - unix_micros(session_start))"
            " DIV 60000000"
        )
        .cast("bigint")
        .alias("duration_min"),
        "n_events",
    )
