"""Round-12 query batch: cross-document exact-substring dedup
(ExactSubstr pairwise form), OPQ-rotated product quantization, and
DoReMi-style domain reweighting for the corpus-mixing family.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float comparison, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
has no substring-level dedup, vector-quantization, or corpus-mixing
surface (its dedup is row-level DISTINCT, transformation/nettoyage.py)
— this batch extends the LLM-pipeline layer beyond reference parity
(the declared SURVEY §7 growth direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64_sql as _ch64_sql,
)
from evolution_data_warehouse_spark.queries.common import (
    fpq,
    fpq_sql,
    register,
    t,
)

# ---------------------------------------------------------------------------
# dedup_substring_cross — cross-document ExactSubstr (Lee et al. 2022)
# ---------------------------------------------------------------------------

_XS_W = 5
_XS_MAX_DF = 1000  # anchor-frequency guard, interpolated into the
# oracle below so engine and oracle can never diverge silently (same
# pattern as DEFAULT_MAX_BUCKET / DEFAULT_MAX_SHINGLE_DF)

_XS_ORACLE = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents),
wins AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           {_ch64_sql(f"array_to_string(tk[i:i+{_XS_W - 1}], ' ')")} AS h
    FROM toks, LATERAL unnest(range(1, len(tk) - {_XS_W} + 2)) t(i)
    WHERE len(tk) >= {_XS_W}
),
anch AS (
    SELECT doc_id, pos, h FROM (
        SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS df
        FROM wins
    ) WHERE df BETWEEN 2 AND {_XS_MAX_DF}
),
m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
           a.pos - b.pos AS diag
    FROM anch a JOIN anch b USING (h)
    WHERE a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, diag, pos_a,
           pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                      ORDER BY pos_a) AS island
    FROM m
),
spans AS (
    SELECT doc_a, doc_b, diag, island,
           MAX(pos_a) - MIN(pos_a) + {_XS_W} AS span_tokens
    FROM runs GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_spans,
       CAST(MAX(span_tokens) AS BIGINT) AS longest_span_tokens,
       CAST(SUM(span_tokens) AS BIGINT) AS shared_tokens
FROM spans GROUP BY doc_a, doc_b
"""


@register(
    "dedup_substring_cross",
    _XS_ORACLE,
    doc="Cross-document exact-substring dedup — the pairwise form of "
    "Lee et al. 2022's ExactSubstr (operators/dedup.py::"
    "cross_substring_spans): which document PAIRS share a verbatim "
    ">= 5-token run, where, and how long. Anchor k-gram hashes are "
    "df-guarded (window-count + filter sharing the pair join's "
    "exchange), the pair join runs on the hash key only (bucket-keyed "
    "equi-join, never all-pairs — plan-locked), and within-pair span "
    "extension is a gaps-and-islands pass per alignment diagonal. "
    "All-integer output, exactly engine-reproducible. Complements "
    "dedup_substring_spans (per-document span marking) with the "
    "provenance question cross-snapshot curation needs. The reference "
    "has no substring-level operator (row-level DISTINCT only, "
    "transformation/nettoyage.py).",
)
def dedup_substring_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        cross_substring_spans,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("tk")
    )
    return cross_substring_spans(docs, w=_XS_W, max_anchor_df=_XS_MAX_DF)


# ---------------------------------------------------------------------------
# sim_opq_assign — OPQ-rotated product quantization (Ge et al. 2013)
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.queries.extensions_r9 import (  # noqa: E402
    _PQ_BOOKS,
    _PQ_M,
    _PQ_QUERY,
    _pq_adc_sql,
    _pq_dist_code_sql,
    _pq_vdefs_sql,
)
from evolution_data_warehouse_spark.queries.opq_model import (  # noqa: E402
    OPQ_BOOKS as _OPQ_BOOKS,
    OPQ_R as _OPQ_R,
)


def _opq_rotate_sql() -> str:
    """The two rotation CTE bodies every OPQ oracle shares: z0 = exact
    int64 matvec of the quantized rotation against the fixed-point
    embedding list, then an exact floor-division back to PQ_SCALE,
    re-aliased ``vq`` so the shared PQ code fragments
    (_pq_dist_code_sql) apply unchanged in the rotated space."""
    from evolution_data_warehouse_spark.operators.similarity import (
        OPQ_R_SCALE,
        opq_quantize_rotation,
    )

    r_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(str(int(r)) for r in row) + "]"
            for row in opq_quantize_rotation(_OPQ_R)
        )
        + "]"
    )
    s = OPQ_R_SCALE
    return f"""
z0 AS (
    SELECT vec_id,
           list_transform({r_lit},
               row -> list_sum(list_transform(row, (rv, i) -> rv * vq[i])))
               AS z0
    FROM v
),
rv AS (
    SELECT vec_id,
           list_transform(z0, z -> CAST(
               (z - (((z % {s}) + {s}) % {s})) // {s} AS BIGINT)) AS vq
    FROM z0
)"""


def _opq_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        opq_adc_lut,
        opq_rotate_query,
        pq_quantize_codebooks,
    )

    ddefs, codes = _pq_dist_code_sql(
        pq_quantize_codebooks(_OPQ_BOOKS), "d"
    )
    qz = opq_rotate_query(_OPQ_R, _PQ_QUERY)
    adc = _pq_adc_sql(opq_adc_lut(_OPQ_BOOKS, qz), "d")
    packed = " + ".join(
        f"CAST(dcode{j} AS BIGINT) * {16 ** j}" for j in range(_PQ_M)
    )
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
d AS (SELECT vec_id, {", ".join(ddefs)} FROM rv),
c AS (SELECT vec_id, {", ".join(codes)} FROM d)
SELECT vec_id,
       CAST({packed} AS BIGINT) AS code_packed,
       CAST({adc} AS BIGINT) AS adc_dist
FROM c
"""


@register(
    "sim_opq_assign",
    _opq_oracle(),
    doc="Optimized product quantization (Ge et al. 2013, parametric "
    "OPQ; operators/similarity.py::opq_assign): vectors rotate through "
    "a learned orthogonal R (PCA basis + eigenvalue allocation, "
    "tools/train_opq.py) before the per-subspace nearest-centroid snap "
    "— sim_pq_assign at the SAME m=8, k=16 code budget, in the rotated "
    "space where subspace variances are balanced, which is what cuts "
    "quantization distortion. Rotation is exact int64 arithmetic "
    "(Σ round(R·1e6)·floor(x·1e6), exact floor-div back to PQ_SCALE) "
    "so assignment stays bit-deterministic and oracle-checkable. "
    "adc_dist is the compressed-domain distance to the pinned query "
    "under the rotated lookup tables. The rotation runs as ONE "
    "Arrow-batched numpy int64 matmul (mapInPandas, no shuffle, "
    "partitioning preserved — measured 16x faster than the "
    "interpreted higher-order-function form, see SCALE.md); measured "
    "PQ-vs-OPQ recall delta in sim_pq_opq_recall and SCALE.md.",
)
def sim_opq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        opq_adc_lut,
        opq_assign,
        opq_rotate_query,
    )

    codes = opq_assign(
        t(spark, sf_dir, "embeddings"), _OPQ_R, _OPQ_BOOKS
    )
    lut = opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY))
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
# sim_pq_opq_recall — PQ vs OPQ shortlist recall at equal code budget
# ---------------------------------------------------------------------------

_OPQ_SHORTLIST = 50
_OPQ_TRUTH_K = 10
_OPQ_RECALL_FP = 1_000_000


def _pq_exact_dist_sql() -> str:
    """Exact int64 squared distance from the fixed-point embedding
    list (vq) to the pinned query — the ground-truth leg both ADC
    shortlists are graded against."""
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
    )

    q_lit = (
        "["
        + ", ".join(str(round(x * PQ_SCALE)) for x in _PQ_QUERY)
        + "]"
    )
    return (
        f"list_sum(list_transform(vq, (v, i) -> "
        f"(v - {q_lit}[i]) * (v - {q_lit}[i])))"
    )


def _pq_opq_recall_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        opq_adc_lut,
        opq_rotate_query,
        pq_adc_lut,
        pq_quantize_codebooks,
    )

    pq_dd, pq_cc = _pq_dist_code_sql(
        pq_quantize_codebooks(_PQ_BOOKS), "p"
    )
    pq_adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "p")
    opq_dd, opq_cc = _pq_dist_code_sql(
        pq_quantize_codebooks(_OPQ_BOOKS), "o"
    )
    qz = opq_rotate_query(_OPQ_R, _PQ_QUERY)
    opq_adc = _pq_adc_sql(opq_adc_lut(_OPQ_BOOKS, qz), "o")
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
ex AS (SELECT vec_id, {_pq_exact_dist_sql()} AS xdist FROM v),
pd AS (SELECT vec_id, {", ".join(pq_dd)} FROM v),
pc AS (SELECT vec_id, CAST({pq_adc} AS BIGINT) AS adc
       FROM (SELECT vec_id, {", ".join(pq_cc)} FROM pd)),
od AS (SELECT vec_id, {", ".join(opq_dd)} FROM rv),
oc AS (SELECT vec_id, CAST({opq_adc} AS BIGINT) AS adc
       FROM (SELECT vec_id, {", ".join(opq_cc)} FROM od)),
truth AS (SELECT vec_id FROM ex ORDER BY xdist, vec_id
          LIMIT {_OPQ_TRUTH_K}),
pq_sl AS (SELECT vec_id FROM pc ORDER BY adc, vec_id
          LIMIT {_OPQ_SHORTLIST}),
opq_sl AS (SELECT vec_id FROM oc ORDER BY adc, vec_id
           LIMIT {_OPQ_SHORTLIST})
SELECT 'pq' AS method,
       CAST({_OPQ_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_OPQ_RECALL_FP} // {_OPQ_TRUTH_K} AS BIGINT)
           AS recall_fp
FROM truth t JOIN pq_sl s ON s.vec_id = t.vec_id
UNION ALL
SELECT 'opq' AS method,
       CAST({_OPQ_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_OPQ_RECALL_FP} // {_OPQ_TRUTH_K} AS BIGINT)
           AS recall_fp
FROM truth t JOIN opq_sl s ON s.vec_id = t.vec_id
"""


@register(
    "sim_pq_opq_recall",
    _pq_opq_recall_oracle(),
    doc="PQ vs OPQ shortlist quality at EQUAL code budget (m=8, k=16, "
    "one packed BIGINT per vector): of the exact fixed-point top-10 "
    "neighbors of the pinned query, how many does each method's "
    "ADC shortlist@50 contain? The calibration measurement that "
    "justifies (or rejects) paying for the rotation — the PQ twin of "
    "sim_ann_recall_eval / dedup_minhash_recall_eval's "
    "measure-don't-assume discipline. All three legs share ONE scan "
    "(exact distance, PQ ADC, OPQ ADC are parallel columns of the "
    "same projection, localCheckpoint-materialized so the top-k "
    "sorts never re-derive them); every leg is exact int64, so the "
    "two-row result is bit-reproducible. Scale: top-k legs compile "
    "to TakeOrderedAndProject (bounded heap, no global sort); the "
    "eval runs on a query sample at calibration time.",
)
def sim_pq_opq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
        opq_adc_lut,
        opq_assign,
        opq_rotate_query,
        pq_adc_lut,
        pq_assign_batch,
    )

    emb = t(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PQ_SCALE))
        ).cast("long"),
    )
    q_lit = F.array(
        *[F.lit(round(x * PQ_SCALE)).cast("long") for x in _PQ_QUERY]
    )
    xdist = F.aggregate(
        F.zip_with(vq, q_lit, lambda v, q: (v - q) * (v - q)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def adc_col(codes_df, lut):
        adc = None
        for j in range(_PQ_M):
            term = F.element_at(
                F.array(*[F.lit(x).cast("bigint") for x in lut[j]]),
                F.col(f"code{j}") + 1,
            )
            adc = term if adc is None else adc + term
        return codes_df.select(
            "vec_id", adc.cast("bigint").alias("adc")
        )

    pq_adc = adc_col(
        pq_assign_batch(emb, _PQ_BOOKS), pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)
    )
    opq_adc = adc_col(
        opq_assign(emb, _OPQ_R, _OPQ_BOOKS),
        opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY)),
    )
    exact = emb.select("vec_id", xdist.alias("xdist"))
    truth = (
        exact.orderBy("xdist", "vec_id")
        .limit(_OPQ_TRUTH_K)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )

    def leg(adc_df, method: str) -> DataFrame:
        sl = (
            adc_df.orderBy("adc", "vec_id")
            .limit(_OPQ_SHORTLIST)
            .select("vec_id")
        )
        return truth.join(sl, "vec_id").agg(
            F.lit(method).alias("method"),
            F.lit(_OPQ_TRUTH_K).cast("bigint").alias("n_truth"),
            F.count("*").cast("bigint").alias("n_hit"),
            (
                F.count("*")
                * F.lit(_OPQ_RECALL_FP)
                / F.lit(_OPQ_TRUTH_K)
            )
            .cast("bigint")
            .alias("recall_fp"),
        )

    return leg(pq_adc, "pq").unionAll(leg(opq_adc, "opq"))


# ---------------------------------------------------------------------------
# corpus_doremi_weights — DoReMi-style domain reweighting (Xie et al.)
# ---------------------------------------------------------------------------

_DRM_T = 10  # pinned iteration count (the pagerank discipline)
_DRM_FP = 10**9  # weight fixed-point scale (weights sum to ~1e9)
_DRM_EFP = 10**6  # excess-loss fixed-point scale
_DRM_SMOOTH_KEEP, _DRM_SMOOTH_DEN = 4, 5  # w <- (4*norm + uniform)/5


def _doremi_oracle() -> str:
    steps = []
    prev = "w0"
    for i in range(1, _DRM_T + 1):
        steps.append(
            f"""u{i} AS MATERIALIZED (
    SELECT domain, n_docs, excess_q, nk,
           (CAST(w AS HUGEINT) * ({_DRM_EFP} + excess_q)) // {_DRM_EFP}
               AS wu
    FROM {prev}
),
s{i} AS (SELECT CAST(SUM(wu) AS HUGEINT) AS tot FROM u{i}),
w{i} AS (
    SELECT domain, n_docs, excess_q, nk,
           CAST(({_DRM_SMOOTH_KEEP} * ((CAST(wu AS HUGEINT) * {_DRM_FP})
                // tot) + ({_DRM_FP} // nk)) // {_DRM_SMOOTH_DEN}
               AS BIGINT) AS w
    FROM u{i}, s{i}
)"""
        )
        prev = f"w{i}"
    chain = ",\n".join(steps)
    return f"""
WITH st AS MATERIALIZED (
    SELECT source AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(COALESCE(text, ''))) AS BIGINT) AS sc,
           CAST(SUM(len(str_split(lower(COALESCE(text, '')), ' ')))
               AS BIGINT) AS stk
    FROM documents GROUP BY 1
),
gl AS (SELECT CAST(SUM(sc) AS BIGINT) AS tc,
              CAST(SUM(stk) AS BIGINT) AS tt FROM st),
k0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM st),
base AS (
    SELECT domain, n_docs, nk,
           GREATEST(
               CAST((CAST({_DRM_EFP} AS HUGEINT) * sc) // stk AS BIGINT)
               - CAST((CAST({_DRM_EFP} AS HUGEINT) * tc) // tt AS BIGINT),
               0) AS excess_q
    FROM st, gl, k0
),
w0 AS (SELECT domain, n_docs, excess_q, nk,
              CAST({_DRM_FP} // nk AS BIGINT) AS w FROM base),
{chain}
SELECT domain, n_docs, excess_q, CAST(w AS BIGINT) AS weight_fp
FROM {prev}
"""


@register(
    "corpus_doremi_weights",
    _doremi_oracle(),
    doc="DoReMi-style domain reweighting (Xie et al. 2023, 'DoReMi: "
    "Optimizing Data Mixtures Speeds Up Language Model Pretraining'): "
    "Group-DRO multiplicative-weights over domains (= source), 10 "
    "pinned iterations — w <- w·(1 + eta·excess), normalize, then "
    "smooth against uniform (the paper's (1-c)·alpha + c·u step, "
    "c=1/5), which couples the domains through normalization so the "
    "trajectory has no closed form and the iteration is real. The "
    "per-domain excess loss is a deterministic proxy (domain mean "
    "token length above the corpus mean, fixed-point) standing in "
    "for the proxy-vs-reference model loss gap the paper trains — "
    "deployments swap in their measured loss columns; the update "
    "machinery is what the engine owns. EVERY step is exact integer "
    "arithmetic (HUGEINT/DECIMAL(38,0) widening before each "
    "floor-division, the corpus_dsir_weights discipline), so 10 "
    "chained nonlinear steps stay bit-identical on both engines. "
    "Scale: one corpus scan builds K domain rows; the iteration "
    "runs agg+broadcast-join over the K-row frame, eagerly "
    "localCheckpointed per step (constant lineage depth, the "
    "graph_pagerank discipline, operators/dedup.py:424).",
)
def corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(F.lower(text), " ")
    # one corpus scan → K domain rows, materialized once; gl/k0/base
    # all derive from the checkpoint (without it the scan runs 3×),
    # and the K-row frame collapses to one partition so the 10
    # iteration steps don't each shuffle K rows across 200 reducers
    st = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length(text)).cast("bigint").alias("sc"),
            F.sum(F.size(toks)).cast("bigint").alias("stk"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    gl = st.agg(
        F.sum("sc").cast("bigint").alias("tc"),
        F.sum("stk").cast("bigint").alias("tt"),
    )
    k0 = st.agg(F.count("*").cast("bigint").alias("nk"))
    base = (
        st.crossJoin(gl)
        .crossJoin(k0)
        .select(
            "domain",
            "n_docs",
            "nk",
            F.greatest(
                F.expr(
                    f"CAST(CAST({_DRM_EFP} AS DECIMAL(38,0)) * sc "
                    f"DIV stk AS BIGINT)"
                )
                - F.expr(
                    f"CAST(CAST({_DRM_EFP} AS DECIMAL(38,0)) * tc "
                    f"DIV tt AS BIGINT)"
                ),
                F.lit(0).cast("bigint"),
            ).alias("excess_q"),
        )
    )
    w = base.select(
        "domain",
        "n_docs",
        "excess_q",
        "nk",
        F.expr(f"CAST({_DRM_FP} DIV nk AS BIGINT)").alias("w"),
    ).localCheckpoint(eager=True)
    for _ in range(_DRM_T):
        wu = w.select(
            "domain",
            "n_docs",
            "excess_q",
            "nk",
            F.expr(
                f"CAST(CAST(w AS DECIMAL(38,0)) * ({_DRM_EFP} + excess_q) "
                f"DIV {_DRM_EFP} AS BIGINT)"
            ).alias("wu"),
        )
        tot = wu.agg(F.sum("wu").cast("decimal(38,0)").alias("tot"))
        w = (
            wu.crossJoin(tot)
            .select(
                "domain",
                "n_docs",
                "excess_q",
                "nk",
                F.expr(
                    f"CAST(({_DRM_SMOOTH_KEEP} * (CAST(wu AS "
                    f"DECIMAL(38,0)) * {_DRM_FP} DIV tot) "
                    f"+ ({_DRM_FP} DIV nk)) DIV {_DRM_SMOOTH_DEN} "
                    f"AS BIGINT)"
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select(
        "domain", "n_docs", "excess_q", F.col("w").alias("weight_fp")
    )


# ---------------------------------------------------------------------------
# stream_minhash_ingest — streaming near-dup ingest vs persisted index
# ---------------------------------------------------------------------------


def _stream_minhash_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _SHINGLES_SQL,
        _mh_sql_fragments,
    )

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
),
pairs AS (
    SELECT batch_id, ({eq}) AS eq_count
    FROM cand
    JOIN mh sa ON corpus_id = sa.doc_id
    JOIN mh sb ON batch_id = sb.doc_id
),
agg AS (
    SELECT batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
           CAST(MAX(eq_count) AS INT) AS max_eq
    FROM pairs GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(a.n_corpus_matches, 0) AS n_corpus_matches,
       CAST(COALESCE(a.max_eq, 0) AS INT) AS max_eq
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN agg a ON a.batch_id = d.doc_id
"""


@register(
    "stream_minhash_ingest",
    _stream_minhash_oracle(),
    doc="Streaming near-dup ingest (streaming/dedup_ingest.py): the "
    "banded-minhash composition of stream_dedup_ingest — the corpus "
    "(doc_id % 5 != 0) is persisted as a minhash INDEX (signatures + "
    "hot-bucket-guarded band keys, band-partitioned parquet), and the "
    "new batch (doc_id % 5 == 0, staged as parquet files) drains "
    "through an availableNow file stream whose every micro-batch "
    "shingles only ITSELF and joins band keys against the stored "
    "index (operators/dedup.py::minhash_pairs_against — the same join "
    "core as dedup_minhash_incremental, which recomputes the corpus "
    "side in-flight; here it is read back, the 100 TB contract). The "
    "query runs the stream TWICE against one checkpoint — the second "
    "run must process 0 micro-batches (file-source restart "
    "idempotence, exercised inside the oracle-checked query itself; "
    "tests/test_streaming.py adds the multi-run append scenario). "
    "Output: per admitted document, candidate-match count and best "
    "equal-minhash count (0..16) — all integers, hash-checked against "
    "the full SQL mirror of index build + band join.",
)
def stream_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from evolution_data_warehouse_spark.streaming.dedup_ingest import (
        minhash_index_write,
        streaming_minhash_ingest,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    root = tempfile.mkdtemp(prefix="stream_minhash_ingest_")
    src = f"{root}/src"
    index = f"{root}/index"
    out = f"{root}/out"
    ckpt = f"{root}/ckpt"
    batch.repartition(2).write.parquet(src)
    minhash_index_write(corpus, index)
    n1 = streaming_minhash_ingest(
        spark, src, index, out, ckpt, "doc_id long, text string"
    )
    # restart idempotence is part of the contract: a rerun over the
    # same checkpoint must process nothing and leave the store as-is
    n2 = streaming_minhash_ingest(
        spark, src, index, out, ckpt, "doc_id long, text string"
    )
    if n1 < 1 or n2 != 0:
        raise AssertionError(
            f"availableNow idempotence violated: first run {n1} "
            f"input rows, rerun {n2} (expected >=1 then 0)"
        )
    return spark.read.parquet(out)


# ---------------------------------------------------------------------------
# agg_hll_distinct — deterministic HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

_HLL_M = 256  # registers (p=8)
_HLL_CAP = 50  # max rho: 60-bit hash - 8 register bits leaves 52 value
# bits; capping at 50 keeps the integer inverse-power sum <= 2^58
_HLL_ALPHA = 0.7182725932495458  # 0.7213/(1 + 1.079/256), the m=256
# bias constant from Flajolet et al. 2007 — identical literal on both
# sides, so the single float multiply/divide chain is IEEE-identical


def _hll_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    h = content_hash64_sql("'hll:' || CAST(o_custkey AS VARCHAR)")
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    # small-range correction (Flajolet et al. fig. 3): below 2.5m the
    # raw estimator is badly biased; with V empty registers, linear
    # counting m*ln(m/V) is the standard fix — same CASE on both sides
    est = (
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND n_registers < {_HLL_M}"
        f" THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE)"
        f" / CAST({_HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return f"""
WITH h AS (
    SELECT o_orderpriority AS grp, {h} AS hv, o_custkey
    FROM orders
),
r AS (
    SELECT grp, hv % {_HLL_M} AS reg,
           CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_CAP}
                ELSE LEAST(bit_count(((hv // {_HLL_M})
                           & -(hv // {_HLL_M})) - 1) + 1, {_HLL_CAP})
           END AS rho
    FROM h
),
m AS (SELECT grp, reg, MAX(rho) AS mr FROM r GROUP BY grp, reg),
s AS (
    SELECT grp,
           CAST(SUM(CAST(2 AS HUGEINT) ** ({_HLL_CAP} - mr)) AS BIGINT)
               + ({_HLL_M} - COUNT(*)) * CAST({2 ** _HLL_CAP} AS BIGINT)
               AS s,
           CAST(COUNT(*) AS BIGINT) AS n_registers
    FROM m GROUP BY grp
),
x AS (
    SELECT grp, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
    FROM h GROUP BY grp
)
SELECT s.grp, x.n_exact, s.n_registers,
       {fpq_sql(est, 4)} AS est_distinct
FROM s JOIN x ON s.grp = x.grp
"""


@register(
    "agg_hll_distinct",
    _hll_oracle(),
    doc="Deterministic HyperLogLog distinct-count sketch (Flajolet et "
    "al. 2007) per order priority over customer keys: md5-based 60-bit "
    "hash -> 256 registers (low 8 bits) x trailing-zero rank of the "
    "value bits (rho = bit_count((w & -w) - 1) + 1 — a pure integer "
    "expression, so the registers are bit-identical on any engine, "
    "unlike approx_count_distinct whose HLL++ register layout is "
    "engine-private). The inverse-power sum is computed as the exact "
    "INTEGER sum of 2^(50-M_j) (<= 2^58, no float accumulation "
    "order), empty registers included at full weight; only the final "
    "alpha*m^2/S estimate is one float multiply/divide chain, "
    "fixed-point quantized. n_exact rides along so the sketch error "
    "is visible in the result itself. Scale: one hash aggregate to "
    "(group x 256) registers, then a 256-row-per-group rollup — the "
    "mergeable-sketch shape that replaces COUNT(DISTINCT)'s full "
    "shuffle at 100 TB. Extends the sketch family "
    "(agg_countmin_sketch, kmv_overlap; operators/sketches.py).",
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    h = content_hash64(
        F.concat(F.lit("hll:"), F.col("o_custkey").cast("string"))
    )
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        h.alias("hv"),
        "o_custkey",
    )
    w = (F.col("hv") / _HLL_M).cast("long")  # exact: hv < 2^60 < 2^53*256
    rho = F.when(w == 0, F.lit(_HLL_CAP)).otherwise(
        F.least(
            F.expr(
                f"bit_count(((hv div {_HLL_M}) & -(hv div {_HLL_M})) - 1)"
                " + 1"
            ),
            F.lit(_HLL_CAP),
        )
    )
    regs = (
        base.select(
            "grp", (F.col("hv") % _HLL_M).alias("reg"), rho.alias("rho")
        )
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    s = regs.groupBy("grp").agg(
        (
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_HLL_CAP} - mr)"
                )
            )
            + (_HLL_M - F.count("*")) * F.lit(2 ** _HLL_CAP)
        )
        .cast("bigint")
        .alias("s"),
        F.count("*").cast("bigint").alias("n_registers"),
    )
    x = base.groupBy("grp").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    est = F.expr(
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND n_registers < {_HLL_M}"
        f" THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE)"
        f" / CAST({_HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return s.join(x, "grp").select(
        "grp", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# emb_binarize_hamming — sign-binarized embeddings + Hamming shortlist
# ---------------------------------------------------------------------------

_BIN_TOPK = 50


def _bin_query_words() -> tuple[int, int]:
    """The pinned query vector, sign-binarized into (lo, hi) 32-bit
    words — driver-side ints shared by engine and oracle builder."""
    lo = sum(1 << i for i in range(32) if _PQ_QUERY[i] > 0)
    hi = sum(1 << i for i in range(32) if _PQ_QUERY[32 + i] > 0)
    return lo, hi


def _bin_words_sql() -> str:
    """SQL for the two packed sign words of the embedding column —
    32 dims per BIGINT word (two words, not one: bit 63 would wrap a
    single signed int64)."""
    return (
        "list_sum(list_transform(embedding[1:32], (x, i) -> CASE WHEN "
        "CAST(x AS DOUBLE) > 0.0 THEN CAST(1 AS BIGINT) << (i - 1) "
        "ELSE 0 END)) AS lo, "
        "list_sum(list_transform(embedding[33:64], (x, i) -> CASE WHEN "
        "CAST(x AS DOUBLE) > 0.0 THEN CAST(1 AS BIGINT) << (i - 1) "
        "ELSE 0 END)) AS hi"
    )


def _bin_oracle() -> str:
    qlo, qhi = _bin_query_words()
    return f"""
WITH w AS (SELECT vec_id, {_bin_words_sql()} FROM embeddings),
d AS (
    SELECT vec_id,
           CAST(bit_count(xor(CAST(lo AS BIGINT), {qlo}))
              + bit_count(xor(CAST(hi AS BIGINT), {qhi})) AS INT)
               AS hamming
    FROM w
)
SELECT vec_id, hamming,
       CAST(ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS INT) AS rank
FROM d ORDER BY hamming, vec_id LIMIT {_BIN_TOPK}
"""


@register(
    "emb_binarize_hamming",
    _bin_oracle(),
    doc="Binary embedding sketch + Hamming-distance shortlist: each "
    "64-dim vector sign-binarizes into two packed 32-bit words (64x "
    "compression — the cheapest useful vector sketch, the first-stage "
    "filter retrieval stacks run before PQ/exact re-rank), and the "
    "pinned query's top-50 by Hamming distance (bit_count of XOR — a "
    "single CPU instruction per word, whole-stage codegen) is "
    "returned fully tie-broken. Everything is integer, so the sketch "
    "and the shortlist are bit-identical on any engine. Two words, "
    "not one: bit 63 would wrap a signed int64 — the packing detail "
    "that silently corrupts single-word implementations. Scale: one "
    "narrow projection + TakeOrderedAndProject (bounded heap); the "
    "packed words are 16 bytes/vector, so a 100 TB float corpus "
    "screens from a ~1.5 TB bit table.",
)
def emb_binarize_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    qlo, qhi = _bin_query_words()

    powers = F.array(
        *[F.lit(1 << i).cast("long") for i in range(32)]
    )

    def word(lo_dim: int) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("embedding"), lo_dim + 1, 32),
                powers,
                lambda x, p: F.when(
                    x.cast("double") > 0.0, p
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    d = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (
            F.bit_count(word(0).bitwiseXOR(F.lit(qlo)))
            + F.bit_count(word(32).bitwiseXOR(F.lit(qhi)))
        )
        .cast("int")
        .alias("hamming"),
    )
    top = d.orderBy("hamming", "vec_id").limit(_BIN_TOPK)
    w = W.orderBy("hamming", "vec_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    )


# ---------------------------------------------------------------------------
# stats_chi2_independence — lang x source contingency test
# ---------------------------------------------------------------------------

_CHI2_ORACLE = f"""
WITH c AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nr FROM c GROUP BY lang),
ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nc FROM c GROUP BY source),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
SELECT c.lang, c.source, c.n,
       {fpq_sql(
           'CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE)', 6)} AS expected,
       {fpq_sql(
           '(CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' * (CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' / (CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE))', 6)} AS chi2_contrib
FROM c
JOIN rt ON rt.lang = c.lang
JOIN ct ON ct.source = c.source
CROSS JOIN g
"""


@register(
    "stats_chi2_independence",
    _CHI2_ORACLE,
    doc="Chi-squared independence decomposition over the lang x source "
    "contingency table: per cell, observed count, expected count under "
    "independence (row_total x col_total / grand_total), and the "
    "cell's chi-squared contribution — the corpus-composition "
    "diagnostic that detects when a source's language mix shifted "
    "between crawls (total chi2 = SUM(chi2_contrib), dof = "
    "(R-1)(C-1), both derivable from the rows). All inputs are exact "
    "integer counts; the expected/contribution values are single "
    "identical IEEE expression chains on both engines, fixed-point "
    "quantized. Scale: one hash aggregate to R x C cells, then "
    "broadcast-sized margin joins — the margins are dimension-sized "
    "whatever the corpus is. Extends the experiment-statistics family "
    "(stats_cohens_d, stats_cuped_adjust, stats_ks_two_sample).",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rt = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nr"))
    ct = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("nc"))
    g = c.agg(F.sum("n").cast("bigint").alias("nt"))
    e = (
        F.col("nr").cast("double")
        * F.col("nc").cast("double")
        / F.col("nt").cast("double")
    )
    diff = F.col("n").cast("double") - e
    return (
        c.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(g)
        .select(
            "lang",
            "source",
            "n",
            fpq(e, 6).alias("expected"),
            fpq(diff * diff / e, 6).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# event_markov_stationary — stationary distribution of the type chain
# ---------------------------------------------------------------------------

_MKV_T = 12  # pinned power iterations
_MKV_FP = 10**12  # probability fixed-point scale


def _markov_oracle() -> str:
    steps = []
    prev = "p0"
    for i in range(1, _MKV_T + 1):
        steps.append(
            f"""p{i} AS MATERIALIZED (
    SELECT e.dst AS state,
           CAST(SUM((CAST(p.p AS HUGEINT) * e.n) // e.rn) AS BIGINT)
               AS p
    FROM {prev} p JOIN e ON e.src = p.state
    GROUP BY e.dst
)"""
        )
        prev = f"p{i}"
    chain = ",\n".join(steps)
    return f"""
WITH tr AS MATERIALIZED (
    SELECT event_type AS src,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
e0 AS (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
e AS MATERIALIZED (
    SELECT src, dst, n,
           CAST(SUM(n) OVER (PARTITION BY src) AS BIGINT) AS rn
    FROM e0
),
k0 AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS nk FROM e),
p0 AS (
    SELECT src AS state, CAST({_MKV_FP} // nk AS BIGINT) AS p
    FROM (SELECT DISTINCT src FROM e), k0
),
{chain}
SELECT state AS event_type, p AS stationary_fp
FROM {prev}
"""


@register(
    "event_markov_stationary",
    _markov_oracle(),
    doc="Stationary distribution of the user-journey Markov chain: "
    "consecutive event types per user (lead over ts, event_id) form "
    "the transition counts; 12 pinned power-iteration steps propagate "
    "a uniform start through P — where user sessions spend their "
    "long-run time, the navigation-equilibrium diagnostic (PageRank's "
    "cousin on the behavioral graph; same discipline as "
    "graph_pagerank/corpus_doremi_weights: pinned iterations, exact "
    "integer fixed-point, per-edge floor division identical on both "
    "engines — mass leaks identically, so the result is "
    "bit-reproducible). Scale: transitions are one window pass over "
    "user-partitioned events; the iteration joins a K-row rank vector "
    "(K = event types) against a K^2-row edge list, eagerly "
    "localCheckpointed per step — constant lineage, dimension-sized "
    "state no matter the corpus.",
)
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    e0 = tr.groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("n")
    )
    e = (
        e0.withColumn(
            "rn", F.sum("n").over(W.partitionBy("src")).cast("bigint")
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    k0 = e.select("src").distinct().agg(
        F.count("*").cast("bigint").alias("nk")
    )
    p = (
        e.select("src").distinct()
        .crossJoin(k0)
        .select(
            F.col("src").alias("state"),
            F.expr(f"CAST({_MKV_FP} DIV nk AS BIGINT)").alias("p"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for _ in range(_MKV_T):
        p = (
            p.join(e, p.state == e.src)
            .groupBy(F.col("dst").alias("state"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(CAST(p AS DECIMAL(38,0)) * n DIV rn"
                        " AS BIGINT)"
                    )
                )
                .cast("bigint")
                .alias("p")
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return p.select(
        F.col("state").alias("event_type"),
        F.col("p").alias("stationary_fp"),
    )


# ---------------------------------------------------------------------------
# fe_woe_encoding — weight-of-evidence categorical encoding
# ---------------------------------------------------------------------------

# Laplace-smoothed WOE with rational half-counts kept as INTEGER
# doubled counts (2n+1 over 2N+K) until the single ln() at the end —
# the ln/fpq pairing the fn_math_suite canary licenses.
_WOE_ORACLE = f"""
WITH c AS (
    SELECT o_orderpriority AS category,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_pos,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
               AS n_neg
    FROM orders GROUP BY 1
),
g AS (
    SELECT CAST(SUM(n_pos) AS BIGINT) AS t_pos,
           CAST(SUM(n_neg) AS BIGINT) AS t_neg,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM c
)
SELECT c.category, c.n_pos, c.n_neg,
       {fpq_sql(
           'ln((CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE)))', 6)} AS woe,
       {fpq_sql(
           '(CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE)'
           ' - CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE))'
           ' * ln((CAST(2 * c.n_pos + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_pos + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_neg + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_neg + g.k AS DOUBLE)))', 6)} AS iv_contrib
FROM c CROSS JOIN g
"""


@register(
    "fe_woe_encoding",
    _WOE_ORACLE,
    doc="Weight-of-evidence categorical encoding (credit-scoring "
    "classic, the supervised cousin of fe_target_encoding_loo): per "
    "order priority, WOE = ln(P(cat|pos)/P(cat|neg)) against the "
    "target o_orderstatus='F', with Laplace half-count smoothing kept "
    "as exact INTEGER doubled counts (2n+1 / 2N+K) so both engines "
    "feed bit-identical rationals into the one ln() call (the "
    "transcendental-determinism contract fn_math_suite pins); "
    "iv_contrib sums to the information value that ranks features. "
    "Scale: one hash aggregate to K category rows + a 1-row broadcast "
    "of the totals — dimension-sized whatever the fact table is.",
)
def fe_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("category"))
        .agg(
            F.sum(
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pos"),
            F.sum(
                F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_neg"),
        )
    )
    g = c.agg(
        F.sum("n_pos").cast("bigint").alias("t_pos"),
        F.sum("n_neg").cast("bigint").alias("t_neg"),
        F.count("*").cast("bigint").alias("k"),
    )
    p_pos = (2 * F.col("n_pos") + 1).cast("double") / (
        2 * F.col("t_pos") + F.col("k")
    ).cast("double")
    p_neg = (2 * F.col("n_neg") + 1).cast("double") / (
        2 * F.col("t_neg") + F.col("k")
    ).cast("double")
    woe = F.log(p_pos / p_neg)
    return c.crossJoin(g).select(
        "category",
        "n_pos",
        "n_neg",
        fpq(woe, 6).alias("woe"),
        fpq((p_pos - p_neg) * woe, 6).alias("iv_contrib"),
    )


# ---------------------------------------------------------------------------
# text_quality_ccnet — per-language head/middle/tail quality buckets
# ---------------------------------------------------------------------------

_CCNET_EFP = 10**6


def _ccnet_oracle() -> str:
    return f"""
WITH s AS (
    SELECT doc_id, lang,
           CAST(({_CCNET_EFP} * len(COALESCE(text, '')))
                // GREATEST(len(str_split(lower(COALESCE(text, '')),
                                          ' ')), 1) AS BIGINT)
               AS score_q
    FROM documents
),
r AS (
    SELECT doc_id, lang, score_q,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY score_q, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS nl
    FROM s
)
SELECT doc_id, lang, score_q,
       CASE (3 * (rn - 1)) // nl WHEN 0 THEN 'head'
            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM r
"""


@register(
    "text_quality_ccnet",
    _ccnet_oracle(),
    doc="CCNet-style per-language quality bucketing (Wenzek et al. "
    "2020: rank documents within each language by LM perplexity, "
    "split head/middle/tail, keep the head): the BUCKETING MECHANISM "
    "is the operator — per-language rank (fully tie-broken by "
    "doc_id) divided into thirds by integer floor arithmetic, so "
    "bucket boundaries are bit-deterministic; the quality score here "
    "is the deterministic mean-token-length fixed-point proxy "
    "(deployments swap in their KenLM perplexity column — the same "
    "stand-in contract as corpus_doremi_weights' excess loss). "
    "Scale: one window pass per language partition; no global sort — "
    "at 100 TB each language ranks independently, exactly how CCNet "
    "shards its buckets.",
)
def text_quality_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    text = F.coalesce(F.col("text"), F.lit(""))
    score = F.expr(
        f"CAST({_CCNET_EFP} * length(coalesce(text, '')) DIV "
        f"greatest(size(split(lower(coalesce(text, '')), ' ')), 1)"
        f" AS BIGINT)"
    )
    s = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", score.alias("score_q")
    )
    w = W.partitionBy("lang").orderBy("score_q", "doc_id")
    r = s.select(
        "doc_id",
        "lang",
        "score_q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("lang")).alias("nl"),
    )
    bucket = (
        F.when(F.expr("(3 * (rn - 1)) DIV nl") == 0, "head")
        .when(F.expr("(3 * (rn - 1)) DIV nl") == 1, "middle")
        .otherwise("tail")
    )
    return r.select("doc_id", "lang", "score_q", bucket.alias("bucket"))


# ---------------------------------------------------------------------------
# stream_hll_merge — mergeable-sketch maintenance over a file stream
# ---------------------------------------------------------------------------


@register(
    "stream_hll_merge",
    _hll_oracle(),
    doc="Streaming HLL register maintenance: the orders table arrives "
    "as staged files through an availableNow stream; each micro-batch "
    "computes ITS OWN 256-register HLL table (the agg_hll_distinct "
    "construction) and max-merges it into a bounded register store "
    "(groups x 256 rows — collected driver-side under the BPE-vocab "
    "bounded-collect rule, then rewritten). Because register max-merge "
    "is commutative and associative, the drained store is "
    "bit-identical to the batch sketch over the whole table no matter "
    "how the files split into micro-batches — asserted by sharing "
    "agg_hll_distinct's EXACT oracle (n_exact computed batch-side for "
    "the error column). THE mergeable-sketch property that makes "
    "distinct-count maintenance O(registers) instead of O(keys) at "
    "100 TB: no shuffle of raw keys ever recurs, reruns over the "
    "checkpoint process nothing (asserted in-query, the "
    "stream_minhash_ingest discipline).",
)
def stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    root = tempfile.mkdtemp(prefix="stream_hll_merge_")
    src = f"{root}/src"
    store = f"{root}/store"
    ckpt = f"{root}/ckpt"
    orders = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey"
    )
    orders.repartition(3).write.parquet(src)

    def batch_registers(df: DataFrame) -> DataFrame:
        h = content_hash64(
            F.concat(F.lit("hll:"), F.col("o_custkey").cast("string"))
        )
        base = df.select(
            F.col("o_orderpriority").alias("grp"), h.alias("hv")
        )
        rho = F.when(
            (F.col("hv") / _HLL_M).cast("long") == 0, F.lit(_HLL_CAP)
        ).otherwise(
            F.least(
                F.expr(
                    f"bit_count(((hv div {_HLL_M}) & -(hv div {_HLL_M}))"
                    " - 1) + 1"
                ),
                F.lit(_HLL_CAP),
            )
        )
        return (
            base.select(
                "grp",
                (F.col("hv") % _HLL_M).alias("reg"),
                rho.alias("rho"),
            )
            .groupBy("grp", "reg")
            .agg(F.max("rho").alias("mr"))
        )

    processed: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        processed.append(n)
        merged = batch_registers(batch_df)
        if os.path.exists(store):
            prev = spark.read.parquet(store).withColumnRenamed(
                "mr", "rho"
            )
            merged = (
                merged.withColumnRenamed("mr", "rho")
                .unionByName(prev)
                .groupBy("grp", "reg")
                .agg(F.max("rho").alias("mr"))
            )
        # bounded collect: groups x 256 register rows, never keys
        rows = [(r.grp, int(r.reg), int(r.mr)) for r in merged.collect()]
        spark.createDataFrame(
            rows, "grp string, reg bigint, mr int"
        ).coalesce(1).write.mode("overwrite").parquet(store)

    def drain() -> int:
        q = (
            spark.readStream.schema(
                "o_orderpriority string, o_custkey long"
            )
            .parquet(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = sum(processed)
        processed.clear()
        return n

    n1 = drain()
    n2 = drain()
    if n1 < 1 or n2 != 0:
        raise AssertionError(
            f"availableNow idempotence violated: {n1} then {n2} rows"
        )

    regs = spark.read.parquet(store)
    s = regs.groupBy("grp").agg(
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_CAP} - mr)")
            )
            + (_HLL_M - F.count("*")) * F.lit(2 ** _HLL_CAP)
        )
        .cast("bigint")
        .alias("s"),
        F.count("*").cast("bigint").alias("n_registers"),
    )
    x = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    est = F.expr(
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND n_registers < {_HLL_M}"
        f" THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE)"
        f" / CAST({_HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return s.join(x, "grp").select(
        "grp", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# emb_matryoshka_eval — truncated-dimension retrieval quality
# ---------------------------------------------------------------------------

_MRL_DIMS = (16, 32)
_MRL_TRUTH_K = 10
_MRL_SHORTLIST = 50
_MRL_FP = 1_000_000


def _mrl_dist_sql(d: int) -> str:
    """Exact int64 squared distance over the FIRST d dims only."""
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
    )

    q_lit = (
        "["
        + ", ".join(
            str(round(x * PQ_SCALE)) for x in _PQ_QUERY[:d]
        )
        + "]"
    )
    return (
        f"list_sum(list_transform(vq[1:{d}], (v, i) -> "
        f"(v - {q_lit}[i]) * (v - {q_lit}[i])))"
    )


def _mrl_oracle() -> str:
    legs = []
    for d in _MRL_DIMS:
        legs.append(
            f"""SELECT 'dim{d}' AS method,
       CAST({_MRL_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_MRL_FP} // {_MRL_TRUTH_K} AS BIGINT)
           AS recall_fp
FROM truth t JOIN (
    SELECT vec_id FROM d ORDER BY d{d}, vec_id LIMIT {_MRL_SHORTLIST}
) s ON s.vec_id = t.vec_id"""
        )
    dcols = ", ".join(
        f"{_mrl_dist_sql(d)} AS d{d}" for d in _MRL_DIMS
    )
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {dcols}, {_pq_exact_dist_sql()} AS xdist FROM v),
truth AS (SELECT vec_id FROM d ORDER BY xdist, vec_id
          LIMIT {_MRL_TRUTH_K})
{" UNION ALL ".join(legs)}
"""


@register(
    "emb_matryoshka_eval",
    _mrl_oracle(),
    doc="Matryoshka-truncation retrieval quality (Kusupati et al. "
    "2022, MRL): of the exact 64-dim top-10 for the pinned query, how "
    "many does a shortlist@50 computed from only the FIRST 16 (and "
    "32) dimensions retain? The eval that decides whether an "
    "embedding column can be stored/scanned at a 4x (2x) dimension "
    "cut with re-rank on the full vector — the storage-tiering twin "
    "of sim_pq_opq_recall, same exact-int64-legs-share-one-scan "
    "shape (truncated and full distances are parallel columns of ONE "
    "projection; top-k legs are TakeOrderedAndProject bounded "
    "heaps). On non-MRL-trained embeddings (this synthetic table) "
    "truncation recall is the floor a deployment would measure "
    "before paying for MRL fine-tuning.",
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
    )

    emb = t(spark, sf_dir, "embeddings")
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PQ_SCALE))
        ).cast("long"),
    )

    def dist(d: int) -> F.Column:
        q_lit = F.array(
            *[
                F.lit(round(x * PQ_SCALE)).cast("long")
                for x in _PQ_QUERY[:d]
            ]
        )
        return F.aggregate(
            F.zip_with(
                F.slice(vq, 1, d), q_lit, lambda v, q: (v - q) * (v - q)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = emb.select(
        "vec_id",
        *[dist(d).alias(f"d{d}") for d in _MRL_DIMS],
        dist(64).alias("xdist"),
    ).localCheckpoint(eager=True)
    truth = (
        scored.orderBy("xdist", "vec_id")
        .limit(_MRL_TRUTH_K)
        .select("vec_id")
    )

    def leg(d: int) -> DataFrame:
        sl = (
            scored.orderBy(f"d{d}", "vec_id")
            .limit(_MRL_SHORTLIST)
            .select("vec_id")
        )
        return truth.join(sl, "vec_id").agg(
            F.lit(f"dim{d}").alias("method"),
            F.lit(_MRL_TRUTH_K).cast("bigint").alias("n_truth"),
            F.count("*").cast("bigint").alias("n_hit"),
            (F.count("*") * F.lit(_MRL_FP) / F.lit(_MRL_TRUTH_K))
            .cast("bigint")
            .alias("recall_fp"),
        )

    out = leg(_MRL_DIMS[0])
    for d in _MRL_DIMS[1:]:
        out = out.unionAll(leg(d))
    return out


# ---------------------------------------------------------------------------
# quality_psi_drift — population stability index between time halves
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_VMAX = 100.0  # events.value is uniform-ish [0,100); pinned bucket
# width keeps bucket ids exact integers on both engines


def _psi_oracle() -> str:
    return f"""
WITH span AS (
    SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
),
b AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) * 2 <= epoch_us(t0) + epoch_us(t1)
                THEN 0 ELSE 1 END AS half,
           LEAST(CAST(FLOOR(CAST(value AS DOUBLE)
                 * {_PSI_BUCKETS} / {_PSI_VMAX}) AS INT),
                 {_PSI_BUCKETS - 1}) AS bucket
    FROM events CROSS JOIN span
),
c AS (
    SELECT event_type, bucket,
           CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS n_ref,
           CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS n_cur
    FROM b GROUP BY event_type, bucket
),
g AS (
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS t_ref,
           CAST(SUM(n_cur) AS BIGINT) AS t_cur,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM c GROUP BY event_type
)
SELECT c.event_type, c.bucket, c.n_ref, c.n_cur,
       {fpq_sql(
           '(CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE)'
           ' - CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE))'
           ' * ln((CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE)))', 6)} AS psi_contrib
FROM c JOIN g ON g.event_type = c.event_type
"""


@register(
    "quality_psi_drift",
    _psi_oracle(),
    doc="Population stability index between the first and second time "
    "halves of the event stream, per event type: value distributions "
    "bucket into 10 pinned-width bins (integer floor arithmetic — no "
    "data-dependent quantile edges, so bucketing is bit-exact), and "
    "each bucket contributes (p_cur - p_ref) * ln(p_cur/p_ref) with "
    "Laplace half-count smoothing kept as integer doubled counts (the "
    "fe_woe_encoding rational discipline) — total PSI per type = "
    "SUM(psi_contrib); > 0.2 is the classic retrain/investigate "
    "threshold. The ML-ops drift monitor that catches a feature "
    "distribution shifting between snapshots. Scale: one scan, one "
    "hash aggregate to (type x 10) cells + dimension-sized margins "
    "(the stats_chi2_independence shape); the time split rides in as "
    "a 1-row broadcast.",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = ev.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    half = F.when(
        F.unix_micros(F.col("ts")) * 2
        <= F.unix_micros(F.col("t0")) + F.unix_micros(F.col("t1")),
        0,
    ).otherwise(1)
    bucket = F.least(
        F.floor(
            F.col("value").cast("double") * _PSI_BUCKETS / _PSI_VMAX
        ).cast("int"),
        F.lit(_PSI_BUCKETS - 1),
    )
    c = (
        ev.crossJoin(span)
        .select("event_type", half.alias("half"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    g = c.groupBy("event_type").agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count("*").cast("bigint").alias("k"),
    )
    p_cur = (2 * F.col("n_cur") + 1).cast("double") / (
        2 * F.col("t_cur") + F.col("k")
    ).cast("double")
    p_ref = (2 * F.col("n_ref") + 1).cast("double") / (
        2 * F.col("t_ref") + F.col("k")
    ).cast("double")
    return c.join(F.broadcast(g), "event_type").select(
        "event_type",
        "bucket",
        "n_ref",
        "n_cur",
        fpq((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# graph_hits — hub/authority scores on the event-transition digraph
# ---------------------------------------------------------------------------

_HITS_T = 8
_HITS_FP = 10**12


def _hits_oracle() -> str:
    steps = []
    prev = "s0"
    for i in range(1, _HITS_T + 1):
        steps.append(
            f"""a{i} AS MATERIALIZED (
    SELECT e.dst AS state,
           CAST(SUM((CAST(s.h AS HUGEINT) * e.n)) AS HUGEINT) AS a_raw
    FROM {prev} s JOIN e ON e.src = s.state
    GROUP BY e.dst
),
an{i} AS (SELECT CAST(SUM(a_raw) AS HUGEINT) AS t FROM a{i}),
s{i}a AS MATERIALIZED (
    SELECT s.state, s.h,
           CAST(COALESCE((CAST(a.a_raw AS HUGEINT) * {_HITS_FP})
                // an.t, 0) AS BIGINT) AS a
    FROM {prev} s
    LEFT JOIN a{i} a ON a.state = s.state
    CROSS JOIN an{i} an
),
h{i} AS MATERIALIZED (
    SELECT e.src AS state,
           CAST(SUM((CAST(s.a AS HUGEINT) * e.n)) AS HUGEINT) AS h_raw
    FROM s{i}a s JOIN e ON e.dst = s.state
    GROUP BY e.src
),
hn{i} AS (SELECT CAST(SUM(h_raw) AS HUGEINT) AS t FROM h{i}),
s{i} AS MATERIALIZED (
    SELECT s.state, s.a,
           CAST(COALESCE((CAST(h.h_raw AS HUGEINT) * {_HITS_FP})
                // hn.t, 0) AS BIGINT) AS h
    FROM s{i}a s
    LEFT JOIN h{i} h ON h.state = s.state
    CROSS JOIN hn{i} hn
)"""
        )
        prev = f"s{i}"
    chain = ",\n".join(steps)
    return f"""
WITH tr AS MATERIALIZED (
    SELECT event_type AS src,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
e AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
nodes AS (SELECT DISTINCT src AS state FROM e
          UNION SELECT DISTINCT dst FROM e),
k0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM nodes),
s0 AS (
    SELECT state,
           CAST({_HITS_FP} // nk AS BIGINT) AS a,
           CAST({_HITS_FP} // nk AS BIGINT) AS h
    FROM nodes, k0
),
{chain}
SELECT state AS event_type, a AS authority_fp, h AS hub_fp
FROM {prev}
"""


@register(
    "graph_hits",
    _hits_oracle(),
    doc="HITS hub/authority scores (Kleinberg 1999) on the weighted "
    "event-transition digraph (the directed graph "
    "event_markov_stationary walks): 8 pinned mutual-reinforcement "
    "rounds — authority a = normalize(E^T h), hub h = normalize(E a), "
    "both L1-normalized each half-step in exact integer fixed-point "
    "(HUGEINT widening, floor division identical on both engines). "
    "The digraph diagnostic the stationary distribution can't give: "
    "a type can be a strong HUB (leads everywhere) without being an "
    "AUTHORITY (landed on). Same scale discipline as pagerank/markov: "
    "K-row dimension-sized state, single-partition iteration frames "
    "eagerly localCheckpointed, edge list pinned once.",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("state"))
        .unionByName(e.select(F.col("dst").alias("state")))
        .distinct()
    )
    k0 = nodes.agg(F.count("*").cast("bigint").alias("nk"))
    s = (
        nodes.crossJoin(k0)
        .select(
            "state",
            F.expr(f"CAST({_HITS_FP} DIV nk AS BIGINT)").alias("a"),
            F.expr(f"CAST({_HITS_FP} DIV nk AS BIGINT)").alias("h"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    def normalize_step(
        state_df: DataFrame, edge_key: str, score_col: str,
        out_col: str, keep_col: str,
    ) -> DataFrame:
        # raw = E-weighted sum of the partner score, then L1-normalize
        other = "dst" if edge_key == "src" else "src"
        raw = (
            state_df.join(e, state_df.state == F.col(edge_key))
            .groupBy(F.col(other).alias("state"))
            .agg(
                F.sum(
                    F.expr(f"CAST({score_col} AS DECIMAL(38,0)) * n")
                )
                .cast("decimal(38,0)")
                .alias("raw")
            )
        )
        tot = raw.agg(
            F.sum("raw").cast("decimal(38,0)").alias("t")
        )
        return (
            state_df.select("state", keep_col)
            .join(raw, "state", "left")
            .crossJoin(tot)
            .select(
                "state",
                F.col(keep_col),
                F.coalesce(
                    F.expr(
                        f"CAST(CAST(raw AS DECIMAL(38,0)) * {_HITS_FP}"
                        " DIV t AS BIGINT)"
                    ),
                    F.lit(0).cast("bigint"),
                ).alias(out_col),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )

    for _ in range(_HITS_T):
        # a <- normalize(E^T h): sums arrive AT dst from src hubs
        s = normalize_step(s, "src", "h", "a", "h")
        # h <- normalize(E a): sums arrive AT src from dst authorities
        s = normalize_step(s, "dst", "a", "h", "a")
    return s.select(
        F.col("state").alias("event_type"),
        F.col("a").alias("authority_fp"),
        F.col("h").alias("hub_fp"),
    )


# ---------------------------------------------------------------------------
# dedup_bloom_prefilter — Bloom membership screen for incremental dedup
# ---------------------------------------------------------------------------

_BLOOM_BITS = 65536
_BLOOM_WORD = 32  # 32-bit words in BIGINT slots: no sign-bit hazard
_BLOOM_K = 3


def _bloom_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    key = content_hash64_sql("COALESCE(text, '')")
    pos_parts = []
    for i in range(_BLOOM_K):
        expr = content_hash64_sql(f"'b{i}:' || CAST(key AS VARCHAR)")
        pos_parts.append(f"{expr} % {_BLOOM_BITS} AS p{i}")
    pos = ", ".join(pos_parts)
    checks = " AND ".join(
        f"((b{i}.w >> CAST(k.p{i} % {_BLOOM_WORD} AS INT)) & 1) = 1"
        for i in range(_BLOOM_K)
    )
    joins = "\n".join(
        f"LEFT JOIN bloom b{i} ON b{i}.word = k.p{i} // {_BLOOM_WORD}"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH keys AS (
    SELECT doc_id, {key} AS key FROM documents
),
kp AS (SELECT doc_id, key, {pos} FROM keys),
corpus_bits AS (
    SELECT DISTINCT p // {_BLOOM_WORD} AS word, p % {_BLOOM_WORD} AS bit
    FROM (
        SELECT unnest([p0, p1, p2]) AS p FROM kp WHERE doc_id % 5 <> 0
    )
),
bloom AS (
    SELECT word,
           CAST(SUM(CAST(1 AS BIGINT) << CAST(bit AS INT)) AS BIGINT)
               AS w
    FROM corpus_bits GROUP BY word
),
corpus_keys AS (
    SELECT DISTINCT key FROM kp WHERE doc_id % 5 <> 0
),
batch AS (SELECT * FROM kp WHERE doc_id % 5 = 0)
SELECT k.doc_id,
       COALESCE({checks}, FALSE) AS maybe_dup,
       (ck.key IS NOT NULL) AS is_dup_exact
FROM batch k
{joins}
LEFT JOIN corpus_keys ck ON ck.key = k.key
"""


@register(
    "dedup_bloom_prefilter",
    _bloom_oracle(),
    doc="Bloom-filter membership prefilter for incremental content "
    "dedup (Bloom 1970): the corpus (doc_id % 5 != 0) compresses to an "
    "65536-bit filter — 2048 32-bit words (~16 bits/key at sf0.1; fp "
    "measured 0/100 at sf0.01 and 6/1000 at sf0.1 vs 27% when a "
    "1024-bit sizing saturated — size BITS ~ 10-20x key count, the "
    "one knob), k=3 md5-derived "
    "hash positions per content key, all exact integer arithmetic so "
    "the filter is bit-identical on any engine — and each new-batch "
    "document tests its 3 bits against the BROADCAST filter (32 rows) "
    "before any shuffle-sized work. maybe_dup=false is a GUARANTEED "
    "novel document (no false negatives — the property that lets the "
    "expensive exact/near-dup path skip the overwhelming majority of "
    "a fresh crawl); is_dup_exact rides along so false positives are "
    "measurable in the result itself. Completes the sketch family "
    "(HLL, CountMin, KMV, Misra-Gries + Bloom). Scale: the filter "
    "build is one distinct + 32-row aggregate; at 100 TB the words "
    "table stays 32 rows whatever the corpus (size the BITS constant "
    "to the key cardinality; the shape never changes).",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    key = content_hash64(F.coalesce(F.col("text"), F.lit("")))
    kp = t(spark, sf_dir, "documents").select(
        "doc_id",
        key.alias("key"),
        *[
            (
                content_hash64(
                    F.concat(
                        F.lit(f"b{i}:"), key.cast("string")
                    )
                )
                % _BLOOM_BITS
            ).alias(f"p{i}")
            for i in range(_BLOOM_K)
        ],
    )
    corpus = kp.filter(F.col("doc_id") % 5 != 0)
    bits = (
        corpus.select(
            F.explode(
                F.array(*[F.col(f"p{i}") for i in range(_BLOOM_K)])
            ).alias("p")
        )
        .select(
            F.expr(f"p div {_BLOOM_WORD}").alias("word"),
            (F.col("p") % _BLOOM_WORD).alias("bit"),
        )
        .distinct()
    )
    bloom = bits.groupBy("word").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")
        )
        .cast("bigint")
        .alias("w")
    )
    corpus_keys = corpus.select("key").distinct()
    batch = kp.filter(F.col("doc_id") % 5 == 0)
    out = batch
    for i in range(_BLOOM_K):
        b = bloom.select(
            F.col("word").alias(f"word{i}"), F.col("w").alias(f"w{i}")
        )
        out = out.join(
            b, F.expr(f"p{i} div {_BLOOM_WORD}") == F.col(f"word{i}"),
            "left",
        )
    checks = None
    for i in range(_BLOOM_K):
        c = F.expr(
            f"(shiftright(w{i}, CAST(p{i} % {_BLOOM_WORD} AS INT))"
            " & 1) = 1"
        )
        checks = c if checks is None else (checks & c)
    ck = corpus_keys.select(F.col("key").alias("ck_key"))
    return (
        out.join(
            ck, F.col("key") == F.col("ck_key"), "left"
        )
        .select(
            "doc_id",
            F.coalesce(checks, F.lit(False)).alias("maybe_dup"),
            F.col("ck_key").isNotNull().alias("is_dup_exact"),
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore — bounded k-core peel on the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_T = 5  # pinned peel rounds (bounded-iteration discipline)


def _kcore_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _MIN_EDGE_SUPPORT,
    )

    steps = []
    prev = "n0"
    for i in range(1, _KCORE_T + 1):
        steps.append(
            f"""n{i} AS MATERIALIZED (
    SELECT u AS node FROM (
        SELECT e.u, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym e
        JOIN {prev} a ON a.node = e.u
        JOIN {prev} b ON b.node = e.v
        GROUP BY e.u
    ) WHERE deg >= {_KCORE_K}
)"""
        )
        prev = f"n{i}"
    chain = ",\n".join(steps)
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed
    UNION ALL SELECT pb, pa FROM ed
),
n0 AS (SELECT DISTINCT u AS node FROM sym),
{chain}
SELECT e.u AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM sym e
JOIN {prev} a ON a.node = e.u
JOIN {prev} b ON b.node = e.v
GROUP BY e.u
"""


@register(
    "graph_kcore",
    _kcore_oracle(),
    doc="k-core peel (k=3, 5 pinned rounds) on the support-pruned "
    "co-purchase graph — each round drops every part whose degree "
    "WITHIN the surviving subgraph is below k, the standard dense-"
    "community extraction (Seidman 1983) that pagerank/triangles "
    "can't give: membership in a mutually-dense core, not just "
    "centrality. Pinned rounds, not run-to-fixpoint (the repo's "
    "bounded-iteration rule: graph_pagerank, connected_components' "
    "max_iterations); on this fixture the peel converges in < 5 "
    "rounds, and at scale unconverged rounds only over-approximate "
    "the core — monotonically shrinking, never wrong-way. Integer "
    "degrees only, so the surviving node set is bit-exact. Scale: "
    "each round is one join of the pinned symmetric edge list "
    "against the (shrinking) survivor set + a hash aggregate — the "
    "pagerank per-iteration shape; survivor frames eagerly "
    "localCheckpointed (constant lineage).",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _edges,
    )

    e = _edges(spark, sf_dir).select("pa", "pb")
    sym = (
        e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    for _ in range(_KCORE_T):
        a = nodes.select(F.col("node").alias("na"))
        b = nodes.select(F.col("node").alias("nb"))
        nodes = (
            sym.join(a, sym.u == F.col("na"))
            .join(b, sym.v == F.col("nb"))
            .groupBy("u")
            .agg(F.count("*").cast("bigint").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=True)
        )
    a = nodes.select(F.col("node").alias("na"))
    b = nodes.select(F.col("node").alias("nb"))
    return (
        sym.join(a, sym.u == F.col("na"))
        .join(b, sym.v == F.col("nb"))
        .groupBy(F.col("u").alias("part"))
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


# ---------------------------------------------------------------------------
# stream_scd2_ingest — streaming SCD2 dimension maintenance
# ---------------------------------------------------------------------------

_SCD2S_T1 = "2024-01-01 00:00:00"
_SCD2S_T2 = "2024-06-01 00:00:00"


def _scd2s_oracle() -> str:
    from evolution_data_warehouse_spark.queries.scd import _T0

    return f"""
-- unchanged active rows (never touched by either batch)
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{_T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_acctbal >= 0
UNION ALL
-- closed previous versions of keys batch 1 reclassified
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{_T0}', TIMESTAMP '{_SCD2S_T1}'
FROM customer WHERE c_acctbal < 0
UNION ALL
-- batch 1's new active versions
SELECT c_custkey, 'DELINQUENT', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_SCD2S_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_acctbal < 0
UNION ALL
-- batch 2's brand-new business keys, effective at the LATER ts
SELECT c_custkey + 1000000, 'NEWSEG', CAST(1 AS INT), TRUE,
       TIMESTAMP '{_SCD2S_T2}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 50 = 0
"""


@register(
    "stream_scd2_ingest",
    _scd2s_oracle(),
    doc="Streaming SCD2 dimension maintenance (warehouse/scd_store.py::"
    "scd2_foreach_batch over the versioned store): two change batches "
    "drain IN ORDER through one availableNow file stream + checkpoint "
    "— batch 1 reclassifies delinquent customers (effective T1, "
    "closing v1 rows and inserting v2), batch 2 lands brand-new keys "
    "(effective T2, v1 inserts; existing keys pass through "
    "untouched) — and the drained store must equal the composed SCD2 "
    "history exactly (versions, activity flags, validity intervals). "
    "An idempotence drain between the two batches must process 0 rows "
    "and leave the store identical (asserted in-query). This gives "
    "the streaming MERGE path (SURVEY §2.9) the same oracle-checked "
    "evidence as the batch twin proc_scd2; restart/version-GC "
    "behavior is covered by tests/test_scd_store_api.py. Scale: each "
    "merge is scd2_apply's single full-outer shuffle on the business "
    "key; the store is version-directory parquet (atomic publish).",
)
def stream_scd2_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from evolution_data_warehouse_spark.queries.scd import (
        _current_dim,
    )
    from evolution_data_warehouse_spark.warehouse.scd_store import (
        read_dimension,
        scd2_foreach_batch,
        upsert_scd2,
    )

    root = tempfile.mkdtemp(prefix="stream_scd2_")
    table_dir = f"{root}/dim_customer"
    src = f"{root}/src"
    ckpt = f"{root}/ckpt"
    c = t(spark, sf_dir, "customer")

    # seed the store with the current dimension (version-1 snapshot)
    current = _current_dim(spark, sf_dir)
    from evolution_data_warehouse_spark.warehouse.scd_store import (
        _publish,
    )

    _publish(current, table_dir)

    batch1 = c.select(
        F.col("c_custkey").alias("customer_key"),
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit(_SCD2S_T1).cast("timestamp").alias("_effective_ts"),
    )
    batch2 = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("customer_key"),
        F.lit("NEWSEG").alias("segment"),
        F.lit(_SCD2S_T2).cast("timestamp").alias("_effective_ts"),
    )

    schema = (
        "customer_key long, segment string, _effective_ts timestamp"
    )
    apply_batch = scd2_foreach_batch(
        table_dir, "customer_key", ["segment"]
    )
    drained: list[int] = []

    def process(batch_df, batch_id):
        n = batch_df.count()
        if n:
            drained.append(n)
            apply_batch(batch_df, batch_id)

    def drain() -> int:
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = sum(drained)
        drained.clear()
        return n

    batch1.coalesce(1).write.mode("append").parquet(src)
    n1 = drain()
    n_idem = drain()  # nothing new: must merge nothing
    batch2.coalesce(1).write.mode("append").parquet(src)
    n2 = drain()
    if n1 < 1 or n_idem != 0 or n2 < 1:
        raise AssertionError(
            f"availableNow SCD2 idempotence violated: drains processed "
            f"{n1}, {n_idem}, {n2} rows (expected >0, 0, >0)"
        )
    dim = read_dimension(spark, table_dir)
    return dim.select(
        "customer_key",
        "segment",
        F.col("version").cast("int").alias("version"),
        "est_actif",
        "date_debut_validite",
        "date_fin_validite",
    )


# ---------------------------------------------------------------------------
# event_attribution_ushape — U-shaped multi-touch conversion attribution
# ---------------------------------------------------------------------------

_ATTR_FP = 1_000_000  # one conversion distributes exactly ~1e6 credit


def _attr_oracle() -> str:
    return f"""
WITH j AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
    FROM events
),
touches AS (
    SELECT user_id, conv_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                              ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, conv_id) AS n
    FROM j
    WHERE conv_id >= 1 AND event_type <> 'purchase'
),
credited AS (
    SELECT event_type,
           CASE WHEN n = 1 THEN {_ATTR_FP}
                WHEN n = 2 THEN {_ATTR_FP // 2}
                WHEN rn = 1 OR rn = n THEN {2 * _ATTR_FP // 5}
                ELSE {_ATTR_FP // 5} // (n - 2)
           END AS credit
    FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit) AS BIGINT) AS credit_fp
FROM credited GROUP BY event_type
"""


@register(
    "event_attribution_ushape",
    _attr_oracle(),
    doc="U-shaped (position-based) multi-touch attribution: every "
    "purchase closes a journey of the user's preceding non-purchase "
    "touches (journey id = count of purchases at-or-after each event, "
    "so each touch belongs to exactly one conversion); credit splits "
    "40/20/40 — first and last touch 400k fixed-point each, middles "
    "share 200k by integer floor division (1-touch journeys take the "
    "full 1e6, 2-touch journeys 500k each). The marketing-analytics "
    "standard between last-touch (all credit to the final click) and "
    "Markov removal effects (event_markov_stationary's territory). "
    "All-integer credit, full (ts, event_id) tie-breaks — bit-exact "
    "on both engines; floor remainders leak identically. Scale: two "
    "window passes over user-partitioned events + one hash aggregate "
    "— the win_session_gap shape, one user-keyed shuffle.",
)
def event_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_after = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    j = ev.withColumn(
        "conv_id",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_after),
    )
    wt = W.partitionBy("user_id", "conv_id").orderBy("ts", "event_id")
    touches = (
        j.filter(
            (F.col("conv_id") >= 1)
            & (F.col("event_type") != "purchase")
        )
        .withColumn("rn", F.row_number().over(wt))
        .withColumn(
            "n", F.count("*").over(W.partitionBy("user_id", "conv_id"))
        )
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(_ATTR_FP))
        .when(F.col("n") == 2, F.lit(_ATTR_FP // 2))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("n")),
            F.lit(2 * _ATTR_FP // 5),
        )
        .otherwise(
            F.expr(f"{_ATTR_FP // 5} DIV (n - 2)")
        )
    )
    return (
        touches.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("credit").cast("bigint").alias("credit_fp"),
        )
    )


# ---------------------------------------------------------------------------
# event_attribution_timedecay — exponential half-life attribution
# ---------------------------------------------------------------------------

_DECAY_HALF_LIFE_H = 168  # one-week half-life, the industry default
_DECAY_MAX_SHIFT = 30  # cap: beyond 30 half-lives the weight is 0-ish


def _attr_decay_oracle() -> str:
    return f"""
WITH j AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS conv_id
    FROM events
),
conv_ts AS (
    SELECT user_id, conv_id, ts AS cts FROM j
    WHERE event_type = 'purchase'
),
touches AS (
    SELECT t.user_id, t.conv_id, t.event_type,
           ({_ATTR_FP} >> CAST(LEAST(
               (epoch_us(c.cts) - epoch_us(t.ts))
                   // (3600000000 * {_DECAY_HALF_LIFE_H}),
               {_DECAY_MAX_SHIFT}) AS INT)) AS w
    FROM j t JOIN conv_ts c
      ON c.user_id = t.user_id AND c.conv_id = t.conv_id
    WHERE t.conv_id >= 1 AND t.event_type <> 'purchase'
),
norm AS (
    SELECT user_id, conv_id, CAST(SUM(w) AS BIGINT) AS tw
    FROM touches GROUP BY user_id, conv_id
),
credited AS (
    SELECT t.event_type,
           CAST((CAST(t.w AS HUGEINT) * {_ATTR_FP}) // n.tw AS BIGINT)
               AS credit
    FROM touches t
    JOIN norm n ON n.user_id = t.user_id AND n.conv_id = t.conv_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(credit) AS BIGINT) AS credit_fp
FROM credited GROUP BY event_type
"""


@register(
    "event_attribution_timedecay",
    _attr_decay_oracle(),
    doc="Time-decay multi-touch attribution (one-week half-life): each "
    "touch in a conversion journey weighs 2^-floor(age/half_life) — "
    "the weight is an exact DYADIC integer (fixed-point right-shift, "
    "shift capped at 30), so unlike exp(-t/tau) there is no "
    "transcendental in the weighting at all; per-journey credits "
    "normalize to ~1e6 by exact integer floor division (HUGEINT/"
    "DECIMAL widening). The recency-weighted complement to "
    "event_attribution_ushape's positional split — same journey "
    "construction (purchases-at-or-after journey id), same two-window "
    "+ aggregate scale shape, one user-keyed shuffle.",
)
def event_attribution_timedecay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_after = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    j = ev.withColumn(
        "conv_id",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_after),
    )
    conv_ts = j.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("cu"),
        F.col("conv_id").alias("cc"),
        F.col("ts").alias("cts"),
    )
    shift = F.expr(
        f"CAST(LEAST((unix_micros(cts) - unix_micros(ts))"
        f" DIV (3600000000 * {_DECAY_HALF_LIFE_H}),"
        f" {_DECAY_MAX_SHIFT}) AS INT)"
    )
    touches = (
        j.filter(
            (F.col("conv_id") >= 1)
            & (F.col("event_type") != "purchase")
        )
        .join(
            conv_ts,
            (F.col("user_id") == F.col("cu"))
            & (F.col("conv_id") == F.col("cc")),
        )
        .select(
            "user_id",
            "conv_id",
            "event_type",
            shift.alias("_shift"),
        )
        .select(
            "user_id",
            "conv_id",
            "event_type",
            F.expr(
                f"shiftright(CAST({_ATTR_FP} AS BIGINT), _shift)"
            ).alias("w"),
        )
    )
    norm = touches.groupBy("user_id", "conv_id").agg(
        F.sum("w").cast("bigint").alias("tw")
    )
    credited = touches.join(norm, ["user_id", "conv_id"]).select(
        "event_type",
        F.expr(
            f"CAST(CAST(w AS DECIMAL(38,0)) * {_ATTR_FP} DIV tw"
            " AS BIGINT)"
        ).alias("credit"),
    )
    return credited.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_fp"),
    )


# ---------------------------------------------------------------------------
# agg_hll_sliding_distinct — 7-day rolling user cardinality via HLL merge
# ---------------------------------------------------------------------------

_HLLW_WINDOW_D = 7


def _hll_sliding_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    h = content_hash64_sql("'hll:' || CAST(user_id AS VARCHAR)")
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    est = (
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND n_registers < {_HLL_M}"
        f" THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE)"
        f" / CAST({_HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return f"""
WITH h AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
           {h} AS hv
    FROM events
),
r AS (
    SELECT day, hv % {_HLL_M} AS reg,
           CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_CAP}
                ELSE LEAST(bit_count(((hv // {_HLL_M})
                           & -(hv // {_HLL_M})) - 1) + 1, {_HLL_CAP})
           END AS rho
    FROM h
),
daily AS (SELECT day, reg, MAX(rho) AS mr FROM r GROUP BY day, reg),
-- mergeable-sketch property: the 7-day register is the per-register
-- MAX over the daily registers — no re-touching of raw keys
rolled AS (
    SELECT day, reg,
           MAX(mr) OVER (PARTITION BY reg ORDER BY day
                         RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                               AND CURRENT ROW) AS mr
    FROM daily
),
s AS (
    SELECT day,
           CAST(SUM(CAST(2 AS HUGEINT) ** ({_HLL_CAP} - mr)) AS BIGINT)
               + ({_HLL_M} - COUNT(*)) * CAST({2 ** _HLL_CAP} AS BIGINT)
               AS s,
           CAST(COUNT(*) AS BIGINT) AS n_registers
    FROM rolled GROUP BY day
),
days AS (SELECT DISTINCT day FROM h),
x AS (
    SELECT d.day,
           CAST(COUNT(DISTINCT h.user_id) AS BIGINT) AS n_exact
    FROM days d JOIN h
      ON h.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
)
SELECT s.day, x.n_exact, s.n_registers,
       {fpq_sql(est, 4)} AS est_distinct
FROM s JOIN x ON x.day = s.day
"""


@register(
    "agg_hll_sliding_distinct",
    _hll_sliding_oracle(),
    doc="7-day rolling distinct-user cardinality via MERGED HLL "
    "registers: one pass builds per-(day, register) maxima, then the "
    "rolling window is a per-register MAX over the trailing 7 days — "
    "raw user keys are touched exactly once however long the window, "
    "the property that makes sliding-window COUNT(DISTINCT) feasible "
    "at 100 TB (the naive form re-shuffles every key into every "
    "window it spans; here each day contributes a 256-row register "
    "table and windows merge registers, the agg_hll_distinct/"
    "stream_hll_merge mergeability applied along TIME). Same exact "
    "integer register pipeline + linear-counting small-range branch; "
    "the exact 7-day distinct rides along per day so sketch error is "
    "visible. Scale: register table = days x 256 rows; window state "
    "is dimension-sized forever.",
)
def agg_hll_sliding_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    )
    h = ev.select(
        "day",
        "user_id",
        content_hash64(
            F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
        ).alias("hv"),
    )
    rho = F.when(
        (F.col("hv") / _HLL_M).cast("long") == 0, F.lit(_HLL_CAP)
    ).otherwise(
        F.least(
            F.expr(
                f"bit_count(((hv div {_HLL_M}) & -(hv div {_HLL_M}))"
                " - 1) + 1"
            ),
            F.lit(_HLL_CAP),
        )
    )
    daily = (
        h.select(
            "day", (F.col("hv") % _HLL_M).alias("reg"), rho.alias("rho")
        )
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    # rolling per-register max over trailing 7 days: rangeBetween on
    # day-number (exact integer days), partitioned by register
    wk = (
        W.partitionBy("reg")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-(_HLLW_WINDOW_D - 1), 0)
    )
    rolled = daily.select(
        "day", "reg", F.max("mr").over(wk).alias("mr")
    )
    s = rolled.groupBy("day").agg(
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_CAP} - mr)")
            )
            + (_HLL_M - F.count("*")) * F.lit(2 ** _HLL_CAP)
        )
        .cast("bigint")
        .alias("s"),
        F.count("*").cast("bigint").alias("n_registers"),
    )
    days = h.select("day").distinct()
    x = (
        days.alias("d")
        .join(
            h.alias("e"),
            F.col("e.day").between(
                F.date_sub(F.col("d.day"), _HLLW_WINDOW_D - 1),
                F.col("d.day"),
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.countDistinct("e.user_id").cast("bigint").alias("n_exact")
        )
    )
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({_HLL_M * _HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    est = F.expr(
        f"CASE WHEN ({raw}) <= {2.5 * _HLL_M} AND n_registers < {_HLL_M}"
        f" THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE)"
        f" / CAST({_HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )
    return s.join(x, "day").select(
        "day", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# text_template_ratio — per-source boilerplate-token contamination
# ---------------------------------------------------------------------------

_TPL_DF_PM = 800  # a token is "template" within its source when it
# appears in > 80% of the source's documents (per-mille, integer)


def _template_oracle() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, source,
           unnest(list_distinct(str_split(lower(COALESCE(text, '')),
                                          ' '))) AS token
    FROM documents
),
sdocs AS (
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM d GROUP BY source
),
df AS (
    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS df
    FROM d GROUP BY source, token
),
tpl AS (
    SELECT df.source, df.token
    FROM df JOIN sdocs s ON s.source = df.source
    WHERE df.df * 1000 > {_TPL_DF_PM} * s.n_docs
),
per_doc AS (
    SELECT d.doc_id, d.source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (WHERE t.token IS NOT NULL) AS BIGINT)
               AS n_template
    FROM d LEFT JOIN tpl t
      ON t.source = d.source AND t.token = d.token
    GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_template) AS BIGINT) AS template_hits,
       CAST(SUM(n_distinct) AS BIGINT) AS distinct_tokens,
       CAST(MAX((n_template * {10**6}) // GREATEST(n_distinct, 1))
            AS BIGINT) AS worst_doc_ratio_fp
FROM per_doc GROUP BY source
"""


@register(
    "text_template_ratio",
    _template_oracle(),
    doc="Per-source boilerplate-token contamination: a token is "
    "TEMPLATE within its source when it appears in > 80% of that "
    "source's documents (integer per-mille threshold — headers, nav "
    "chrome, license lines), and each source reports how much of its "
    "documents' distinct-token mass is template plus the worst "
    "single-document template ratio (fixed-point) — the signal that "
    "decides whether a source needs main-content extraction "
    "(web_main_content) before tokenization, upstream of the "
    "cross-document span cutters (dedup_substring_cross, "
    "dedup_lines_corpus). All integer counts and floor divisions. "
    "Scale: distinct-token explode -> two hash aggregates keyed by "
    "(source, token) + a broadcast-sized template set per source — "
    "linear, no pair joins.",
)
def text_template_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
            )
        ).alias("token"),
    )
    sdocs = d.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    df = d.groupBy("source", "token").agg(
        F.count("*").cast("bigint").alias("df")
    )
    # tpl derives from d, so tpl's "source" is the SAME attribute id
    # as d's — rename it before the join or drop() resolves the wrong
    # one (the self-join lineage trap; caught by the oracle diff)
    tpl = (
        df.join(sdocs, "source")
        .filter(F.col("df") * 1000 > _TPL_DF_PM * F.col("n_docs"))
        .select(
            F.col("source").alias("tpl_source"),
            F.col("token").alias("tpl_token"),
        )
    )
    per_doc = (
        d.join(
            tpl,
            (d.source == tpl.tpl_source) & (d.token == tpl.tpl_token),
            "left",
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(
                F.when(F.col("tpl_token").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_template"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_template").cast("bigint").alias("template_hits"),
        F.sum("n_distinct").cast("bigint").alias("distinct_tokens"),
        F.max(
            F.expr(
                f"(n_template * {10**6}) DIV greatest(n_distinct, 1)"
            )
        )
        .cast("bigint")
        .alias("worst_doc_ratio_fp"),
    )
