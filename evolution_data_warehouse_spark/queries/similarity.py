"""Vector-similarity queries (``sim_*``, ``emb_*``): exact and
approximate nearest neighbours (IVF, LSH, PQ, OPQ), clustering, recall
evaluation and embedding diagnostics over ``embeddings``.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.operators.dedup import content_hash64_sql
from evolution_data_warehouse_spark.operators.similarity import (
    as_double,
    brute_force_topk,
    cosine,
    DEFAULT_MAX_CLUSTER,
    hyperplane_signature,
    ivf_assign,
    opq_adc_lut,
    opq_assign,
    opq_quantize_rotation,
    OPQ_R_SCALE,
    opq_rotate_query,
    opq_rotated_energy,
    pq_adc_lut,
    pq_adc_scan,
    pq_assign_batch,
    pq_probe_lists,
    pq_quantize_codebooks,
    PQ_SCALE,
    semantic_dedup,
    with_norm,
)
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    fpq,
    fpq_sql,
    register,
    t,
)
from evolution_data_warehouse_spark.queries.opq_model import (
    OPQ_BOOKS as _OPQ_BOOKS,
    OPQ_R as _OPQ_R,
)
from evolution_data_warehouse_spark.queries.pq_codebooks import (
    PQ_BOOKS as _PQ_BOOKS,
    PQ_COARSE,
)
from evolution_data_warehouse_spark.queries.text import bm25_scored_cte, bm25_scores


DIM = 64  # embedding dimensionality of the testdata


def dot_sql(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def sqnorm_sql(alias: str) -> str:
    return " + ".join(
        f"CAST({alias}.embedding[{i}] AS DOUBLE) * CAST({alias}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


_ANN_ORACLE = f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id < 5),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ({dot_sql('q', 'c')}) / NULLIF(q.norm * c.norm, 0.0) AS cosine
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
    return brute_force_topk(queries, emb, k=10)


PLANES = np.random.default_rng(20260813).normal(size=(8, DIM)).tolist()


def _lsh_bucket_sql() -> str:
    """The 8-bit hyperplane-signature bucket expression over an
    ``embedding`` column — one source of truth shared by the
    sim_ann_lsh oracle and sim_lsh_recall_eval."""
    plane_terms = []
    for i, plane in enumerate(PLANES):
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
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("_vec")
    )
    b = e.select(
        "vec_id", hyperplane_signature(F.col("_vec"), PLANES).alias("bucket")
    )
    return b.select(
        "vec_id",
        "bucket",
        F.count("*").over(W.partitionBy("bucket")).alias("n_in_bucket"),
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


_KM_CENTROIDS = np.random.default_rng(7).normal(size=(4, DIM)).tolist()


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


def _ivf_corpus_ctes() -> str:
    """The IVF corpus-assignment CTE chain (d → long → ranked →
    corpus_b) every IVF oracle leg shares; rank by exact double
    distance, centroid-id tie-break, rnk = 1 is the inverted-list
    assignment. One source of truth for sim_ann_ivf, sim_ann_nprobe_sweep
    and sim_ann_frontier so their oracles cannot silently diverge."""

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
d AS (SELECT vec_id, {d_cols} FROM embeddings),
long AS ({long_union}),
ranked AS (
    SELECT vec_id, centroid_id, row_number() OVER (
        PARTITION BY vec_id ORDER BY dist ASC, centroid_id ASC) AS rnk
    FROM long
),
corpus_b AS (SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
             FROM ranked WHERE rnk = 1)"""


def _ivf_oracle() -> str:
    return f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),{_ivf_corpus_ctes()},
probes AS (SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
           FROM ranked WHERE rnk <= 2 AND vec_id < 5),
cand AS (
    SELECT p.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM probes p JOIN corpus_b cb
      ON p.centroid_id = cb.centroid_id AND p.vec_id <> cb.vec_id
),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           ({dot_sql('q', 'c')}) / NULLIF(q.norm * c.norm, 0.0) AS cosine
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
            cosine(
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


# Embedding-norm outlier audit: vector-hygiene report flagging vectors
# whose L2 norm sits more than 3 sigma above the corpus mean (broken
# encoders, corrupted rows, unnormalized batches). The norm is the
# sequential-fold chain (bit-identical to the oracle's spelled-out
# sum); mean/sigma come from fixed-point integer sums of the norms, so
# the threshold — and therefore the flag — is bit-identical too.
_NORM_SQL = f"sqrt({sqnorm_sql('embeddings')})"


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
    e = with_norm(t(spark, sf_dir, "embeddings")).select(
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


# ---------------------------------------------------------------------------
# Embedding label-centroid separation
# ---------------------------------------------------------------------------

_CENTROID_SEP_ORACLE = """
WITH cent AS (
    SELECT label, CAST(i AS INT) AS dim,
           (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12)
                          AS BIGINT)) AS DOUBLE) / 1e12)
           / CAST(COUNT(*) AS DOUBLE) AS c
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
),
diffs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(floor(pow(a.c - b.c, 2) * 1e12 + 0.5) AS BIGINT) AS d2_fp
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
)
SELECT label_a, label_b,
       CAST(floor(sqrt(CAST(SUM(d2_fp) AS DOUBLE) / 1e12) * 1e9 + 0.5) / 1e9
            AS DOUBLE) AS dist
FROM diffs GROUP BY label_a, label_b
"""


@register(
    "emb_centroid_separation",
    _CENTROID_SEP_ORACLE,
    doc="Pairwise Euclidean distance between label centroids in "
    "embedding space — the class-separability check before training a "
    "classifier on the labels (labels whose centroids nearly coincide "
    "are candidates for merging). Centroids use the repo's elementwise-"
    "mean rule (floor(v*1e12) BIGINT sums / count); per-dim squared "
    "diffs are fixed-point quantized before the sum so the 64-term "
    "reduction is order-independent. label-cardinality² output — tiny; "
    "the only corpus-sized stage is the centroid aggregate, which is "
    "map-side combinable.",
)
def emb_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "v"),
    )
    cent = e.groupBy(
        "label", (F.col("pos") + 1).cast("int").alias("dim")
    ).agg(
        (
            (F.sum(F.floor(F.col("v") * 1e12).cast("long")).cast("double") / 1e12)
            / F.count("*").cast("double")
        ).alias("c")
    )
    a, b = cent.alias("a"), cent.alias("b")
    diffs = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.floor(
            F.pow(F.col("a.c") - F.col("b.c"), F.lit(2)) * 1e12 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("d2_fp"),
    )
    dist = F.sqrt(F.sum("d2_fp").cast("double") / 1e12)
    return diffs.groupBy("label_a", "label_b").agg(
        (F.floor(dist * 1e9 + F.lit(0.5)) / 1e9)
        .cast("double")
        .alias("dist")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup over the embedding column
# ---------------------------------------------------------------------------

_SEM_TAU = 0.25  # epsilon-neighborhood threshold, calibrated to the
# synthetic corpus (near-random vectors: within-label cosine tops out
# ~0.47, so 0.25 marks the top ~2% of pairs as semantic duplicates;
# real-embedding deployments run 0.9+)


_SEM_DIM = 64


def _sem_oracle() -> str:
    cap = DEFAULT_MAX_CLUSTER
    sub_hash = content_hash64_sql("CAST(cc.vec_id AS VARCHAR)")
    csum = ", ".join(
        f"CAST(SUM(CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1e12) AS "
        f"BIGINT)) AS BIGINT) AS c{i}"
        for i in range(1, _SEM_DIM + 1)
    )
    vnorm = " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    cnorm = " + ".join(
        f"CAST(c.c{i} AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    dot_vc = " + ".join(
        f"CAST(e.embedding[{i}] AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    dot_ab = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    return f"""
WITH cent AS (SELECT label, {csum} FROM embeddings GROUP BY label),
e AS (SELECT vec_id, label, embedding, sqrt({vnorm}) AS norm
      FROM embeddings),
cc AS (
    SELECT e.vec_id, e.label, e.embedding, e.norm,
           ({dot_vc}) / NULLIF(e.norm * sqrt({cnorm}), 0.0) AS cc
    FROM e JOIN cent c ON e.label = c.label
),
cnt AS (SELECT label, COUNT(*) AS cl_n FROM cc GROUP BY label),
-- the engine's default-on cluster-size guard, modeled exactly: above
-- DEFAULT_MAX_CLUSTER members a cluster sub-splits by the md5-based
-- content hash of the id into ceil(n/cap) slices, and only same-slice
-- pairs are compared (operators/similarity.py::semantic_dedup)
g AS (
    SELECT cc.*,
           {sub_hash} % ((cnt.cl_n + {cap - 1}) // {cap}) AS sub
    FROM cc JOIN cnt ON cc.label = cnt.label
),
nb AS (
    SELECT a.vec_id,
           COUNT(*) FILTER (WHERE (b.cc < a.cc)
               OR (b.cc = a.cc AND b.vec_id < a.vec_id)) AS n_better
    FROM g a JOIN g b ON a.label = b.label AND a.sub = b.sub
        AND a.vec_id <> b.vec_id
    WHERE ({dot_ab}) / NULLIF(a.norm * b.norm, 0.0) >= {_SEM_TAU}
    GROUP BY a.vec_id
)
SELECT c.vec_id, c.label,
       {fpq_sql('c.cc', 9)} AS cent_cos,
       CAST(COALESCE(nb.n_better, 0) AS BIGINT) AS n_better_neighbors,
       COALESCE(nb.n_better, 0) > 0 AS removed
FROM cc c LEFT JOIN nb ON nb.vec_id = c.vec_id
"""


@register(
    "sim_semantic_dedup",
    _sem_oracle(),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023; operators/"
    "similarity.py::semantic_dedup): within each cluster (the label "
    "column stands in for the upstream k-means assignment), vectors "
    "closer than tau in cosine form an epsilon-neighborhood and only "
    "the member farthest from the cluster centroid survives — the "
    "paper's keep-low-centroid-similarity rule as a deterministic "
    "pairwise rank (centroid-cosine ASC, id ASC), not an "
    "order-dependent greedy sweep. Centroids are fixed-point "
    "(floor(v*1e12) int64 sums), so exact under any partitioning; "
    "cosine folds are sequential and oracle-matchable. The only "
    "quadratic term is the within-cluster pair stage, bounded two "
    "ways: SemDeDup grows CLUSTER COUNT with the corpus, and (r9) the "
    "engine's default-on max_cluster guard sub-splits any oversize "
    "cluster by an md5-based id hash — modeled EXACTLY in this oracle "
    "(the g CTE), so the query stays scale-independent even on a "
    "degenerate clustering. r15: the guarded pair stage runs in numpy, "
    "one Arrow group per bounded slice, with the fold's "
    "exact addition order (np.add.accumulate, 0.0-seeded) — "
    "bit-identical output (exceptAll-proven at sf0.1/sf1 plus a "
    "JVM-vs-numpy differential test on NULL/NaN/tie edges), sf1 "
    "5.83 s -> 2.32 s, the 17M-pair interpreted-HOF cosine stage "
    "(111.8 s executorRunTime) gone from the plan.",
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread to core width before the quadratic within-cluster pair
    # join (r14 profile: the pair stage held 121.9 s of executorRunTime
    # in the 10 embeddings-scan tasks at sf1 — the checkpointed cc
    # relation inherits the scan's partitioning, so the spread must
    # happen on the input; no-op once the scan is wide).
    raw = semantic_dedup(
        cpu_repartition(t(spark, sf_dir, "embeddings"), "vec_id"), _SEM_TAU
    )
    return raw.select(
        "vec_id",
        "label",
        fpq(F.col("cent_cos"), 9).alias("cent_cos"),
        "n_better_neighbors",
        "removed",
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
_PQ_QUERY = np.random.default_rng(99).normal(0, 0.125, 64).tolist()


# Shared SQL fragment builders for every PQ oracle (the
# _mh_sql_fragments discipline — one source of truth so the
# sim_pq_assign and sim_ivfpq_topk oracles cannot silently diverge).


def _pq_vdefs_sql() -> str:
    """The fixed-point embedding list (vq CTE column) every PQ oracle
    shares — the SQL mirror of pq_assign's floor(v*PQ_SCALE)."""
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


def _packed_sql() -> str:
    """The packed BIGINT code over ``dcode0..`` (SQL twin of _packed_col)."""
    return " + ".join(
        f"CAST(dcode{j} AS BIGINT) * {16 ** j}" for j in range(_PQ_M)
    )


def _pq_codes_oracle(books: list, lut: list[list[int]], rotate: bool) -> str:
    """sim_pq_assign / sim_opq_assign oracle: per-vector packed code and
    ADC distance, in the rotated space when ``rotate``."""
    ddefs, codes = _pq_dist_code_sql(pq_quantize_codebooks(books), "d")
    rotation = f"{_opq_rotate_sql()},\n" if rotate else ""
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{rotation}d AS (SELECT vec_id, {", ".join(ddefs)} FROM {"rv" if rotate else "v"}),
c AS (SELECT vec_id, {", ".join(codes)} FROM d)
SELECT vec_id,
       CAST({_packed_sql()} AS BIGINT) AS code_packed,
       CAST({_pq_adc_sql(lut, "d")} AS BIGINT) AS adc_dist
FROM c
"""


def _pq_opq_adc_ctes(dist: str) -> str:
    """``pd``/``pc`` (PQ) and ``od``/``oc`` (OPQ) CTEs: each vector's ADC
    distance to the pinned query, column ``dist``, for both codecs at the
    same code budget. Needs the ``v`` and ``rv`` CTEs."""
    pq_dd, pq_cc = _pq_dist_code_sql(pq_quantize_codebooks(_PQ_BOOKS), "p")
    pq_adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "p")
    opq_dd, opq_cc = _pq_dist_code_sql(pq_quantize_codebooks(_OPQ_BOOKS), "o")
    qz = opq_rotate_query(_OPQ_R, _PQ_QUERY)
    opq_adc = _pq_adc_sql(opq_adc_lut(_OPQ_BOOKS, qz), "o")
    return f"""pd AS (SELECT vec_id, {", ".join(pq_dd)} FROM v),
pc AS (SELECT vec_id, CAST({pq_adc} AS BIGINT) AS {dist}
       FROM (SELECT vec_id, {", ".join(pq_cc)} FROM pd)),
od AS (SELECT vec_id, {", ".join(opq_dd)} FROM rv),
oc AS (SELECT vec_id, CAST({opq_adc} AS BIGINT) AS {dist}
       FROM (SELECT vec_id, {", ".join(opq_cc)} FROM od)),"""


def _vq_col() -> Column:
    """The fixed-point embedding list floor(v*PQ_SCALE) — the Spark twin
    of _pq_vdefs_sql."""
    return F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PQ_SCALE))
        ).cast("long"),
    )


def _query_sqdist_col(dims: int | None = None) -> Column:
    """Exact int64 squared distance from the fixed-point embedding (its
    first ``dims`` dims when given) to the pinned query — the Spark twin
    of _pq_exact_dist_sql / _mrl_dist_sql."""
    vq, query = _vq_col(), _PQ_QUERY
    if dims is not None:
        vq, query = F.slice(vq, 1, dims), query[:dims]
    q_lit = F.array(
        *[F.lit(round(x * PQ_SCALE)).cast("long") for x in query]
    )
    return F.aggregate(
        F.zip_with(vq, q_lit, lambda v, q: (v - q) * (v - q)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _adc_col(lut: list[list[int]]) -> Column:
    """ADC distance over ``code0..``: one LUT lookup per subspace."""
    adc = None
    for j in range(_PQ_M):
        term = F.element_at(
            F.array(*[F.lit(x).cast("bigint") for x in lut[j]]),
            F.col(f"code{j}") + 1,
        )
        adc = term if adc is None else adc + term
    return adc


def _packed_col() -> Column:
    """All subspace codes packed into one BIGINT (4 bits each)."""
    packed = None
    for j in range(_PQ_M):
        term = F.col(f"code{j}").cast("bigint") * F.lit(16 ** j)
        packed = term if packed is None else packed + term
    return packed


# Shortlist-recall evaluations (sim_pq_opq_recall, emb_matryoshka_eval,
# sim_ann_frontier): how many of the exact top-_EVAL_TRUTH_K neighbours
# of the pinned query a method's shortlist@_EVAL_SHORTLIST contains, as
# a fixed-point fraction.
_EVAL_TRUTH_K = 10


_EVAL_SHORTLIST = 50


_EVAL_FP = 1_000_000


def _recall_leg(
    truth: DataFrame, scored: DataFrame, dist: str, method: str, *lead: Column
) -> DataFrame:
    """One recall row: ``truth`` (the exact top-k vec_ids) against the
    shortlist of ``scored`` ordered by ``dist``; ``lead`` columns come
    before ``method``."""
    sl = scored.orderBy(dist, "vec_id").limit(_EVAL_SHORTLIST).select("vec_id")
    return truth.join(sl, "vec_id").agg(
        *lead,
        F.lit(method).alias("method"),
        F.lit(_EVAL_TRUTH_K).cast("bigint").alias("n_truth"),
        F.count("*").cast("bigint").alias("n_hit"),
        (F.count("*") * F.lit(_EVAL_FP) / F.lit(_EVAL_TRUTH_K))
        .cast("bigint")
        .alias("recall_fp"),
    )


def _recall_leg_sql(method: str, shortlist: str) -> str:
    """SQL twin of _recall_leg over a ``truth`` CTE and a shortlist
    relation."""
    return f"""SELECT '{method}' AS method,
       CAST({_EVAL_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_EVAL_FP} // {_EVAL_TRUTH_K} AS BIGINT)
           AS recall_fp
FROM truth t JOIN {shortlist} s ON s.vec_id = t.vec_id"""


@register(
    "sim_pq_assign",
    _pq_codes_oracle(_PQ_BOOKS, pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), rotate=False),
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
    codes = pq_assign_batch(t(spark, sf_dir, "embeddings"), _PQ_BOOKS)
    return codes.select(
        "vec_id",
        _packed_col().cast("bigint").alias("code_packed"),
        _adc_col(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)).cast("bigint").alias("adc_dist"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ top-k search — the composed billion-scale ANN architecture
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 4


_IVFPQ_TOPK = 25


def _ivfpq_oracle() -> str:
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
    mapInArrow pass (operators/similarity.py::pq_adc_scan) — the
    expression form's higher-order-function folds were the leg's
    whole cost (9.5 s executorRunTime at sf1, interpreted per
    element). Exact int64 end to end, so the output is bit-identical
    (exceptAll-proven at sf1 + oracle green; same-session alternating
    sf1 A/B: sim_ivfpq_topk 3.24 -> 0.67 s, refine 4.25 -> 2.62 s)."""
    probes = pq_probe_lists(PQ_COARSE, _PQ_QUERY, _IVFPQ_NPROBE)
    lut = pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)
    return pq_adc_scan(
        t(spark, sf_dir, "embeddings"), PQ_COARSE, _PQ_BOOKS, lut, probes
    )


# ---------------------------------------------------------------------------
# IVF-PQ + exact refine — the production IVFADC+refine composition
# ---------------------------------------------------------------------------

_IVFPQ_RERANK = 100


def _ivfpq_refine_oracle() -> str:
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
    shortlist = (
        _ivfpq_adc_df(spark, sf_dir)
        .orderBy("adc_dist", "vec_id")
        .limit(_IVFPQ_RERANK)
    )
    exact = _query_sqdist_col()
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
# (same module), quantized to the SAME integer literals on both
# engines — Python computes floor(q*1000) once and injects ints, so
# no cross-engine float math exists anywhere in the leg.
_RRF_QUERY_ID = 1


def _rrf_qvec_ints() -> list[int]:

    return [int(math.floor(q * 1000)) for q in _PQ_QUERY]


def _rrf_oracle() -> str:
    qlits = ", ".join(str(v) for v in _rrf_qvec_ints())
    return f"""{bm25_scored_cte()},
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
# sim_ann_recall_eval — IVF recall against the exact top-k ground truth
# ---------------------------------------------------------------------------

_ANN_RECALL_FP = 1_000_000


def _ann_recall_oracle() -> str:

    return f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({_ANN_ORACLE})),
iv AS (SELECT query_id, neighbor_id FROM ({_ivf_oracle()})),
truth AS (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
    FROM bf GROUP BY query_id
),
hit AS (
    SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM bf b JOIN iv
      ON iv.query_id = b.query_id AND iv.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
)
SELECT t.query_id, t.n_truth,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST((COALESCE(h.n_hit, 0) * {_ANN_RECALL_FP}) // t.n_truth
            AS BIGINT) AS recall_fp
FROM truth t LEFT JOIN hit h ON h.query_id = t.query_id
"""


@register(
    "sim_ann_recall_eval",
    _ann_recall_oracle(),
    doc="ANN recall@10 evaluation: per query, what fraction of the "
    "EXACT brute-force top-10 cosine neighbors does the IVF "
    "multi-probe search return? The index-quality metric that "
    "decides nprobe/list-count before trusting sim_ann_ivf at scale "
    "— the vector-search twin of dedup_minhash_recall_eval's LSH "
    "measurement. Both legs ARE the registered queries themselves "
    "(sim_ann_bruteforce and sim_ann_ivf called as callables, their "
    "oracles composed as subqueries) — one source of truth, so this "
    "eval can never drift from what those entries actually compute. "
    "Recall is integer fixed-point against the per-query truth size "
    "(not a hardcoded 10 — short truth lists divide by what exists). "
    "Scale: the truth leg is the O(Q*N) exact scan — an eval you run "
    "on a query SAMPLE at calibration time, exactly like the LSH "
    "recall entry.",
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:

    # pinned: truth and hit both consume the O(Q*N) exact-scan leg —
    # without the checkpoint its window-rank stages evaluate twice
    # (the dedup_minhash_recall_eval lesson, measured there at 3.5x)
    bf = (
        sim_ann_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    iv = sim_ann_ivf(spark, sf_dir).select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("inb")
    )
    truth = bf.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_truth")
    )
    hit = (
        bf.join(
            iv,
            (F.col("iq") == F.col("query_id"))
            & (F.col("inb") == F.col("neighbor_id")),
        )
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return (
        truth.join(hit, "query_id", "left")
        .select(
            "query_id",
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(
                f"(coalesce(n_hit, 0) * {_ANN_RECALL_FP}) DIV n_truth"
            )
            .cast("bigint")
            .alias("recall_fp"),
        )
    )


# ---------------------------------------------------------------------------
# emb_centroid_drift — embedding-space drift between two snapshots
# ---------------------------------------------------------------------------

_DRIFT_DIM = 64


_EMB_DRIFT_ORACLE = f"""
WITH cent AS (
    SELECT label, CAST(vec_id % 2 AS INT) AS half, CAST(i AS INT) AS dim,
           (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12)
                          AS BIGINT)) AS DOUBLE) / 1e12)
           / CAST(COUNT(*) AS DOUBLE) AS c
    FROM embeddings, range(1, {_DRIFT_DIM + 1}) t(i)
    GROUP BY label, vec_id % 2, i
),
diffs AS (
    SELECT a.label,
           CAST(floor(pow(a.c - b.c, 2) * 1e12 + 0.5) AS BIGINT) AS d2_fp
    FROM cent a
    JOIN cent b ON b.label = a.label AND b.dim = a.dim
    WHERE a.half = 0 AND b.half = 1
)
SELECT label,
       CAST(floor(sqrt(CAST(SUM(d2_fp) AS DOUBLE) / 1e12) * 1e9 + 0.5) / 1e9
            AS DOUBLE) AS drift
FROM diffs GROUP BY label
"""


@register(
    "emb_centroid_drift",
    _EMB_DRIFT_ORACLE,
    doc="Embedding-space drift monitor: per label, the L2 distance "
    "between the centroid of one data half (vec_id parity simulates "
    "two ingestion snapshots) and the other — the encoder-regression "
    "check that catches a silently retrained or misversioned "
    "embedding model BEFORE downstream ANN/dedup quality decays "
    "(drift_psi and snapshot_column_drift watch tabular columns; "
    "this watches the vector space itself). Centroids use the repo's "
    "elementwise-mean rule (floor(v*1e12) integer sums / count — the "
    "emb_centroid_separation convention) and the squared diffs are "
    "fixed-pointed before the final sqrt, so both engines agree "
    "bit-for-bit. One explode + hash aggregate keyed (label, half, "
    "dim); only O(labels x dims) rows survive the first aggregate.",
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "v"),
    )
    cent = e.groupBy(
        "label", "half", (F.col("pos") + 1).cast("int").alias("dim")
    ).agg(
        (
            (F.sum(F.floor(F.col("v") * 1e12).cast("long")).cast("double") / 1e12)
            / F.count("*").cast("double")
        ).alias("c")
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c").alias("cb")
    )
    diffs = a.join(b, ["label", "dim"]).select(
        "label",
        F.floor(
            F.pow(F.col("ca") - F.col("cb"), F.lit(2)) * 1e12 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("d2_fp"),
    )
    drift = F.sqrt(F.sum("d2_fp").cast("double") / 1e12)
    return diffs.groupBy("label").agg(
        (F.floor(drift * 1e9 + F.lit(0.5)) / 1e9)
        .cast("double")
        .alias("drift")
    )


# ---------------------------------------------------------------------------
# sim_ann_nprobe_sweep — recall@10 as a function of nprobe
# ---------------------------------------------------------------------------


def _nprobe_sweep_oracle() -> str:

    def leg(probes: int) -> str:
        return f"""
    SELECT {probes} AS nprobe, p.vec_id AS query_id, cb.vec_id AS neighbor_id
    FROM (SELECT vec_id, CAST(centroid_id AS INT) AS centroid_id
          FROM ranked WHERE rnk <= {probes} AND vec_id < 5) p
    JOIN corpus_b cb
      ON p.centroid_id = cb.centroid_id AND p.vec_id <> cb.vec_id"""

    return f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
{_ivf_corpus_ctes()},
cand AS ({leg(1)} UNION ALL {leg(2)}),
bf AS (SELECT query_id, neighbor_id FROM ({_ANN_ORACLE})),
truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM bf),
hit AS (
    SELECT c.nprobe, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM bf b JOIN cand c
      ON c.query_id = b.query_id AND c.neighbor_id = b.neighbor_id
    GROUP BY c.nprobe
)
SELECT h.nprobe, t.n_truth, h.n_hit,
       CAST((h.n_hit * 1000000) // t.n_truth AS BIGINT) AS recall_fp
FROM hit h CROSS JOIN truth t
"""


@register(
    "sim_ann_nprobe_sweep",
    _nprobe_sweep_oracle(),
    doc="IVF recall-vs-nprobe calibration curve: total recall@10 over "
    "the query sample at probe depth 1 and 2 — the knob-tuning table "
    "(sim_ann_recall_eval scores ONE operating point; this sweeps "
    "the probe depth the way dedup_threshold_sweep sweeps the "
    "Jaccard fence, and the marginal recall of the second probe is "
    "exactly what decides whether its extra list scans are worth "
    "it). Candidate sets at both depths come from ONE centroid "
    "ranking (rnk <= nprobe — the deeper probe is a superset by "
    "construction); ground truth is the registered brute-force "
    "oracle composed as a subquery. Recall is integer fixed-point "
    "per depth. Scale: same guarded shapes as the parents, query "
    "sample bounded by rule.",
)
def sim_ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(t(spark, sf_dir, "embeddings")).select(
        "vec_id", "_vec", "_norm"
    )
    corpus_b = ivf_assign(e, _KM_CENTROIDS, n_probe=1).localCheckpoint(
        eager=True
    )
    queries = e.filter(F.col("vec_id") < 5)
    bf = (
        sim_ann_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    legs = None
    for probes in (1, 2):
        qb = ivf_assign(queries, _KM_CENTROIDS, n_probe=probes)
        cand = (
            qb.alias("qb")
            .join(corpus_b.alias("cb"), "centroid_id")
            .filter(F.col("qb.vec_id") != F.col("cb.vec_id"))
            .select(
                F.lit(probes).alias("nprobe"),
                F.col("qb.vec_id").alias("query_id"),
                F.col("cb.vec_id").alias("neighbor_id"),
            )
        )
        legs = cand if legs is None else legs.unionAll(cand)
    hit = (
        bf.join(legs, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    truth = bf.agg(F.count("*").cast("bigint").alias("n_truth"))
    return hit.crossJoin(truth).select(
        "nprobe",
        "n_truth",
        "n_hit",
        F.expr("(n_hit * 1000000) DIV n_truth")
        .cast("bigint")
        .alias("recall_fp"),
    )


# ---------------------------------------------------------------------------
# sim_opq_assign — OPQ-rotated product quantization (Ge et al. 2013)
# ---------------------------------------------------------------------------
def _opq_rotate_sql() -> str:
    """The two rotation CTE bodies every OPQ oracle shares: z0 = exact
    int64 matvec of the quantized rotation against the fixed-point
    embedding list, then an exact floor-division back to PQ_SCALE,
    re-aliased ``vq`` so the shared PQ code fragments
    (_pq_dist_code_sql) apply unchanged in the rotated space."""
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


@register(
    "sim_opq_assign",
    _pq_codes_oracle(
        _OPQ_BOOKS,
        opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY)),
        rotate=True,
    ),
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
    "Arrow-batched numpy int64 matmul (mapInArrow, no shuffle, "
    "partitioning preserved — measured 16x faster than the "
    "interpreted higher-order-function form, see SCALE.md); measured "
    "PQ-vs-OPQ recall delta in sim_pq_opq_recall and SCALE.md.",
)
def sim_opq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = opq_assign(
        t(spark, sf_dir, "embeddings"), _OPQ_R, _OPQ_BOOKS
    )
    lut = opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY))
    return codes.select(
        "vec_id",
        _packed_col().cast("bigint").alias("code_packed"),
        _adc_col(lut).cast("bigint").alias("adc_dist"),
    )


# ---------------------------------------------------------------------------
# sim_pq_opq_recall — PQ vs OPQ shortlist recall at equal code budget
# ---------------------------------------------------------------------------

def _pq_exact_dist_sql() -> str:
    """Exact int64 squared distance from the fixed-point embedding
    list (vq) to the pinned query — the ground-truth leg both ADC
    shortlists are graded against."""
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
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
ex AS (SELECT vec_id, {_pq_exact_dist_sql()} AS xdist FROM v),
{_pq_opq_adc_ctes("adc")}
truth AS (SELECT vec_id FROM ex ORDER BY xdist, vec_id
          LIMIT {_EVAL_TRUTH_K}),
pq_sl AS (SELECT vec_id FROM pc ORDER BY adc, vec_id
          LIMIT {_EVAL_SHORTLIST}),
opq_sl AS (SELECT vec_id FROM oc ORDER BY adc, vec_id
           LIMIT {_EVAL_SHORTLIST})
{_recall_leg_sql("pq", "pq_sl")}
UNION ALL
{_recall_leg_sql("opq", "opq_sl")}
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
    emb = t(spark, sf_dir, "embeddings")
    pq_adc = pq_assign_batch(emb, _PQ_BOOKS).select(
        "vec_id",
        _adc_col(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)).cast("bigint").alias("adc"),
    )
    opq_lut = opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY))
    opq_adc = opq_assign(emb, _OPQ_R, _OPQ_BOOKS).select(
        "vec_id", _adc_col(opq_lut).cast("bigint").alias("adc")
    )
    exact = emb.select("vec_id", _query_sqdist_col().alias("xdist"))
    truth = (
        exact.orderBy("xdist", "vec_id")
        .limit(_EVAL_TRUTH_K)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    return _recall_leg(truth, pq_adc, "adc", "pq").unionAll(
        _recall_leg(truth, opq_adc, "adc", "opq")
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
# emb_matryoshka_eval — truncated-dimension retrieval quality
# ---------------------------------------------------------------------------

_MRL_DIMS = (16, 32)


def _mrl_dist_sql(d: int) -> str:
    """Exact int64 squared distance over the FIRST d dims only."""
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
    legs = [
        _recall_leg_sql(
            f"dim{d}",
            f"""(
    SELECT vec_id FROM d ORDER BY d{d}, vec_id LIMIT {_EVAL_SHORTLIST}
)""",
        )
        for d in _MRL_DIMS
    ]
    dcols = ", ".join(
        f"{_mrl_dist_sql(d)} AS d{d}" for d in _MRL_DIMS
    )
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {dcols}, {_pq_exact_dist_sql()} AS xdist FROM v),
truth AS (SELECT vec_id FROM d ORDER BY xdist, vec_id
          LIMIT {_EVAL_TRUTH_K})
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
    scored = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        *[_query_sqdist_col(d).alias(f"d{d}") for d in _MRL_DIMS],
        _query_sqdist_col(64).alias("xdist"),
    ).localCheckpoint(eager=True)
    truth = (
        scored.orderBy("xdist", "vec_id")
        .limit(_EVAL_TRUTH_K)
        .select("vec_id")
    )
    out = None
    for d in _MRL_DIMS:
        leg = _recall_leg(truth, scored, f"d{d}", f"dim{d}")
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# sim_ann_frontier — the IVF x codec recall/cost operating-point table
# ---------------------------------------------------------------------------
_FRT_PROBES = (1, 2)


def _frontier_probe_order() -> list[int]:
    """Centroid ids by exact distance from the pinned query — computed
    ONCE driver-side from literal model constants (query and centroids
    are both pinned literals) and inlined into engine and oracle alike,
    so probe selection is definitionally identical on both sides."""

    dists = []
    for cid, cent in enumerate(_KM_CENTROIDS):
        acc = 0.0
        for x, y in zip(_PQ_QUERY, cent):
            acc += (x - y) * (x - y)
        dists.append((acc, cid))
    dists.sort()
    return [cid for _, cid in dists]


def _ann_frontier_oracle() -> str:
    probes = _frontier_probe_order()

    cand_ctes = ",\n".join(
        f"cand{p} AS (SELECT vec_id FROM corpus_b WHERE centroid_id IN "
        f"({', '.join(str(c) for c in probes[:p])}))"
        for p in _FRT_PROBES
    )
    legs = []
    for p in _FRT_PROBES:
        for method, dist_cte in (("exact", "xd"), ("pq", "pc"), ("opq", "oc")):
            legs.append(f"""
SELECT {p} AS nprobe, '{method}' AS method,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{p}) AS n_candidates,
       CAST({_EVAL_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_EVAL_FP} // {_EVAL_TRUTH_K} AS BIGINT) AS recall_fp
FROM truth tr JOIN (
    SELECT dd.vec_id FROM {dist_cte} dd
    JOIN cand{p} cc ON cc.vec_id = dd.vec_id
    ORDER BY dd.dist, dd.vec_id LIMIT {_EVAL_SHORTLIST}
) s ON s.vec_id = tr.vec_id""")
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
{_ivf_corpus_ctes()},
xd AS (SELECT vec_id, {_pq_exact_dist_sql()} AS dist FROM v),
{_pq_opq_adc_ctes("dist")}
truth AS (SELECT vec_id FROM xd ORDER BY dist, vec_id
          LIMIT {_EVAL_TRUTH_K}),
{cand_ctes}
{union}
"""


@register(
    "sim_ann_frontier",
    _ann_frontier_oracle(),
    doc="The ANN recall/cost FRONTIER: one auditable table sweeping "
    "(nprobe in {1,2}) x (re-rank codec in {exact float, PQ ADC, OPQ "
    "ADC at the same m=8,k=16 budget}) to (candidate count, "
    "shortlist@50 recall of the exact global top-10) for the pinned "
    "query — the operating-point artifact a 100 TB deployment tunes "
    "from: the exact-codec rows isolate IVF geometry loss (how much "
    "recall the probe depth forfeits), the PQ/OPQ rows add "
    "quantization loss on top, and n_candidates is the cost axis "
    "(fraction of corpus scanned). Composes the registered pieces "
    "(sim_ann_nprobe_sweep's corpus assignment CTE, sim_pq_opq_recall's "
    "distance legs) from their single sources of truth; probe order is "
    "computed once from literal model constants and inlined on both "
    "sides. All legs share ONE checkpointed scan engine-side; every "
    "distance is exact (int64 fixed-point or IEEE double with "
    "identical literals), recall integer fixed-point. Scale: "
    "shortlists are TakeOrderedAndProject over candidate-only rows; "
    "the frontier is a calibration query run on a query sample.",
)
def sim_ann_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    probes = _frontier_probe_order()

    # one row per corpus vector: inverted-list id + all three distances
    corpus_b = ivf_assign(
        with_norm(emb).select("vec_id", "_vec"), _KM_CENTROIDS, n_probe=1
    )
    pq_lut = pq_adc_lut(_PQ_BOOKS, _PQ_QUERY)
    opq_lut = opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY))
    dists = (
        emb.select("vec_id", _query_sqdist_col().alias("d_exact"))
        .join(
            pq_assign_batch(emb, _PQ_BOOKS).select(
                "vec_id", _adc_col(pq_lut).cast("bigint").alias("d_pq")
            ),
            "vec_id",
        )
        .join(
            opq_assign(emb, _OPQ_R, _OPQ_BOOKS).select(
                "vec_id", _adc_col(opq_lut).cast("bigint").alias("d_opq")
            ),
            "vec_id",
        )
        .join(corpus_b, "vec_id")
        # 6 shortlist sorts + 2 candidate counts re-read this relation
        .localCheckpoint(eager=True)
    )
    truth = (
        dists.orderBy("d_exact", "vec_id")
        .limit(_EVAL_TRUTH_K)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )

    out = None
    for p in _FRT_PROBES:
        cand = dists.filter(F.col("centroid_id").isin(probes[:p]))
        n_cand = cand.agg(
            F.count("*").cast("bigint").alias("n_candidates")
        )
        for method, dcol in (
            ("exact", "d_exact"),
            ("pq", "d_pq"),
            ("opq", "d_opq"),
        ):
            leg = (
                _recall_leg(truth, cand, dcol, method, F.lit(p).alias("nprobe"))
                .crossJoin(n_cand)
                .select(
                    "nprobe",
                    "method",
                    "n_candidates",
                    "n_truth",
                    "n_hit",
                    "recall_fp",
                )
            )
            out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# sim_ivf_balance_report — inverted-list balance audit for the IVF index
# ---------------------------------------------------------------------------

_IVF_BAL_PPM = 1_000_000


def _ivf_balance_oracle() -> str:

    n_lists = len(_KM_CENTROIDS)
    return f"""
WITH {_ivf_corpus_ctes()},
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM corpus_b)
SELECT centroid_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) * {_IVF_BAL_PPM} // n_total AS BIGINT) AS share_ppm,
       CAST(COUNT(*) * {n_lists} * {_IVF_BAL_PPM} // n_total AS BIGINT)
           AS ratio_to_mean_fp
FROM corpus_b, tot
GROUP BY centroid_id, n_total
"""


@register(
    "sim_ivf_balance_report",
    _ivf_balance_oracle(),
    doc="IVF inverted-list balance audit: per coarse centroid, the "
    "list's vector count, corpus share (ppm) and ratio to the uniform "
    "mean (fixed-point; 1e6 = perfectly balanced) — the index-health "
    "metric that decides when to RETRAIN the coarse quantizer: a list "
    "holding 3x its share makes every probe of it 3x the scan cost "
    "and starves recall on the starved lists (the ANN twin of "
    "dedup_cluster_size_hist's skew report; sim_ann_frontier measures "
    "recall, this measures the cost denominator). One hash aggregate "
    "over the registered corpus assignment (same _ivf_corpus_ctes "
    "source of truth as the sweep/frontier oracles); corpus total "
    "folds in as a 1-row broadcast. Scale: output is one row per "
    "list; the aggregate is map-side combinable on centroid_id.",
)
def sim_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_lists = len(_KM_CENTROIDS)
    corpus_b = ivf_assign(
        with_norm(t(spark, sf_dir, "embeddings")).select("vec_id", "_vec"),
        _KM_CENTROIDS,
        n_probe=1,
    )
    tot = corpus_b.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        corpus_b.groupBy("centroid_id")
        .agg(F.count("*").cast("bigint").alias("n_vecs"))
        .crossJoin(tot)
        .select(
            "centroid_id",
            "n_vecs",
            F.expr(f"n_vecs * {_IVF_BAL_PPM} DIV n_total")
            .cast("bigint")
            .alias("share_ppm"),
            F.expr(f"n_vecs * {n_lists} * {_IVF_BAL_PPM} DIV n_total")
            .cast("bigint")
            .alias("ratio_to_mean_fp"),
        )
    )


# ---------------------------------------------------------------------------
# sim_adc_batch_topk — batched multi-query compressed-domain ANN scan
# ---------------------------------------------------------------------------
# Pinned literal query batch: the registered single-query workload
# (_PQ_QUERY, rng 99) plus two more drawn the same way — the serving
# shape is Q queries amortizing ONE code scan.
_BATCH_QUERIES = (
    _PQ_QUERY,
    np.random.default_rng(101).normal(0, 0.125, 64).tolist(),
    np.random.default_rng(102).normal(0, 0.125, 64).tolist(),
)


_BATCH_TOP_K = 10


def _adc_batch_oracle() -> str:
    ddefs, codes = _pq_dist_code_sql(pq_quantize_codebooks(_PQ_BOOKS), "d")
    legs = []
    for qid, qvec in enumerate(_BATCH_QUERIES):
        adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, qvec), "d")
        legs.append(
            f"SELECT {qid} AS query_id, vec_id, "
            f"CAST({adc} AS BIGINT) AS adc_dist FROM c"
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
d AS (SELECT vec_id, {", ".join(ddefs)} FROM v),
c AS (SELECT vec_id, {", ".join(codes)} FROM d),
scored AS ({union}),
ranked AS (
    SELECT query_id, vec_id, adc_dist,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adc_dist, vec_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, vec_id, adc_dist, rank
FROM ranked WHERE rank <= {_BATCH_TOP_K}
"""


@register(
    "sim_adc_batch_topk",
    _adc_batch_oracle(),
    doc="BATCHED compressed-domain ANN: top-10 by PQ asymmetric "
    "distance for a 3-query batch over ONE code scan — the actual "
    "serving shape of a PQ index (sim_ivfpq_topk scores one pinned "
    "query; production amortizes the scan across a request batch). "
    "Codes are assigned once per vector (pq_assign, exact int64, no "
    "shuffle); the batch dimension is an explode over literal query "
    "ids; each row's distance is m=8 lookups into a Q x m x k literal "
    "LUT tensor (element_at chains — model-sized, rides the task "
    "closure), so scan cost is codes-once + Q*m lookups instead of "
    "Q*d multiplications. Per-query top-k under WindowGroupLimit, "
    "tie-broken by vec_id; every distance exact int64 so the batch "
    "result is bit-reproducible. Scale: batching multiplies only the "
    "lookup stage, never the decode or the scan IO — the reason ANN "
    "servers queue requests into batches.",
)
def sim_adc_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15: assignment via the numpy batch pass (bit-identical int64
    # argmin; see pq_assign_batch) — the expression form's interpreted
    # folds were this leg's whole cost (9.2 s executorRunTime at sf1).
    # The 3-query explode + LUT element_at sums stay JVM-side: plain
    # codegen'd expressions over the already-narrow code columns.
    codes = pq_assign_batch(t(spark, sf_dir, "embeddings"), _PQ_BOOKS)
    luts = [pq_adc_lut(_PQ_BOOKS, q) for q in _BATCH_QUERIES]
    ex = codes.select(
        "vec_id",
        *[f"code{j}" for j in range(_PQ_M)],
        F.explode(
            F.array(*[F.lit(i) for i in range(len(_BATCH_QUERIES))])
        ).alias("query_id"),
    )
    adc = None
    for j in range(_PQ_M):
        # lut tensor slice for subspace j: [query][code] -> distance
        lut_j = F.array(
            *[
                F.array(*[F.lit(int(x)).cast("bigint") for x in luts[q][j]])
                for q in range(len(_BATCH_QUERIES))
            ]
        )
        term = F.element_at(
            F.element_at(lut_j, F.col("query_id") + 1),
            F.col(f"code{j}") + 1,
        )
        adc = term if adc is None else adc + term
    scored = ex.select(
        "query_id", "vec_id", adc.cast("bigint").alias("adc_dist")
    )
    w = W.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BATCH_TOP_K)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# emb_pca_recon_error — energy captured by the leading rotated components
# ---------------------------------------------------------------------------

_PCA_K = 16  # leading components of the 64-dim OPQ/PCA basis


_PCA_PPM = 1_000_000


def _pca_recon_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
e AS (
    SELECT v.vec_id,
           CAST(list_sum(list_transform(v.vq, x -> x * x)) AS BIGINT)
               AS energy,
           CAST(list_sum(list_transform(rv.vq[1:{_PCA_K}], z -> z * z))
               AS BIGINT) AS captured_k
    FROM v JOIN rv ON rv.vec_id = v.vec_id
)
SELECT vec_id, energy, captured_k,
       CAST(captured_k * {_PCA_PPM} // energy AS BIGINT) AS explained_ppm
FROM e WHERE energy > 0
"""


@register(
    "emb_pca_recon_error",
    _pca_recon_oracle(),
    doc="Per-vector PCA energy capture: rotate each embedding through "
    "the learned orthogonal basis (the OPQ rotation IS the PCA basis "
    "with eigenvalue allocation, tools/train_opq.py) and report how "
    "much of the vector's squared norm the LEADING k=16 of 64 rotated "
    "components carry — the dimensionality-reduction audit that "
    "decides whether a 4x-cheaper truncated embedding suffices for "
    "retrieval (the per-vector twin of emb_matryoshka_eval's pinned "
    "prefix comparison: matryoshka evaluates trained prefixes, this "
    "measures the spectral ceiling any linear truncation can reach). "
    "Exact int64 end to end: vq = floor(x*1e6), z = R_int*vq // 1e6 "
    "(the opq_assign fixed-point spec), energies are integer sums of "
    "squares, capture is integer ppm; rotation runs as the same "
    "Arrow-batched numpy int64 matmul as opq_assign (no shuffle). "
    "Zero-energy vectors are excluded identically on both engines. "
    "Orthogonality makes captured <= energy up to the floor-division "
    "quantization (property-tested).",
)
def emb_pca_recon_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = opq_rotated_energy(
        t(spark, sf_dir, "embeddings"), _OPQ_R, k=_PCA_K
    )
    return e.filter(F.col("energy") > 0).select(
        "vec_id",
        "energy",
        "captured_k",
        F.expr(f"captured_k * {_PCA_PPM} DIV energy")
        .cast("bigint")
        .alias("explained_ppm"),
    )


# ---------------------------------------------------------------------------
# emb_knn_graph — the k-nearest-neighbor graph over IVF lists
# ---------------------------------------------------------------------------

_KNN_K = 5


def _knn_graph_oracle() -> str:

    return f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
{_ivf_corpus_ctes()},
j AS (
    SELECT e.vec_id, e.embedding, e.norm, cb.centroid_id
    FROM e JOIN corpus_b cb ON cb.vec_id = e.vec_id
),
scored AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id, a.centroid_id,
           ({dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
    FROM j a JOIN j b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
),
knn_ranked AS (
    SELECT vec_id, neighbor_id, centroid_id, cosine,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
)
SELECT vec_id, neighbor_id, centroid_id, cosine, rank
FROM knn_ranked WHERE rank <= {_KNN_K}
"""


@register(
    "emb_knn_graph",
    _knn_graph_oracle(),
    doc="k-nearest-neighbor graph construction (k=5 by cosine) over "
    "the IVF inverted lists — the upstream primitive of graph-based "
    "semantic clustering and kNN-classified quality filtering: every "
    "vector ranks the OTHER members of its own coarse list, so the "
    "pair relation is sum-of-list-size-squares, never corpus^2 "
    "(sim_semantic_dedup's within-cluster discipline, here with a "
    "per-node top-k instead of a threshold; at 100 TB the list count "
    "grows ~sqrt(N) and sim_ivf_balance_report is the skew monitor "
    "for exactly this join). Cosines use the repo's sequential-fold "
    "dot/norm expressions (bit-identical both engines), ranking is "
    "fully tie-broken, the top-k filter compiles to WindowGroupLimit "
    "per-partition heaps. Corpus assignment composes the shared "
    "_ivf_corpus_ctes source of truth.",
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(t(spark, sf_dir, "embeddings")).select(
        "vec_id", "_vec", "_norm"
    )
    assign = ivf_assign(e, _KM_CENTROIDS, n_probe=1)
    j = e.join(assign, "vec_id")
    a = j.select(
        F.col("vec_id"),
        F.col("centroid_id"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
    )
    b = j.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").alias("centroid_b"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
    )
    scored = (
        a.join(b, F.col("centroid_id") == F.col("centroid_b"))
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            "centroid_id",
            cosine(
                F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _KNN_K)
        .select("vec_id", "neighbor_id", "centroid_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# sim_lsh_recall_eval — hyperplane-LSH recall vs probe radius
# ---------------------------------------------------------------------------

_LSHR_FP = 1_000_000


_LSHR_BITS = 8  # signature width (len(_PLANES))


def _lsh_recall_oracle() -> str:

    bucket = _lsh_bucket_sql()
    flips = ", ".join(str(1 << i) for i in range(_LSHR_BITS))
    return f"""
WITH b AS (SELECT vec_id, CAST(({bucket}) AS INT) AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS query_id, bucket FROM b WHERE vec_id < 5),
probes AS (
    SELECT 0 AS radius, query_id, bucket AS probe FROM q
    UNION ALL
    SELECT 1, query_id, bucket FROM q
    UNION ALL
    SELECT 1, query_id,
           CAST(xor(CAST(bucket AS BIGINT), f) AS INT) AS probe
    FROM q, unnest([{flips}]) t(f)
),
cand AS (
    SELECT DISTINCT p.radius, p.query_id, c.vec_id AS neighbor_id
    FROM probes p JOIN b c ON c.bucket = p.probe
    WHERE c.vec_id <> p.query_id
),
bf AS (SELECT query_id, neighbor_id FROM ({_ANN_ORACLE})),
truth AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM bf),
ncand AS (
    SELECT radius, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM cand GROUP BY radius
),
hit AS (
    SELECT c.radius, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM bf JOIN cand c
      ON c.query_id = bf.query_id AND c.neighbor_id = bf.neighbor_id
    GROUP BY c.radius
)
SELECT n.radius, n.n_candidates, t.n_truth,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(h.n_hit, 0) * {_LSHR_FP} // t.n_truth AS BIGINT)
           AS recall_fp
FROM ncand n LEFT JOIN hit h ON h.radius = n.radius
CROSS JOIN truth t
"""


@register(
    "sim_lsh_recall_eval",
    _lsh_recall_oracle(),
    doc="Hyperplane-LSH recall vs Hamming probe radius — the missing "
    "third leg of the measure-don't-assume trio (sim_ann_recall_eval "
    "scores IVF, dedup_minhash_recall_eval scores MinHash banding; "
    "sim_ann_lsh's buckets were the one retrieval structure without a "
    "measured recall): of the exact brute-force top-10 cosine "
    "neighbors per query, how many live in the query's own 8-bit "
    "sign bucket (radius 0) vs the bucket plus its 8 Hamming-1 "
    "neighbors (radius 1 multi-probe), and at what candidate-volume "
    "cost. Ground truth composes the registered brute-force oracle; "
    "bucket math composes _lsh_bucket_sql — single sources of "
    "truth on both axes. Probing is an 8-literal explode (XOR per "
    "bit), candidates an equi-join on the probed bucket id; recall "
    "integer fixed-point. Scale: the eval runs on a query sample; "
    "production probing is the same equi-join at any corpus size.",
)
def sim_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("_vec")
    )
    b = e.select(
        "vec_id",
        hyperplane_signature(F.col("_vec"), PLANES).alias("bucket"),
    ).localCheckpoint(eager=True)
    q = b.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    p0 = q.select(
        F.lit(0).alias("radius"), "query_id", F.col("bucket").alias("probe")
    )
    p1 = q.select(
        F.lit(1).alias("radius"),
        "query_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(_LSHR_BITS)
                ],
            )
        ).alias("probe"),
    )
    probes = p0.unionByName(p1)
    cand = (
        probes.join(b, probes.probe == b.bucket)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("radius", "query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    bf = (
        sim_ann_bruteforce(spark, sf_dir)
        .select(
            F.col("query_id").alias("bq"),
            F.col("neighbor_id").alias("bn"),
        )
        .localCheckpoint(eager=True)
    )
    truth = bf.agg(F.count("*").cast("bigint").alias("n_truth"))
    ncand = cand.groupBy("radius").agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    hit = (
        cand.join(
            bf,
            (F.col("bq") == F.col("query_id"))
            & (F.col("bn") == F.col("neighbor_id")),
        )
        .groupBy("radius")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    return (
        ncand.join(hit, "radius", "left")
        .crossJoin(truth)
        .select(
            "radius",
            "n_candidates",
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(f"coalesce(n_hit, 0) * {_LSHR_FP} DIV n_truth")
            .cast("bigint")
            .alias("recall_fp"),
        )
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
    disc = local_table(
        spark, [(i + 1, d) for i, d in enumerate(_NDCG_DISCOUNT)], "pos int, d long"
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
