"""Vector similarity operators over `array<float>` embedding columns.

Built-in higher-order functions (`zip_with` / `aggregate`) keep the dot
product JVM-side and codegen'd — no Python UDF in the hot path. The
sequential left-to-right fold order of `F.aggregate` makes results
bit-deterministic (and matchable by an oracle that sums in the same
order).

Scale design: brute-force top-k is O(Q·N) — fine for bounded query
sets; the LSH path (random-hyperplane signatures → equi-join on bucket)
turns all-pairs search into a shuffle on bucket keys, which is the
100 TB-shaped plan. Plane vectors are fixed literals so the bucketing
is reproducible across runs and engines.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import (
    local_table,
    map_columns,
    map_groups,
)

#: id and vector columns of the embeddings relation the numpy vector
#: passes read (:func:`_vector_pass`).
VEC_ID, VEC = "vec_id", "embedding"


def as_double(vec: Column) -> Column:
    """array<float> → array<double> (do all math in double)."""
    return F.transform(vec, lambda x: x.cast("double"))


def vec_norm(vec_d: Column) -> Column:
    """L2 norm via sequential fold (deterministic order)."""
    return F.sqrt(F.aggregate(vec_d, F.lit(0.0), lambda acc, x: acc + x * x))


def dot(a_d: Column, b_d: Column) -> Column:
    return F.aggregate(
        F.zip_with(a_d, b_d, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a_d: Column, b_d: Column, a_norm: Column, b_norm: Column) -> Column:
    return dot(a_d, b_d) / F.nullif(a_norm * b_norm, F.lit(0.0))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach `_vec` (double array) and `_norm` columns."""
    return df.withColumn("_vec", as_double(F.col(vec_col))).withColumn(
        "_norm", vec_norm(F.col("_vec"))
    )


def hyperplane_signature(vec_d: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH: bucket id = bits of sign(v·p_i).

    ``planes`` are literal doubles (callers generate them with a seeded
    RNG) so the signature is reproducible anywhere.
    """
    sig = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        d = dot(vec_d, p)
        sig = sig + F.when(d >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return sig.cast("int")


def sq_l2(a_d: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid (sequential fold —
    bit-deterministic, oracle-matchable)."""
    cvec = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(a_d, cvec, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "_vec",
) -> DataFrame:
    """IVF coarse quantization: (id, centroid_id) for each vector's
    ``n_probe`` nearest centroids (ties broken by centroid index).

    n_probe=1 builds the inverted lists (each corpus vector lands in
    exactly one list); n_probe>1 is the query side's multi-probe. One
    narrow projection + a per-id window over ``len(centroids)`` rows —
    no shuffle of the vectors themselves beyond the explode.
    """
    from pyspark.sql import Window as W

    dists = F.array(*[sq_l2(F.col(vec_col), c) for c in centroids])
    d = df.select(
        F.col(id_col), F.posexplode(dists).alias("centroid_id", "_dist")
    )
    w = W.partitionBy(id_col).orderBy(F.asc("_dist"), F.asc("centroid_id"))
    return (
        d.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= n_probe)
        .select(id_col, F.col("centroid_id").cast("int").alias("centroid_id"))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries × corpus cross join → per-query row_number. The corpus side
    is the big one; Spark broadcasts the (small) query side so the scan
    stays embarrassingly parallel.
    """
    from pyspark.sql import Window as W

    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("_vec").alias("_cvec"),
        F.col("_norm").alias("_cnorm"),
    )
    pairs = c.join(q, F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine",
        cosine(F.col("_qvec"), F.col("_cvec"), F.col("_qnorm"), F.col("_cnorm")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    iterations: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], DataFrame]:
    """Distributed Lloyd's k-means: returns (centroids, assignments).

    The shape that scales: per iteration, ONE hash aggregate over the
    corpus (assign each vector to its nearest centroid via literal
    centroid arrays — broadcast by construction, no join — then
    per-cluster per-dimension sums); only the k·dim centroid matrix
    ever reaches the driver, never vectors. Determinism end-to-end:
    init picks the k lowest-id vectors (no RNG), per-dimension means go
    through fixed-point integer sums (floor(x·1e12) — exact, order-
    independent), ties in the argmin break toward the lower centroid
    index. Same checkpoint-free loop bound as connected_components:
    each iteration's plan reads the source, not the previous
    iteration's lineage.

    Empty clusters keep their previous centroid (the standard Lloyd's
    fallback) rather than dying or resampling nondeterministically.
    """
    init_rows = (
        with_norm(df, vec_col)
        .select(id_col, "_vec")
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if not init_rows:
        raise ValueError("kmeans_fit: input has no vectors")
    dim = len(init_rows[0]._vec)
    centroids = [[float(x) for x in r._vec] for r in init_rows]
    # fewer vectors than k: pad cyclically (deterministic) — the extra
    # clusters stay empty and keep these centroids via the fallback
    while len(centroids) < k:
        centroids.append(list(centroids[len(centroids) % len(init_rows)]))

    vecs = with_norm(df, vec_col).select(id_col, "_vec")
    for _ in range(iterations):
        dists = F.array(*[sq_l2(F.col("_vec"), c) for c in centroids])
        # argmin with ties toward the lower index: array_position finds
        # the FIRST element equal to the minimum
        assigned = vecs.withColumn("_dists", dists).withColumn(
            "cluster",
            F.expr(
                "cast(array_position(_dists, array_min(_dists)) - 1 as int)"
            ),
        )
        sums = assigned.select(
            "cluster",
            *[
                F.floor(F.element_at(F.col("_vec"), i + 1) * 1e12)
                .cast("long")
                .alias(f"s{i}")
                for i in range(dim)
            ],
        ).groupBy("cluster").agg(
            F.count("*").alias("n"),
            *[F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)],
        )
        stats = {r["cluster"]: r for r in sums.collect()}
        new_centroids = []
        for c in range(k):
            r = stats.get(c)
            if r is None or r["n"] == 0:
                new_centroids.append(centroids[c])
            else:
                new_centroids.append(
                    [(r[f"s{i}"] / 1e12) / r["n"] for i in range(dim)]
                )
        if new_centroids == centroids:
            break
        centroids = new_centroids

    dists = F.array(*[sq_l2(F.col("_vec"), c) for c in centroids])
    assignments = (
        vecs.withColumn("_dists", dists)
        .withColumn(
            "cluster",
            F.expr(
                "cast(array_position(_dists, array_min(_dists)) - 1 as int)"
            ),
        )
        .select(id_col, "cluster")
    )
    return centroids, assignments


def ivf_index_save(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: the inverted lists land as parquet
    PARTITIONED BY centroid_id, the centroids as a small side table.

    The layout IS the index — a query probing ``n_probe`` lists reads
    only those partition directories (partition pruning at the file
    level), so query IO scales with probed-list size, not corpus size.
    Build once, query many: the corpus is scanned a single time here
    and never again at query time.
    """
    vecs = df.select(id_col, vec_col).withColumn("_vec", as_double(F.col(vec_col)))
    lists = ivf_assign(vecs, centroids, n_probe=1, id_col=id_col).join(
        vecs.select(id_col, vec_col), id_col
    )
    (
        lists.write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    spark = df.sparkSession
    cent_rows = [(i, list(map(float, c))) for i, c in enumerate(centroids)]
    local_table(
        spark, cent_rows, "centroid_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index: assign each query to its n_probe
    nearest stored centroids, scan ONLY those inverted-list partitions
    (the centroid_id filter prunes at the directory level), exact
    cosine re-rank within the probed lists.

    Returns (query_id, neighbor_id, cosine, rank) — rank fully
    tie-broken by (cosine desc, neighbor id); self-matches excluded,
    same contract as brute_force_topk.
    """
    from pyspark.sql import Window as W

    centroids = [
        r.centroid
        for r in spark.read.parquet(f"{path}/centroids")
        .orderBy("centroid_id")
        .collect()
    ]
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_vec", as_double(F.col("_qv")))
    # checkpoint: probes back two actions (the driver-side probe-id
    # collect and the candidate join) — don't run the assign job twice
    probes = ivf_assign(
        q, centroids, n_probe=n_probe, id_col="query_id"
    ).localCheckpoint(eager=True)
    probe_ids = [r.centroid_id for r in probes.select("centroid_id").distinct().collect()]
    lists = spark.read.parquet(f"{path}/lists").filter(
        F.col("centroid_id").isin(probe_ids)
    )
    # dedup on the ID PAIR before attaching vectors — a safety net that
    # shuffles two longs, not embedding payloads (each corpus vector
    # lives in exactly one list, so this is a no-op in practice)
    cand_ids = (
        probes.join(lists.select("centroid_id", id_col), "centroid_id")
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    corpus_vecs = lists.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("_cv"),
    )
    cand = (
        cand_ids.join(corpus_vecs, "neighbor_id")
        .join(
            q.select("query_id", as_double(F.col("_qv")).alias("_qvd")),
            "query_id",
        )
    )
    scored = cand.filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine(
            F.col("_qvd"),
            F.col("_cv"),
            vec_norm(F.col("_qvd")),
            vec_norm(F.col("_cv")),
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int"))
    )


def pca_fit(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
):
    """Distributed PCA via per-batch Gram accumulation.

    The shape that scales: each Arrow batch of (vec_id, ``vec_col``)
    reduces its vectors to one (d×d partial Gram, d-vector partial sum,
    count) triple inside a :func:`map_columns` pass (numpy matmul —
    vectorized, no per-row Python), the driver sums the batch partials
    (bounded by n_batches · d², never by rows) and eigendecomposes the
    d×d covariance with numpy. Only O(d²) state ever moves; the corpus is
    read once. Returns (components k×d, mean d, explained_variance k).

    Dirty input is rejected, never folded into the Gram matrix: a NULL,
    ragged or non-finite vector raises the :func:`_stack_vectors`
    ValueError naming its id. The longest vector sets d, in each batch
    and across the batches' partials.

    Determinism: component sign is normalized so each component's
    largest-magnitude coordinate is positive; eigenvalues sort
    descending. (Float partial sums are partitioning-sensitive at the
    ulp level, so PCA is an engine+tests operator with property
    assertions, not a hash-checked oracle query — the honest split the
    registry applies to iterative/spectral ops.)
    """

    def partials(batch):
        ids, vecs = batch[VEC_ID], batch[vec_col]
        dim = pc.max(pc.list_value_length(vecs)).as_py() or 0
        x = _stack_vectors(ids, vecs, dim)
        gram, s = [(x.T @ x).ravel()], [x.sum(axis=0)]
        return {VEC_ID: ids[:1], "gram": gram, "s": s, "n": [len(x)]}

    id_type = dict(df.dtypes)[VEC_ID]
    rows = map_columns(
        df.select(VEC_ID, vec_col),
        partials,
        f"{VEC_ID} {id_type}, gram array<double>, s array<double>, n long",
    ).collect()
    dim = max(len(r.s) for r in rows)
    for r in rows:
        if len(r.s) != dim:
            raise ValueError(
                f"vec_id {r[VEC_ID]!r}: {len(r.s)}-element vector, "
                f"expected {dim} elements"
            )
    n = sum(r.n for r in rows)
    mean = np.sum([r.s for r in rows], axis=0) / n
    gram = np.sum([r.gram for r in rows], axis=0).reshape(dim, dim)
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k × d
    # sign convention: largest-|coord| positive
    for i in range(comps.shape[0]):
        j = np.argmax(np.abs(comps[i]))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, mean, evals[order]


def pca_project(df: DataFrame, components, mean) -> DataFrame:
    """Project vectors onto fitted components — distributed, via one
    Arrow-batched matmul per batch (:func:`_vector_pass`);
    components/mean ride along as task-closure literals (k·d doubles,
    broadcast-sized). Returns (vec_id, proj array<double>)."""
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    def project(ids, x):
        return {VEC_ID: ids, "proj": list((x - mu) @ comps.T)}

    return _vector_pass(df, comps.shape[1], project, "proj array<double>")


# Within-cluster pair-join fan-out guard default, mirroring
# dedup.DEFAULT_MAX_BUCKET: above this size a cluster is
# deterministically sub-split before the pair join.
DEFAULT_MAX_CLUSTER = 1000


def _neighbor_counts_grouped(
    guarded: DataFrame, tau: float, label_col: str, id_col: str
) -> DataFrame:
    """Per-slice better-neighbor counts for :func:`semantic_dedup`'s
    guarded path: one Arrow group per (label, _sub) slice (bounded by
    the max_cluster guard), pairwise cosines in numpy over the slice's
    flat vector values.

    Exactness contract (the oracle models the JVM expressions, so this
    must be bit-identical to the former self-join):

    * dot products reproduce ``F.aggregate``'s sequential left-to-right
      float64 fold — elementwise product (IEEE-exact either way), then
      ``np.add.accumulate`` over a 0.0-seeded row (accumulate IS the
      sequential scan; the 0.0 seed covers the -0.0 first-term edge);
    * rows whose vector contains a NULL element are flagged JVM-side
      (``_bad``): in the join formulation every pair touching them has
      a NULL dot → NULL cosine → filtered, so here they join no pair
      (they still surface in the output with count 0, as before). The
      flag is computed in the JVM because Arrow conversion collapses
      NULL and NaN — and the two behave OPPOSITELY downstream;
    * rows whose centroid cosine is NULL (zero norms) are likewise
      flagged: every rank comparison against a NULL is NULL → filtered;
    * genuine NaNs follow Spark's ordering (NaN is the LARGEST value
      and equal to itself): a NaN pair cosine passes ``>= tau``, and
      the rank comparator mirrors that ordering explicitly;
    * a zero norm product is excluded (``nullif`` → NULL in the JVM);
    * vectors of different lengths never pair (zip_with pads with NULL
      → NULL dot), so slices are processed per distinct dimension;
    * two rows with the SAME id never pair (the join's ``_ida != _idb``),
      and the counts of rows sharing an id add up into one output row
      (the join's ``groupBy("_ida")``).
    """
    id_type = dict(guarded.dtypes)[id_col]
    out_schema = f"_ida {id_type}, _n_better bigint"

    def counts(table: pa.Table) -> dict:
        work = table.filter(pc.invert(table["_bad"]))
        vecs = work["_vec"].combine_chunks()
        lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
        better = {}
        for dim in np.unique(lens):
            sel = lens == dim
            n = int(sel.sum())
            if n < 2:
                continue
            mask = pa.array(sel)
            flat = pc.list_flatten(vecs.filter(mask))
            V = flat.to_numpy(zero_copy_only=False).reshape(n, dim)
            sub = work.filter(mask)
            ids = sub[id_col].to_numpy()
            ccv = sub["_cc"].to_numpy()
            norms = sub["_norm"].to_numpy()
            seeded = np.empty((n, dim + 1), dtype="float64")
            seeded[:, 0] = 0.0
            cc_nan = np.isnan(ccv)
            for i in range(n):
                np.multiply(V[i], V, out=seeded[:, 1:])
                dots = np.add.accumulate(seeded, axis=1)[:, -1]
                denom = norms[i] * norms
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / denom
                qual = ((cos >= tau) | np.isnan(cos)) & (denom != 0.0)
                ci = ccv[i]
                if np.isnan(ci):
                    lt = ~cc_nan
                    eq = cc_nan
                else:
                    lt = ccv < ci
                    eq = ccv == ci
                qual &= lt | (eq & (ids < ids[i]))
                qual &= ids != ids[i]
                c = int(np.count_nonzero(qual))
                if c:
                    better[ids[i]] = better.get(ids[i], 0) + c
        return {"_ida": list(better), "_n_better": list(better.values())}

    slim = guarded.select(
        label_col,
        "_sub",
        id_col,
        "_vec",
        "_norm",
        "_cc",
        (
            F.exists(F.col("_vec"), lambda x: x.isNull())
            | F.col("_cc").isNull()
        ).alias("_bad"),
    )
    return map_groups(slim.groupBy(label_col, "_sub"), counts, out_schema)


def semantic_dedup(
    embeddings: DataFrame,
    tau: float,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = DEFAULT_MAX_CLUSTER,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): within each cluster, vectors whose cosine
    similarity exceeds ``tau`` form an epsilon-neighborhood, and only
    the member FARTHEST from the cluster centroid is kept — the paper's
    keep-low-centroid-similarity rule, which preserves the cluster's
    boundary examples and drops its redundant core.

    The cluster key is ``label_col`` (upstream k-means assignment —
    sim_kmeans_assign is the engine's assignment step). The keep
    ranking is (centroid_cosine ASC, id ASC); a vector is removed iff
    some tau-neighbor in its cluster outranks it. This pairwise rule is
    deterministic and engine-reproducible, unlike the paper's
    order-dependent greedy sweep, and agrees with it whenever the
    neighborhood graph is transitive (the common case at high tau).

    Returns one row per vector: (id, label, cent_cos DOUBLE,
    n_better_neighbors BIGINT, removed BOOLEAN).

    Determinism: the centroid is computed in fixed point — per-dimension
    sums of floor(v*1e12) as int64 — so it is exact and
    partitioning-independent; cosine folds are sequential
    (see module docstring). Scale: the only quadratic term is the
    within-cluster pair join. SemDeDup keeps cluster size bounded by
    growing cluster COUNT with the corpus (k ~ sqrt(N) in the paper;
    sim_kmeans_assign is the engine's assignment step), but this
    operator no longer TRUSTS that obligation: ``max_cluster``
    (default ON, ``DEFAULT_MAX_CLUSTER`` = 1000 — the same policy as
    dedup.DEFAULT_MAX_BUCKET) counts cluster sizes first and
    deterministically sub-splits any oversize cluster by a secondary
    hash of the id into ceil(n/max_cluster) slices before the pair
    join, capping fan-out at ~n·max_cluster pairs (linear in n)
    instead of n². The degrade is loud and well-defined: within an
    oversize cluster only same-slice pairs are compared, so
    ``n_better_neighbors`` is an undercount and ``removed`` a SUBSET
    of the unguarded answer (never a false removal); ``cent_cos`` is
    unaffected (centroids are always per original label). Use
    :func:`oversize_clusters` to audit what the guard sub-split —
    at scale those clusters mean the upstream k was too small.
    Fed one degenerate clustering at 100 TB, the unguarded join melts
    silently (measured: the sf1 bench replica keeps 10 labels, so 10x
    rows cost ~100x = 31 s); opt-out (``max_cluster=None``) is the
    special case. The per-label counts are a map-side-combined
    aggregate broadcast back onto the rows — k rows, never a shuffle
    of the corpus. Everything else is hash aggregates and a broadcast
    of the k x d centroid table.
    """
    e = with_norm(embeddings, vec_col).select(
        id_col, label_col, "_vec", "_norm"
    )
    sums = (
        e.select(label_col, F.posexplode(F.col("_vec")).alias("_pos", "_v"))
        .groupBy(label_col, "_pos")
        .agg(F.sum(F.floor(F.col("_v") * 1e12).cast("long")).alias("_s"))
    )
    cent = sums.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_s"))),
            lambda x: x["_s"].cast("double"),
        ).alias("_cvec")
    )
    cent = cent.withColumn("_cnorm", vec_norm(F.col("_cvec")))
    # cc is consumed three times (both pair-join sides + the final
    # left join); eager localCheckpoint materializes the centroid
    # subtree once with reclaimable blocks (same pattern as
    # dedup.py::dedup_ngram_jaccard's shingle relation) instead of
    # recomputing the embeddings scan + fixed-point aggregation 3x.
    cc = (
        e.join(cent, label_col)
        .withColumn(
            "_cc",
            cosine(
                F.col("_vec"), F.col("_cvec"), F.col("_norm"), F.col("_cnorm")
            ),
        )
        .drop("_cvec", "_cnorm")
        .localCheckpoint(eager=True)
    )
    if max_cluster is not None:
        # Per-label sizes: k-row aggregate (map-side combined) broadcast
        # back — the corpus rows are never shuffled for the guard.  The
        # sub-split hash is content_hash64 (md5-based, non-negative) and
        # slice count is integer arithmetic, NOT xxhash64/float-ceil:
        # both are exactly expressible in ANSI SQL, so the DuckDB
        # oracle models the guard and the oracle-checked query stays
        # scale-independent even when clusters exceed the cap.
        from evolution_data_warehouse_spark.operators.dedup import (
            content_hash64,
        )

        counts = cc.groupBy(label_col).agg(F.count("*").alias("_cl_n"))
        guarded = cc.join(counts, label_col).withColumn(
            "_sub",
            content_hash64(F.col(id_col).cast("string"))
            % F.expr(f"(_cl_n + {max_cluster - 1}) div {max_cluster}"),
        )
        # Guarded fast path (r15, guide §4.2): the within-slice pair
        # stage used to be a JVM self-join whose per-pair 64-dim cosine
        # runs through zip_with/aggregate — higher-order functions that
        # Spark evaluates INTERPRETED per element (r15 profile at sf1:
        # 111.8 s executorRunTime in that one stage for ~17M pairs).
        # With the guard ON every (label, _sub) slice is bounded by
        # ~max_cluster rows, so the whole slice fits one Arrow group
        # (arrow_map.map_groups) and the pairwise math runs vectorized
        # in numpy — with the fold's EXACT left-to-right float64
        # addition order reproduced via np.add.accumulate over a
        # 0.0-seeded product row, so every cosine is bit-identical to
        # the JVM expression (r15 A/B: output identical via exceptAll
        # at sf0.1 AND sf1; sf1 same-session min-of-3 5.83 s ->
        # 2.32 s). The unguarded opt-out keeps the JVM join: a
        # degenerate unbounded cluster must melt CPU gradually there,
        # not OOM a Python worker.
        nb = _neighbor_counts_grouped(guarded, tau, label_col, id_col)
        return cc.join(nb, cc[id_col] == nb["_ida"], "left").select(
            id_col,
            label_col,
            F.col("_cc").alias("cent_cos"),
            F.coalesce(F.col("_n_better"), F.lit(0))
            .cast("long")
            .alias("n_better_neighbors"),
            (F.coalesce(F.col("_n_better"), F.lit(0)) > 0).alias("removed"),
        )
    guarded = cc.withColumn("_sub", F.lit(0).cast("bigint"))
    a = guarded.select(
        F.col(label_col).alias("_lbl"),
        F.col("_sub"),
        F.col(id_col).alias("_ida"),
        F.col("_vec").alias("_va"),
        F.col("_norm").alias("_na"),
        F.col("_cc").alias("_cca"),
    )
    b = guarded.select(
        F.col(label_col).alias("_lbl"),
        F.col("_sub"),
        F.col(id_col).alias("_idb"),
        F.col("_vec").alias("_vb"),
        F.col("_norm").alias("_nb"),
        F.col("_cc").alias("_ccb"),
    )
    nb = (
        a.join(b, ["_lbl", "_sub"])
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(
            cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
            >= tau
        )
        .filter(
            (F.col("_ccb") < F.col("_cca"))
            | (
                (F.col("_ccb") == F.col("_cca"))
                & (F.col("_idb") < F.col("_ida"))
            )
        )
        .groupBy("_ida")
        .agg(F.count("*").alias("_n_better"))
    )
    return cc.join(nb, cc[id_col] == nb["_ida"], "left").select(
        id_col,
        label_col,
        F.col("_cc").alias("cent_cos"),
        F.coalesce(F.col("_n_better"), F.lit(0))
        .cast("long")
        .alias("n_better_neighbors"),
        (F.coalesce(F.col("_n_better"), F.lit(0)) > 0).alias("removed"),
    )


#: fixed-point scale for PQ distance arithmetic — floor(v * PQ_SCALE)
#: as int64 makes every distance, argmin, and ADC sum EXACT integer
#: arithmetic (no float summation order to disagree across engines).
PQ_SCALE = 1_000_000


def _stack_vectors(ids: pa.Array, vecs: pa.ListArray, dim: int) -> np.ndarray:
    """The batch's vectors as one (n, dim) float64 matrix, reshaped from
    the list column's flat values (no per-row Python). Rejects, with a
    ValueError naming the first offending id, what the expression forms
    would turn into NULL or undefined codes: a NULL vector, a vector
    whose length is not ``dim`` (ragged), and a NULL, NaN or ±inf
    element (the flat values read a NULL element as NaN)."""
    lens = pc.list_value_length(vecs).to_numpy(zero_copy_only=False)
    bad = np.flatnonzero(lens != dim)
    if len(bad):
        n = lens[bad[0]]
        what = "NULL" if np.isnan(n) else f"{int(n)}-element"
        raise ValueError(
            f"vec_id {ids[bad[0]].as_py()!r}: {what} vector, "
            f"expected {dim} elements"
        )
    x = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
    bad = np.flatnonzero(~np.isfinite(x).all(axis=1))
    if len(bad):
        raise ValueError(
            f"vec_id {ids[bad[0]].as_py()!r}: NULL, NaN or infinite vector element"
        )
    return x


def _fixed_point(x: np.ndarray) -> np.ndarray:
    """floor(x * PQ_SCALE) as int64 — the IEEE multiply + floor the JVM
    expression forms evaluate."""
    return np.floor(x * PQ_SCALE).astype(np.int64)


def _nearest(v: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) nearest-centroid index of each of the m contiguous
    subspaces of the fixed-point rows ``v`` against ``books``
    (m × k × dsub int64): exact int64 squared distances, and numpy
    argmin returns the FIRST minimum — the array_position tie rule of
    :func:`pq_code_from_fixed`."""
    dsub = books.shape[2]
    return np.stack(
        [
            ((v[:, None, j * dsub : (j + 1) * dsub] - book[None]) ** 2)
            .sum(axis=2)
            .argmin(axis=1)
            for j, book in enumerate(books)
        ],
        axis=1,
    )


def _vector_pass(embeddings: DataFrame, dim: int, fn, schema: str) -> DataFrame:
    """The numpy vector passes' shared core: one :func:`map_columns`
    pass over (vec_id, embedding). Per Arrow batch, ``fn(ids, x)`` gets
    the ids untouched (an Arrow array) and the :func:`_stack_vectors`
    matrix and returns the output columns; ``schema`` declares the
    columns after vec_id, whose type is taken from the input (each
    returned array is typed to its declared column)."""
    id_type = dict(embeddings.dtypes)[VEC_ID]

    def run(batch):
        ids = batch[VEC_ID]
        return fn(ids, _stack_vectors(ids, batch[VEC], dim))

    return map_columns(
        embeddings.select(VEC_ID, VEC), run, f"{VEC_ID} {id_type}, {schema}"
    )


def pq_quantize_codebooks(
    codebooks: list[list[list[float]]],
) -> list[list[list[int]]]:
    """Codebook floats → the fixed-point integers the assignment
    actually compares against (round(c * PQ_SCALE))."""
    return [
        [[round(c * PQ_SCALE) for c in cent] for cent in book]
        for book in codebooks
    ]


def pq_assign(
    embeddings: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Product-quantization code assignment (Jégou et al. 2011, the
    standard PQ for billion-scale ANN): the d-dim vector splits into
    m contiguous subspaces; each subspace snaps to its nearest of k
    pinned centroids; the vector compresses to m small codes (here
    m=len(codebooks), k<=16 → one BIGINT packs all codes at 4 bits
    each). Distances are EXACT int64 arithmetic over floor(v*PQ_SCALE)
    fixed-point values, so assignment is bit-deterministic and
    oracle-mirrorable; argmin ties break to the lowest centroid id.

    Scale: codebooks are model-sized literals in the task closure
    (the k·m·d_sub ~ 1k doubles every ADC scan broadcasts); the whole
    assignment is one narrow projection — whole-stage codegen, no
    shuffle, no Python — compressing a 100 TB float table ~32x before
    the ANN scan. Returns (id, code0..code{m-1} INT).
    """
    qbooks = pq_quantize_codebooks(codebooks)
    dsub = len(qbooks[0][0])
    return embeddings.select(
        VEC_ID,
        *[
            pq_code_column(F.col(VEC), book, j * dsub).alias(f"code{j}")
            for j, book in enumerate(qbooks)
        ],
    )


def pq_code_column(
    vec: Column, quantized_book: list[list[int]], dim_start: int
) -> Column:
    """Nearest-centroid code (INT) for the subvector of ``vec``
    starting at 0-based ``dim_start``, against one fixed-point
    codebook (``pq_quantize_codebooks`` output). Array higher-order
    functions, NOT flat per-centroid columns: a k x dsub argmin
    written as k least()/when chains of dsub-term expressions explodes
    whole-stage codegen (a 16x64 coarse book spent minutes in janino
    before this rewrite); transform over the codebook LITERAL keeps
    the expression tree data-sized. Shared by pq_assign and the
    single-scan IVF-PQ search (sim_ivfpq_topk)."""
    dsub = len(quantized_book[0])
    vq = F.transform(
        F.slice(vec, dim_start + 1, dsub),
        lambda x: F.floor(
            x.cast("double") * F.lit(float(PQ_SCALE))
        ).cast("long"),
    )
    return pq_code_from_fixed(vq, quantized_book)


def pq_code_from_fixed(
    vq_sub: Column, quantized_book: list[list[int]]
) -> Column:
    """Nearest-centroid code (INT) for an ALREADY fixed-point subvector
    (array<long> at PQ_SCALE) against one quantized codebook — the
    argmin core shared by raw-space PQ (``pq_code_column`` quantizes
    then delegates here) and rotated-space OPQ (``opq_assign``, whose
    subvectors come out of the integer rotation already fixed-point).
    Exact int64 arithmetic; argmin ties break to the lowest centroid
    id (array_position returns the FIRST match, the same rule as the
    SQL CASE oracle)."""
    book_lit = F.array(
        *[
            F.array(*[F.lit(int(c)) for c in cent])
            for cent in quantized_book
        ]
    )
    dists = F.transform(
        book_lit,
        lambda cent: F.aggregate(
            F.zip_with(cent, vq_sub, lambda c, v: (v - c) * (v - c)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_assign_batch(
    embeddings: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """:func:`pq_assign` as one Arrow-batched numpy pass — same
    (id, code0..code{m-1} INT) output, bit-identical by construction:
    ``floor(x*PQ_SCALE)`` over float64 is the same IEEE multiply+floor
    the JVM evaluates, distances are exact int64, and numpy argmin
    returns the FIRST minimum (the array_position tie rule).

    Exists because the expression form's per-subspace argmin runs
    through transform/zip_with/aggregate — higher-order functions
    Spark evaluates interpreted per element. opq_assign took this
    shape in r12 ("~100x faster than the interpreted form"); r15
    extends it to the unrotated assignment after profiling showed the
    ADC-family sf1 legs spending 9+ s of executorRunTime in the argmin
    folds. No shuffle; partitioning preserved; codebooks ride in the
    task closure (model-sized). Dirty input is rejected, not coded
    (:func:`_vector_pass`).
    """
    qbooks = np.array(pq_quantize_codebooks(codebooks), dtype=np.int64)
    m, _k, dsub = qbooks.shape

    def assign(ids, x):
        codes = _nearest(_fixed_point(x), qbooks)
        return {VEC_ID: ids, **{f"code{j}": codes[:, j] for j in range(m)}}

    schema = ", ".join(f"code{j} int" for j in range(m))
    return _vector_pass(embeddings, m * dsub, assign, schema)


def pq_adc_scan(
    embeddings: DataFrame,
    coarse: list[list[float]],
    codebooks: list[list[list[float]]],
    lut: list[list[int]],
    probes: list[int],
) -> DataFrame:
    """The fused single-pass IVF-PQ compressed-domain scan: coarse
    assignment, probed-list pruning, fine assignment and the ADC sum,
    all inside one Arrow-batched numpy pass over the embeddings scan —
    (id, list_id INT, adc_dist BIGINT) for probed-list rows only.

    Bit-identical to the expression composition it replaces (coarse
    :func:`pq_code_column` → isin filter → per-book fine code +
    element_at LUT terms): every step is exact int64 over the same
    floor(x*PQ_SCALE) fixed-point values, argmin takes the first
    minimum, and the pruned rows never reach the fine stage either
    way. Same §4.2 rationale as :func:`pq_assign_batch`; additionally
    the vectors cross the Python boundary ONCE and only list_id +
    adc_dist come back — at 100 TB this is the scan-speed shape for a
    ~32x-compressed ANN sweep.
    """
    qcoarse = np.array(pq_quantize_codebooks([coarse]), dtype=np.int64)
    qbooks = np.array(pq_quantize_codebooks(codebooks), dtype=np.int64)
    lut_np = np.array(lut, dtype=np.int64)  # m × k
    probe_set = np.array(sorted(probes), dtype=np.int64)
    m = qbooks.shape[0]

    def scan(ids, x):
        vq = _fixed_point(x)
        list_id = _nearest(vq, qcoarse)[:, 0]
        keep = np.isin(list_id, probe_set)
        codes = _nearest(vq[keep], qbooks)
        return {
            VEC_ID: pc.filter(ids, keep),
            "list_id": list_id[keep],
            "adc_dist": lut_np[np.arange(m), codes].sum(axis=1),
        }

    return _vector_pass(
        embeddings, qcoarse.shape[2], scan, "list_id int, adc_dist long"
    )


def pq_adc_lut(
    codebooks: list[list[list[float]]], query: list[float]
) -> list[list[int]]:
    """Asymmetric-distance lookup tables for a query vector: per
    subspace j and centroid c, the EXACT fixed-point squared distance
    from the query's subspace to the centroid. ADC distance of any
    coded vector is then Σ_j lut[j][code_j] — m table lookups instead
    of d multiplications, the PQ scan trick."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    qbooks = pq_quantize_codebooks(codebooks)
    qq = [
        [round(query[j * dsub + i] * PQ_SCALE) for i in range(dsub)]
        for j in range(m)
    ]
    return [
        [
            sum((qq[j][i] - cent[i]) ** 2 for i in range(dsub))
            for cent in qbooks[j]
        ]
        for j in range(m)
    ]


def pq_probe_lists(
    coarse: list[list[float]], query: list[float], n_probe: int
) -> list[int]:
    """The IVF lists to probe for a query: the ``n_probe`` coarse
    centroids nearest to the query under the ADC-side metric — the
    query is quantized with ``round(x*PQ_SCALE)`` exactly as
    :func:`pq_adc_tables` does (note :func:`pq_assign` floors the
    *database* vectors; the probe choice is still reproducible in the
    oracle builder because both sides share this driver-side
    computation), ties to the lowest list id. Driver-side model-sized
    arithmetic — k·d integers."""
    qc = pq_quantize_codebooks([coarse])[0]
    qq = [round(x * PQ_SCALE) for x in query]
    dists = [
        (sum((qq[i] - cent[i]) ** 2 for i in range(len(cent))), lid)
        for lid, cent in enumerate(qc)
    ]
    return [lid for _, lid in sorted(dists)[:n_probe]]


# Fixed-point scale of the OPQ rotation matrix entries; the rotated
# coordinate is computed entirely in int64 — Σ round(R·1e6)·floor(x·1e6)
# then an exact floor-division back to PQ_SCALE — so rotation is
# bit-deterministic and oracle-mirrorable (integer sums commute; no
# float summation-order hazard crosses the engine/oracle boundary).
OPQ_R_SCALE = 1_000_000


def opq_quantize_rotation(rotation: list[list[float]]) -> list[list[int]]:
    """Rotation floats → the fixed-point integers the rotated
    assignment actually multiplies by (round(r * OPQ_R_SCALE))."""
    return [[round(r * OPQ_R_SCALE) for r in row] for row in rotation]


def opq_assign(
    embeddings: DataFrame,
    rotation: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Optimized-product-quantization code assignment (Ge et al. 2013,
    parametric OPQ): rotate each vector by the learned orthogonal R
    (PCA basis with eigenvalue allocation — tools/train_opq.py), then
    snap each rotated subspace to its nearest codebook centroid —
    exactly ``pq_assign`` at the same m·k code budget, just in the
    rotated space where subspace variances are balanced. Entirely
    exact int64 arithmetic end to end — z = floordiv(R_int · vq,
    OPQ_R_SCALE) with vq = floor(x·PQ_SCALE), R_int = round(R·1e6);
    magnitudes: 64-term sums ≤ ~1.3e14, distances ≤ ~1.3e14, both
    inside int64 — so assignment is bit-deterministic and
    oracle-mirrorable; argmin ties break to the lowest centroid id
    (numpy argmin returns the FIRST min, the array_position rule).

    Scale: one :func:`_vector_pass` — the rotation is a dense
    64×64 int64 matmul per batch, which vectorized numpy does ~100×
    faster than Catalyst's interpreted higher-order functions (the
    expression form was measured at ~10 ms/row on this table — a
    transform-over-literal lambda re-walks the 4096-entry rotation per
    row; pq_assign's per-subspace argmin survives as expressions
    because its tree is 32× smaller). R and the codebooks ride in the
    task closure (model-sized); no shuffle, partitioning preserved."""
    qrot = np.array(opq_quantize_rotation(rotation), dtype=np.int64)
    qbooks = np.array(pq_quantize_codebooks(codebooks), dtype=np.int64)
    m = qbooks.shape[0]

    def assign(ids, x):
        # numpy // floors, = the SQL mirror
        codes = _nearest((_fixed_point(x) @ qrot.T) // OPQ_R_SCALE, qbooks)
        return {VEC_ID: ids, **{f"code{j}": codes[:, j] for j in range(m)}}

    schema = ", ".join(f"code{j} int" for j in range(m))
    return _vector_pass(embeddings, qrot.shape[1], assign, schema)


def opq_rotated_energy(
    embeddings: DataFrame,
    rotation: list[list[float]],
    k: int,
) -> DataFrame:
    """Per-vector spectral energy capture under the learned orthogonal
    rotation: (id, energy, captured_k) where energy = Σ vq² over the
    fixed-point vector and captured_k = Σ z² over the FIRST ``k``
    rotated components (z = R_int·vq // OPQ_R_SCALE — byte-for-byte
    the :func:`opq_assign` rotation spec, so the oracle's rotation CTE
    mirrors it exactly). With R a PCA basis, captured_k/energy is the
    fraction of the vector a k-dim linear truncation retains — the
    per-vector audit behind dimensionality-reduction decisions.

    Same execution shape as :func:`opq_assign`: one Arrow-batched
    numpy int64 matmul per batch, no shuffle, partitioning preserved.
    Magnitudes: |vq| <= ~1e6 ⇒ per-term squares <= ~1e12, 64-term sums
    <= ~6.5e13 — inside int64 with margin.
    """
    qrot = np.array(opq_quantize_rotation(rotation), dtype=np.int64)

    def energize(ids, x):
        vq = _fixed_point(x)
        z = (vq @ qrot[:k].T) // OPQ_R_SCALE
        return {
            VEC_ID: ids,
            "energy": (vq * vq).sum(axis=1),
            "captured_k": (z * z).sum(axis=1),
        }

    return _vector_pass(
        embeddings, qrot.shape[1], energize, "energy long, captured_k long"
    )


def opq_rotate_query(
    rotation: list[list[float]], query: list[float]
) -> list[int]:
    """Driver-side exact-integer rotation of a query vector into the
    OPQ fixed-point domain (scale PQ_SCALE) — the query-side twin of
    :func:`opq_rotate_fixed`, except the query quantizes with round()
    exactly as :func:`pq_adc_lut` does for unrotated PQ. Python ints,
    so no overflow and bit-identical wherever it runs (the oracle
    builder shares this function)."""
    qrot = opq_quantize_rotation(rotation)
    qi = [round(x * PQ_SCALE) for x in query]
    out = []
    for row in qrot:
        z = sum(r * v for r, v in zip(row, qi))
        fm = ((z % OPQ_R_SCALE) + OPQ_R_SCALE) % OPQ_R_SCALE
        out.append((z - fm) // OPQ_R_SCALE)
    return out


def opq_adc_lut(
    codebooks: list[list[list[float]]], rotated_query: list[int]
) -> list[list[int]]:
    """ADC lookup tables in the ROTATED fixed-point domain: per
    subspace j and centroid c, the exact int64 squared distance from
    the rotated query (``opq_rotate_query`` output, already at
    PQ_SCALE) to the quantized centroid. The OPQ twin of
    :func:`pq_adc_lut` — same m-lookups-per-row compressed-domain
    scan, same code budget."""
    qbooks = pq_quantize_codebooks(codebooks)
    dsub = len(codebooks[0][0])
    return [
        [
            sum(
                (rotated_query[j * dsub + i] - cent[i]) ** 2
                for i in range(dsub)
            )
            for cent in qbooks[j]
        ]
        for j in range(len(codebooks))
    ]


def oversize_clusters(
    embeddings: DataFrame,
    label_col: str = "label",
    max_cluster: int = DEFAULT_MAX_CLUSTER,
) -> DataFrame:
    """The clusters :func:`semantic_dedup` would sub-split under
    ``max_cluster``: (label, cluster_n, n_slices) for every cluster
    whose membership exceeds the guard. Use this to audit/report where
    the guard degraded the neighborhood to same-slice pairs — at scale
    these rows mean the upstream k-means k was too small for the
    corpus (SemDeDup wants k ~ sqrt(N)). Mirror of dedup.hot_buckets."""
    return (
        embeddings.groupBy(label_col)
        .agg(F.count("*").alias("cluster_n"))
        .filter(F.col("cluster_n") > max_cluster)
        .withColumn(
            "n_slices",
            F.ceil(F.col("cluster_n") / F.lit(max_cluster)).cast("long"),
        )
    )
