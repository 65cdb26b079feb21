"""Deduplication queries (``dedup_*``, ``er_*``): exact and normalized
hashing, MinHash-LSH and its clusterings, substring, semantic, image
and audio near-duplicate detection, and entity-resolution blocking.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.datapipe import incremental_new
from evolution_data_warehouse_spark.operators.dedup import (
    cap_lsh_buckets,
    cap_shingle_df,
    connected_components,
    content_hash64,
    content_hash64_sql,
    cross_substring_maximal,
    cross_substring_spans,
    DEFAULT_MAX_BUCKET,
    DEFAULT_MAX_SHINGLE_DF,
    lsh_bands,
    materialize_bands,
    MERSENNE_P,
    MINHASH_COEFFS,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    minhash_signature,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    simhash,
    SIMHASH_BITS,
    window_spans,
)
from evolution_data_warehouse_spark.operators.similarity import (
    as_double,
    cosine,
    hyperplane_signature,
    vec_norm,
    with_norm,
)
from evolution_data_warehouse_spark.operators.textops import (
    lower_tokens,
    lower_tokens_sql,
)
from evolution_data_warehouse_spark.queries.common import cpu_repartition, register, t
from evolution_data_warehouse_spark.queries.multimodal import (
    afp_family_signal,
    image_dhashes,
)
from evolution_data_warehouse_spark.queries.scalar_fns import URL_RAW_SQL
from evolution_data_warehouse_spark.queries.similarity import (
    DIM,
    dot_sql,
    PLANES,
    sqnorm_sql,
)
from evolution_data_warehouse_spark.queries.text import (
    doc_shingles,
    SHINGLE_OVERLAP_SQL,
)


@register(
    "dedup_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="Full-row dedup (drop_duplicates). Ref: notebook cell 4/8/9. "
    "Spark: hash-aggregate distinct, map-side partial.",
)
def dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").dropDuplicates()


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
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

_JACCARD_MIN = 0.1


SHINGLES_SQL = f"""
SELECT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, {lower_tokens_sql('text')} AS toks FROM documents)
)
"""


_NGRAM_ORACLE = f"""
WITH sh0 AS ({SHINGLES_SQL}),
{SHINGLE_OVERLAP_SQL}
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE)
       / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE)
      / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= {_JACCARD_MIN}
"""


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
    # Join on the 60-bit shingle hash, not the string: ~10x smaller
    # shuffle payload for the self-join, identical counts (and the same
    # hash on the oracle side). Reused three times (sizes + both join
    # sides); eager localCheckpoint materializes once with reclaimable
    # blocks instead of a cache pinned until an unpersist nobody owns.
    # The df cap runs BEFORE the checkpoint so the materialized relation
    # is already hot-key-free.
    sh = (
        cap_shingle_df(
            doc_shingles(spark, sf_dir).select(
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


_COSINE_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, embedding,
           sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ({dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) >= {_COS_MIN}
"""


@register(
    "dedup_embedding_cosine",
    _COSINE_ORACLE,
    doc="Embedding-cosine near-dup with label blocking (pairs only within "
    "a label bucket — the blocking key that keeps all-pairs sub-quadratic; "
    "at scale the LSH signature replaces the label as bucket).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = with_norm(t(spark, sf_dir, "embeddings"))
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
        "cosine", cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    )
    return out.filter(F.col("cosine") >= _COS_MIN).select("vec_a", "vec_b", "cosine")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup, SimHash, hyperplane-LSH ANN
# ---------------------------------------------------------------------------
def _band_selects(n_bands: int, rows_per_band: int) -> str:
    """UNION ALL of every (doc_id, band, band_key) row over the ``mh``
    signature CTE, for one banding of the signature."""
    selects = []
    for b in range(n_bands):
        cols = [f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
        key = (
            "concat_ws('|', "
            + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            + ")"
        )
        selects.append(f"SELECT doc_id, {b} AS band, {key} AS band_key FROM mh")
    return " UNION ALL ".join(selects)


def guarded_bands_sql(src: str) -> str:
    """Band rows of ``src`` minus hot buckets — the engine's default-on
    guard, with DEFAULT_MAX_BUCKET interpolated so engine and oracle
    cannot diverge silently."""
    return f"""SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
        FROM {src}
    ) WHERE bucket_n <= {DEFAULT_MAX_BUCKET}"""


def _mh_sql_fragments() -> dict[str, str]:
    """Shared SQL fragments for every MinHash oracle: the universal-hash
    input, the K minima aggregate, the banded-key expansion, the
    equal-minhash count, the ``sh``/``h``/``mh`` signature CTEs and the
    corpus-vs-batch candidate CTEs of the incremental index. One source
    of truth — a change to coefficient handling or band-key formatting
    cannot silently diverge one oracle.
    """
    hm = f"{content_hash64_sql('shingle')} % {MERSENNE_P}"
    mh_cols = ", ".join(
        f"MIN(({a} * hm + {b}) % {MERSENNE_P}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    )
    bands = _band_selects(N_BANDS, ROWS_PER_BAND)
    eq = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )
    signatures = f"""sh AS ({SHINGLES_SQL}),
h AS (SELECT doc_id, {hm} AS hm FROM sh),
mh AS (SELECT doc_id, {mh_cols} FROM h GROUP BY doc_id)"""
    # doc_id % 5 == 0 stands in for today's ingest batch; the corpus
    # side carries the hot-bucket guard
    batch_candidates = f"""bands_all AS ({bands}),
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
)"""
    return {
        "hm": hm,
        "mh_cols": mh_cols,
        "bands": bands,
        "eq": eq,
        "signatures": signatures,
        "batch_candidates": batch_candidates,
    }


MH_SQL = _mh_sql_fragments()


def _minhash_oracle() -> str:
    # Mirrors minhash_lsh_pairs' default-on hot-bucket guard, and the
    # window-count formulation matches the engine's plan shape.
    return f"""
WITH {MH_SQL["signatures"]},
bands_raw AS ({MH_SQL["bands"]}),
bands AS (
    {guarded_bands_sql("bands_raw")}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(({MH_SQL["eq"]}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) AS est_jaccard
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
    return minhash_lsh_pairs(doc_shingles(spark, sf_dir))


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
    SELECT doc_id, unnest({lower_tokens_sql('text')}) AS token FROM documents
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
        "doc_id", F.explode(lower_tokens("text")).alias("token")
    )
    sig = simhash(tokens)
    return sig.select(
        "doc_id",
        "simhash",
        F.min("doc_id").over(W.partitionBy("simhash")).alias("canonical_doc_id"),
    )


# ---------------------------------------------------------------------------
# dedup clustering (connected components) + TF-IDF scoring
# ---------------------------------------------------------------------------
CLUSTERS_ORACLE = f"""
WITH RECURSIVE
sh AS ({SHINGLES_SQL}),
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
    CLUSTERS_ORACLE,
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
        doc_shingles(spark, sf_dir), sig_storage="checkpoint"
    ).select("doc_a", "doc_b")
    return connected_components(docs, pairs)


_KEEP_CANONICAL_ORACLE = f"""
WITH clusters AS ({CLUSTERS_ORACLE})
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


_EMB_LSH_COS_MIN = 0.15


def _emb_lsh_pairs_oracle() -> str:
    plane_terms = []
    for i, plane in enumerate(PLANES):
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
           sqrt({sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ({dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ({dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0)
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
    e = (
        t(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("_vec"))
        .withColumn("bucket", hyperplane_signature(F.col("_vec"), PLANES))
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


def _minhash_incr_oracle() -> str:
    return f"""
WITH {MH_SQL["signatures"]},
{MH_SQL["batch_candidates"]}
SELECT corpus_id, batch_id,
       CAST(({MH_SQL["eq"]}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) AS est_jaccard
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
    sh = doc_shingles(spark, sf_dir)

    corpus = sh.filter(F.col("doc_id") % 5 != 0)
    batch = sh.filter(F.col("doc_id") % 5 == 0)
    return minhash_lsh_pairs_incremental(corpus, batch)


# --------------------------------------------------------------------------
# incremental dedup (new batch vs corpus)
# --------------------------------------------------------------------------

_INCR_ORACLE = """
SELECT d.doc_id, md5(d.text) AS content_hash
FROM documents d
WHERE d.source = 'src1' AND NOT EXISTS (
    SELECT 1 FROM documents c
    WHERE c.source <> 'src1' AND md5(c.text) = md5(d.text)
)
"""


@register(
    "dedup_incremental",
    _INCR_ORACLE,
    doc="Incremental exact dedup: new-batch docs (source 'src1' stands "
    "in for today's ingest) whose content hash is absent from the "
    "existing corpus — anti-join on the hash, corpus side pruned to "
    "one column.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("source") == "src1")
    corpus = docs.filter(F.col("source") != "src1")
    return incremental_new(batch, corpus).select("doc_id", "content_hash")


# ---------------------------------------------------------------------------
# URL-keyed exact dedup (canonicalize → keep-first composition)
# ---------------------------------------------------------------------------

_URL_DEDUP_ORACLE = f"""
WITH raw AS (SELECT doc_id, {URL_RAW_SQL} AS url FROM documents),
canon AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\\.', ''),
               ':443$', '')
           || regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               AS host_path,
           doc_id % 11 AS dup_group
    FROM raw
),
keyed AS (
    -- collapse to a deliberately colliding key (host + dup_group) so
    -- the keep-first actually has duplicates to resolve
    SELECT doc_id,
           regexp_extract(host_path, '^([^/]+)', 1) || '#' || dup_group
               AS url_key
    FROM canon
)
SELECT url_key,
       MIN(doc_id) AS canonical_doc,
       COUNT(*) AS n_dups
FROM keyed GROUP BY url_key
"""


@register(
    "dedup_url_canonical",
    _URL_DEDUP_ORACLE,
    doc="URL-keyed exact dedup: canonical host (the "
    "fn_url_canonicalize pipeline) bucketed into colliding keys, then "
    "keep-lowest-doc-id per key with the duplicate count — the "
    "crawl-frontier dedup that runs BEFORE content hashing (same URL "
    "→ skip the fetch/decode entirely at 100 TB). One hash aggregate "
    "on the key; map-side combine collapses duplicates before the "
    "shuffle.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=c"), (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=kept#sec"), (F.col("doc_id") % 5).cast("string"),
    )
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.", ""),
        r":443$", "")
    path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    host_path = F.concat(host, path)
    url_key = F.concat(
        F.regexp_extract(host_path, r"^([^/]+)", 1),
        F.lit("#"),
        (F.col("doc_id") % 11).cast("string"),
    )
    return (
        docs.select("doc_id", url_key.alias("url_key"))
        .groupBy("url_key")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Fuzzy-name entity resolution (blocked Levenshtein)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH recs AS (
    SELECT c_custkey * 2 AS rec_id, c_name AS name FROM customer
    UNION ALL
    SELECT c_custkey * 2 + 1 AS rec_id,
           CASE c_custkey % 3
               WHEN 0 THEN substr(c_name, 1, length(c_name) - 1) || 'X'
               WHEN 1 THEN substr(c_name, 1, length(c_name) - 1)
               ELSE c_name || '2'
           END AS name
    FROM customer
),
blocked AS (
    SELECT rec_id, name, substr(name, 1, 17) AS block_key FROM recs
)
SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
FROM blocked a JOIN blocked b
  ON a.block_key = b.block_key AND a.rec_id < b.rec_id
WHERE levenshtein(a.name, b.name) <= 1
"""


@register(
    "dedup_fuzzy_names",
    _FUZZY_ORACLE,
    doc="Fuzzy-name entity resolution (the MDM/customer-dedup "
    "primitive): a dirty registry of clean + typo'd records, blocked "
    "on a name prefix so the Levenshtein comparison runs only within "
    "blocks — candidate pairs scale with block size², never registry² "
    "(the same bounded-bucket discipline as LSH banding). Edit "
    "distance is built-in (JVM levenshtein on both engines, exact "
    "integers).",
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    clean = cust.select(
        (F.col("c_custkey") * 2).alias("rec_id"), F.col("c_name").alias("name")
    )
    variant_name = (
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.concat(F.col("c_name"), F.lit("2")))
    )
    dirty = cust.select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        variant_name.alias("name"),
    )
    recs = clean.unionByName(dirty).withColumn(
        "block_key", F.substring("name", 1, 17)
    )
    a, b = recs.alias("a"), recs.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .filter(lev <= 1)
        .select(
            F.col("a.rec_id").alias("rec_a"),
            F.col("b.rec_id").alias("rec_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            lev.cast("int").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# span-level exact-substring dedup (Lee et al. 2022, window-hash shape)
# ---------------------------------------------------------------------------

_SPAN_W = 5


_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {lower_tokens_sql('text')} AS tk FROM documents),
wins AS (
    SELECT doc_id, len(tk) AS n_tokens, CAST(i AS BIGINT) AS pos,
           {content_hash64_sql(f"array_to_string(tk[i:i+{_SPAN_W - 1}], ' ')")} AS h
    FROM toks, LATERAL unnest(range(1, len(tk) - {_SPAN_W} + 2)) t(i)
    WHERE len(tk) >= {_SPAN_W}
),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
d AS (SELECT w.doc_id, w.n_tokens, w.pos FROM wins w JOIN dup USING (h)),
isl0 AS (
    SELECT doc_id, n_tokens, pos,
           MAX(pos + {_SPAN_W} - 1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM d
),
isl AS (
    SELECT doc_id, n_tokens, pos,
           SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM isl0
),
spans AS (
    SELECT doc_id, ANY_VALUE(n_tokens) AS n_tokens, island,
           COUNT(*) AS n_windows,
           MIN(pos) AS span_start,
           MAX(pos) + {_SPAN_W} - 1 AS span_end
    FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(ANY_VALUE(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_windows) AS BIGINT) AS n_dup_windows,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
FROM spans GROUP BY doc_id
"""


@register(
    "dedup_substring_spans",
    _SPAN_ORACLE,
    doc="Span-level exact-substring dedup (the window-hash reshaping of "
    "Lee et al. 2022's suffix-array method; operators/dedup.py::"
    "window_spans): every 5-token sliding window is 60-bit-hashed, a "
    "window duplicated >= 2 times corpus-wide marks its positions, and "
    "a per-document gaps-and-islands pass merges overlapping windows "
    "into maximal spans — the output says WHICH token ranges to cut "
    "(doc-level Jaccard/minhash only say which docs look alike). "
    "All-integer output, so exactly engine-reproducible. Strictly "
    "linear: explode -> hash aggregate -> join back on the hash — the "
    "corpus is never self-joined, and the island sort runs only over "
    "the duplicated windows (a few percent of all windows on real "
    "corpora). The reference has no substring-level operator at all "
    "(its dedup is row-level DISTINCT, transformation/nettoyage.py).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", lower_tokens("text").alias("tk")
    )
    return window_spans(docs, w=_SPAN_W)


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
    from evolution_data_warehouse_spark.operators.phash import dhash_pairs

    hashes = image_dhashes(spark, sf_dir)
    return dhash_pairs(hashes, max_dist=2)


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
                sig = afp_family_signal(int(doc_id))
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
# Corpus-level line dedup — the C4/RefinedWeb cross-document pass
# ---------------------------------------------------------------------------

_LINE_TOKENS = 10


_LINE_DEDUP_ORACLE = f"""
WITH d AS (
    SELECT doc_id, {lower_tokens_sql("COALESCE(text, '')")} AS tk
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
    toks = lower_tokens(text)
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
# dedup_threshold_sweep — near-dup threshold calibration curve
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (100_000, 300_000, 500_000, 700_000, 900_000)


_SWEEP_FP = 1_000_000


def _sweep_oracle() -> str:
    thr_list = ", ".join(str(x) for x in _SWEEP_THRESHOLDS)
    return f"""
WITH sh0 AS ({SHINGLES_SQL}),
shu AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                  AS shingle_h
       FROM sh0),
sh AS (SELECT doc_id, shingle_h FROM shu
       QUALIFY COUNT(*) OVER (PARTITION BY shingle_h)
               <= {DEFAULT_MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b,
           (n_common * {_SWEEP_FP})
               // (sa.n_sh + sb.n_sh - n_common) AS jac_fp
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
),
thr_list AS (SELECT unnest([{thr_list}]) AS thr),
swept AS (
    SELECT t.thr, p.doc_a, p.doc_b
    FROM pairs p JOIN thr_list t ON p.jac_fp >= t.thr
),
pair_counts AS (
    SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM swept GROUP BY thr
),
doc_counts AS (
    SELECT thr, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs_flagged
    FROM (
        SELECT thr, unnest([doc_a, doc_b]) AS doc FROM swept
    ) GROUP BY thr
)
SELECT t.thr,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(d.n_docs_flagged, 0) AS BIGINT) AS n_docs_flagged
FROM thr_list t
LEFT JOIN pair_counts p ON p.thr = t.thr
LEFT JOIN doc_counts d ON d.thr = t.thr
"""


@register(
    "dedup_threshold_sweep",
    _sweep_oracle(),
    doc="Near-dup threshold calibration curve: the exact n-gram "
    "Jaccard pair relation (dedup_ngram_jaccard's df-capped shingle "
    "self-join, jaccard as int64 floor division at 1e6 fixed point — "
    "no float ranks) swept across five pinned thresholds, reporting "
    "pairs and distinct flagged documents per threshold. This is the "
    "table a pipeline owner reads to PICK the dedup threshold before "
    "committing a 100 TB pass (too loose deletes real data, too "
    "strict leaves boilerplate). Every threshold appears in the "
    "output even at zero pairs (left join from the pinned literal "
    "list — a silent-vanish would read as 'no dupes'). Plan: the "
    "expensive pair relation is computed ONCE and checkpoint-pinned, "
    "then the sweep is an explode over 5 literals + two small "
    "aggregates; the hot-shingle df cap keeps the self-join linear "
    "exactly as in the parent query.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (
        cap_shingle_df(
            doc_shingles(spark, sf_dir).select(
                "doc_id",
                content_hash64(F.col("shingle")).alias("shingle_h"),
            )
        )
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    pairs = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                f"(n_common * {_SWEEP_FP})"
                " DIV (sa.n_sh + sb.n_sh - n_common)"
            ).alias("jac_fp"),
        )
        .localCheckpoint(eager=True)
    )
    thr_arr = F.array(*[F.lit(x) for x in _SWEEP_THRESHOLDS])
    swept = pairs.select(
        F.explode(thr_arr).alias("thr"), "doc_a", "doc_b", "jac_fp"
    ).filter(F.col("jac_fp") >= F.col("thr"))
    pair_counts = swept.groupBy("thr").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    doc_counts = (
        swept.select(
            "thr", F.explode(F.array("doc_a", "doc_b")).alias("doc")
        )
        .groupBy("thr")
        .agg(F.countDistinct("doc").cast("bigint").alias("n_docs_flagged"))
    )
    thr_df = spark.range(1).select(F.explode(thr_arr).alias("thr"))
    return (
        thr_df.join(F.broadcast(pair_counts), "thr", "left")
        .join(F.broadcast(doc_counts), "thr", "left")
        .select(
            "thr",
            F.coalesce("n_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.coalesce("n_docs_flagged", F.lit(0))
            .cast("bigint")
            .alias("n_docs_flagged"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_minhash_recall_eval — LSH recall against exact Jaccard ground truth
# ---------------------------------------------------------------------------

_RECALL_EXACT_FP = 800_000  # ground truth: exact Jaccard >= 0.8


_RECALL_FP = 1_000_000


def _recall_oracle() -> str:
    return f"""
WITH sh0 AS ({SHINGLES_SQL}),
shu AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                  AS shingle_h
       FROM sh0),
shc AS (SELECT doc_id, shingle_h FROM shu
        QUALIFY COUNT(*) OVER (PARTITION BY shingle_h)
                <= {DEFAULT_MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM shc a JOIN shc b
      ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
exact AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (n_common * {_RECALL_FP}) // (sa.n_sh + sb.n_sh - n_common)
          >= {_RECALL_EXACT_FP}
),
{MH_SQL["signatures"]},
bands_raw AS ({MH_SQL["bands"]}),
bands AS (
    {guarded_bands_sql("bands_raw")}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
hit AS (
    SELECT e.doc_a, e.doc_b FROM exact e
    JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       CAST(CASE WHEN (SELECT COUNT(*) FROM exact) = 0
            THEN {_RECALL_FP}
            ELSE ((SELECT COUNT(*) FROM hit) * {_RECALL_FP})
                 // (SELECT COUNT(*) FROM exact) END AS BIGINT)
           AS recall_fp
"""


@register(
    "dedup_minhash_recall_eval",
    _recall_oracle(),
    doc="LSH recall evaluation: what fraction of TRUE near-dup pairs "
    "(exact n-gram Jaccard >= 0.8 over the df-capped shingle "
    "relation) does the banded MinHash candidate generation actually "
    "surface? The index-quality metric a pipeline owner checks "
    "before trusting dedup_minhash_lsh's parameters (16 hashes, 4x4 "
    "bands => ~98.6% theoretical recall at j=0.9, ~67% at j=0.7 — "
    "this entry measures the REAL number on the real corpus, the "
    "companion to dedup_threshold_sweep's threshold calibration). "
    "Both legs reuse the exact shared machinery of their parent "
    "queries (one source of truth for shingles, coefficients, band "
    "keys, and both hot-key guards); recall is integer fixed-point "
    "with the vacuous zero-truth case pinned to 1e6. Scale: the two "
    "pair relations are each guarded-linear; the hit join is "
    "pair-keyed.",
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingled = doc_shingles(spark, sf_dir).localCheckpoint(eager=True)
    shc = cap_shingle_df(
        shingled.select(
            "doc_id", content_hash64(F.col("shingle")).alias("shingle_h")
        )
    ).localCheckpoint(eager=True)
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = shc.alias("a"), shc.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    exact = (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_sh", "na"
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_sh", "nb"
            ),
            "doc_b",
        )
        .filter(
            F.expr(
                f"(n_common * {_RECALL_FP}) DIV (na + nb - n_common)"
                f" >= {_RECALL_EXACT_FP}"
            )
        )
        .select("doc_a", "doc_b")
        # pinned: n_exact and the hit join both consume this relation —
        # without the checkpoint each of the three counts below would
        # recompute the full pair self-join (measured 112 s -> see
        # SCALE.md before/after)
        .localCheckpoint(eager=True)
    )
    # candidate PAIRS only — minhash_lsh_pairs also joins signatures
    # back for est_jaccard, two joins recall never reads; building the
    # band self-join directly keeps this leg pairs-only
    sig = minhash_signature(shingled)
    # materialized once: AQE does not stage-reuse the guarded band
    # subtree across the self-join's two sides, so without this both
    # sides recompute the signature aggregate + band expansion + guard
    # window (see operators.dedup.materialize_bands).
    bands = materialize_bands(
        cap_lsh_buckets(lsh_bands(sig), DEFAULT_MAX_BUCKET)
    )
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hit = exact.join(cand, ["doc_a", "doc_b"])
    n_exact = exact.count()
    n_cand = cand.count()
    n_hit = hit.count()
    recall = (
        _RECALL_FP if n_exact == 0 else (n_hit * _RECALL_FP) // n_exact
    )
    return spark.createDataFrame(
        [(n_exact, n_cand, n_hit, recall)],
        "n_exact bigint, n_candidates bigint, n_hit bigint, recall_fp bigint",
    )


# ---------------------------------------------------------------------------
# dedup_cluster_size_hist — duplicate-cluster size distribution
# ---------------------------------------------------------------------------


def _cluster_hist_oracle() -> str:

    return f"""
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
    FROM ({CLUSTERS_ORACLE}) GROUP BY cluster_id
) GROUP BY sz
"""


@register(
    "dedup_cluster_size_hist",
    _cluster_hist_oracle(),
    doc="Duplicate-cluster size distribution — the corpus-structure "
    "report read off dedup_clusters' connected components (size-1 "
    "clusters are unique docs; a long tail of large clusters means "
    "boilerplate the keep-one-per-cluster pass will collapse, and "
    "sizes near the hot-bucket cap say the LSH guard is doing real "
    "work). Composes the REGISTERED dedup_clusters callable (its "
    "oracle as a subquery) so the histogram can never drift from the "
    "actual cluster assignment; two tiny integer aggregates on top. "
    "n_docs per size row makes the histogram a partition of the "
    "corpus — the oracle catches a lost or double-counted document.",
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:

    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# dedup_substring_cross — cross-document ExactSubstr (Lee et al. 2022)
# ---------------------------------------------------------------------------

_XS_W = 5


_XS_MAX_DF = 1000  # anchor-frequency guard, interpolated into the
# oracle below so engine and oracle can never diverge silently (same
# pattern as DEFAULT_MAX_BUCKET / DEFAULT_MAX_SHINGLE_DF)


# toks → wins (every _XS_W-token window, hashed) → anch (the windows
# whose hash occurs in 2.._XS_MAX_DF places): the anchor CTEs of both
# substring oracles
_XS_ANCHORS_SQL = f"""toks AS (SELECT doc_id, {lower_tokens_sql('text')} AS tk FROM documents),
wins AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           {content_hash64_sql(f"array_to_string(tk[i:i+{_XS_W - 1}], ' ')")} AS h
    FROM toks, LATERAL unnest(range(1, len(tk) - {_XS_W} + 2)) t(i)
    WHERE len(tk) >= {_XS_W}
),
anch AS (
    SELECT doc_id, pos, h FROM (
        SELECT doc_id, pos, h, COUNT(*) OVER (PARTITION BY h) AS df
        FROM wins
    ) WHERE df BETWEEN 2 AND {_XS_MAX_DF}
)"""


_XS_ORACLE = f"""
WITH {_XS_ANCHORS_SQL},
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
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", lower_tokens("text").alias("tk")
    )
    return cross_substring_spans(docs, w=_XS_W, max_anchor_df=_XS_MAX_DF)


# ---------------------------------------------------------------------------
# dedup_bloom_prefilter — Bloom membership screen for incremental dedup
# ---------------------------------------------------------------------------

_BLOOM_BITS = 65536


_BLOOM_WORD = 32  # 32-bit words in BIGINT slots: no sign-bit hazard


_BLOOM_K = 3


def _bloom_oracle() -> str:
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
# dedup_substring_maximal — interval-coalesced ExactSubstr coverage
# ---------------------------------------------------------------------------
# same window width / anchor guard as dedup_substring_cross so the two
# entries describe the same matches at two aggregation semantics
def _one_side_coalesce_sql(side: str) -> str:
    """The DISTINCT → lag-break → island → coverage CTE chain for one
    document side (SQL mirror of operators/dedup.py::
    _coalesce_fixed_width_intervals — fixed-width intervals sorted by
    pos make the previous running end exactly lag(pos) + w - 1)."""
    w = _XS_W
    return f"""
d{side} AS (SELECT DISTINCT doc_a, doc_b, pos_{side} AS pos FROM m),
i{side} AS (
    SELECT doc_a, doc_b, pos,
           CASE WHEN lag(pos) OVER win IS NULL
                     OR pos > lag(pos) OVER win + {w}
                THEN 1 ELSE 0 END AS brk
    FROM d{side}
    WINDOW win AS (PARTITION BY doc_a, doc_b ORDER BY pos)
),
j{side} AS (
    SELECT doc_a, doc_b, pos,
           SUM(brk) OVER (PARTITION BY doc_a, doc_b ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS island
    FROM i{side}
),
s{side} AS (
    SELECT doc_a, doc_b, island, MAX(pos) - MIN(pos) + {w} AS cov
    FROM j{side} GROUP BY doc_a, doc_b, island
),
c{side} AS (
    SELECT doc_a, doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_max_spans_{side},
           CAST(SUM(cov) AS BIGINT) AS covered_tokens_{side},
           CAST(MAX(cov) AS BIGINT) AS longest_span_{side}
    FROM s{side} GROUP BY doc_a, doc_b
)"""


_XSM_ORACLE = f"""
WITH {_XS_ANCHORS_SQL},
m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM anch a JOIN anch b USING (h)
    WHERE a.doc_id < b.doc_id
),
{_one_side_coalesce_sql("a")},
{_one_side_coalesce_sql("b")}
SELECT doc_a, doc_b,
       n_max_spans_a, covered_tokens_a, longest_span_a,
       n_max_spans_b, covered_tokens_b, longest_span_b
FROM ca JOIN cb USING (doc_a, doc_b)
"""


@register(
    "dedup_substring_maximal",
    _XSM_ORACLE,
    doc="Maximal-coverage cross-document ExactSubstr (operators/"
    "dedup.py::cross_substring_maximal — the interval-coalesced "
    "semantics of Lee et al. 2022): per document pair, the UNION of "
    "verbatim-shared >=5-token ranges in each side's own coordinate "
    "space, de-overlapped across alignment diagonals. "
    "dedup_substring_cross counts one span per diagonal, so a range "
    "matching the partner under two alignments is double-counted "
    "there; curation cut-or-keep decisions need this de-overlapped "
    "coverage number (covered_tokens_* <= shared_tokens, equality iff "
    "no two alignments overlap — property-tested). Same anchor-guarded "
    "hash join as the diagonal form (never all-pairs), then one "
    "DISTINCT + lag-based gaps-and-islands pass per side over matched "
    "anchors only. All-integer output. The reference has no "
    "substring-level operator (row-level DISTINCT only, "
    "transformation/nettoyage.py).",
)
def dedup_substring_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", lower_tokens("text").alias("tk")
    )
    return cross_substring_maximal(docs, w=_XS_W, max_anchor_df=_XS_MAX_DF)


# ---------------------------------------------------------------------------
# dedup_minhash_band_sweep — the measured (b x r) S-curve at fixed budget
# ---------------------------------------------------------------------------

# Every config spends the SAME 16-signature budget; banding choice is
# the knob: many narrow bands collide aggressively (high recall, low
# precision), few wide bands collide conservatively.
_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))


_BAND_FP = 1_000_000


def _band_sweep_oracle() -> str:
    ctes, legs = [], []
    for nb, rpb in _BAND_CONFIGS:
        ctes.append(f"""
braw{nb} AS ({_band_selects(nb, rpb)}),
b{nb} AS (
    {guarded_bands_sql(f"braw{nb}")}
),
c{nb} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM b{nb} a JOIN b{nb} b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)""")
        legs.append(f"""
SELECT {nb} AS n_bands, {rpb} AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM({MH_SQL["eq"]}), 0) AS BIGINT) AS sum_eq,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
            ELSE COALESCE(SUM({MH_SQL["eq"]}), 0) * {_BAND_FP}
                 // ({N_MINHASH} * COUNT(*)) END AS BIGINT)
           AS mean_est_jaccard_fp
FROM c{nb}
JOIN mh sa ON doc_a = sa.doc_id
JOIN mh sb ON doc_b = sb.doc_id""")
    return f"""
WITH {MH_SQL["signatures"]},
{",".join(ctes)}
{" UNION ALL ".join(legs)}
"""


@register(
    "dedup_minhash_band_sweep",
    _band_sweep_oracle(),
    doc="Measured LSH S-curve across banding configurations at a FIXED "
    "16-signature budget — (16x1, 8x2, 4x4, 2x8 bands x rows): per "
    "config, the candidate-pair count and the pairs' mean estimated "
    "Jaccard (equal-minhash fraction, integer ppm). "
    "dedup_threshold_sweep sweeps the Jaccard fence AFTER banding; "
    "this sweeps the banding itself — the collision-probability curve "
    "1-(1-s^r)^b that decides the b x r split before deploying "
    "minhash at 100 TB (narrow bands buy recall with candidate "
    "volume; the measured n_pairs column IS that cost). All four "
    "configs derive from ONE signature table (checkpointed; the same "
    "16 minima re-bucketed four ways) and every config keeps the "
    "default hot-bucket guard, so even the aggressive 16x1 banding "
    "stays linear on boilerplate. Signature math shares "
    "_mh_sql_fragments with every other minhash oracle.",
)
def dedup_minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signature(
        doc_shingles(spark, sf_dir)
    ).localCheckpoint(eager=True)
    eq = None
    for j in range(N_MINHASH):
        term = F.when(
            F.col(f"sa.mh{j}") == F.col(f"sb.mh{j}"), 1
        ).otherwise(0)
        eq = term if eq is None else eq + term

    out = None
    for nb, rpb in _BAND_CONFIGS:
        parts = []
        for b in range(nb):
            cols = [f"mh{b * rpb + r}" for r in range(rpb)]
            parts.append(
                sigs.select(
                    "doc_id",
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "|", *[F.col(c).cast("string") for c in cols]
                    ).alias("band_key"),
                )
            )
        bands = parts[0]
        for p in parts[1:]:
            bands = bands.unionByName(p)
        guard = W.partitionBy("band", "band_key")
        # NOT materialized (unlike minhash_lsh_pairs/recall_eval): an
        # eager per-config checkpoint serializes the 4 configs'
        # materialization and loses their inter-config stage
        # parallelism — r14 A/B at sf1 (warm min-of-4): plain 10.30 s
        # vs eager-checkpoint 11.18 s vs lazy-checkpoint 12.30 s with
        # a 60-85 s recompute-race tail. The guard duplication across
        # the self-join sides costs less than one config's worth of
        # lost overlap here because the bands derive from the already-
        # checkpointed sigs (projection + union + one window).
        bands = (
            bands.withColumn("_n", F.count("*").over(guard))
            .filter(F.col("_n") <= DEFAULT_MAX_BUCKET)
            .drop("_n")
        )
        a = bands.select(
            F.col("doc_id").alias("doc_a"), "band", "band_key"
        )
        b_ = bands.select(
            F.col("doc_id").alias("doc_b"), "band", "band_key"
        )
        cand = (
            a.join(b_, ["band", "band_key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        leg = (
            cand.join(
                sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")
            )
            .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
            .agg(
                F.lit(nb).alias("n_bands"),
                F.lit(rpb).alias("rows_per_band"),
                F.count("*").cast("bigint").alias("n_pairs"),
                F.coalesce(F.sum(eq), F.lit(0))
                .cast("bigint")
                .alias("sum_eq"),
            )
            .select(
                "n_bands",
                "rows_per_band",
                "n_pairs",
                "sum_eq",
                F.when(F.col("n_pairs") == 0, F.lit(0))
                .otherwise(
                    F.expr(
                        f"sum_eq * {_BAND_FP} DIV ({N_MINHASH} * n_pairs)"
                    )
                )
                .cast("bigint")
                .alias("mean_est_jaccard_fp"),
            )
        )
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# er_blocking_eval — blocking-scheme recall/cost for entity resolution
# ---------------------------------------------------------------------------

_ERB_FP = 1_000_000


# scheme -> SQL/engine key expression over a `name` column
_ERB_SCHEMES = (
    ("prefix17", lambda c: F.substring(c, 1, 17), "substr({n}, 1, 17)"),
    (
        "digits_mid",
        lambda c: F.substring(c, 10, 7),
        "substr({n}, 10, 7)",
    ),
    (
        "last2",
        lambda c: F.expr("substr({n}, length({n}) - 1, 2)"),
        "substr({n}, length({n}) - 1, 2)",
    ),
)


def _er_blocking_oracle() -> str:
    variant = (
        "CASE WHEN c_custkey % 3 = 0"
        " THEN substr(c_name, 1, length(c_name) - 1) || 'X'"
        " WHEN c_custkey % 3 = 1"
        " THEN substr(c_name, 1, length(c_name) - 1)"
        " ELSE c_name || '2' END"
    )
    legs = []
    for scheme, _fn, sql_t in _ERB_SCHEMES:
        key_clean = sql_t.format(n="t.clean_name")
        key_dirty = sql_t.format(n="t.dirty_name")
        key_rec = sql_t.format(n="name")
        legs.append(f"""
SELECT '{scheme}' AS scheme,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
        WHERE {key_clean} = {key_dirty}) AS n_retained,
       (SELECT CAST(COUNT(*) * {_ERB_FP}
                    // (SELECT COUNT(*) FROM truth) AS BIGINT)
        FROM truth t WHERE {key_clean} = {key_dirty}) AS recall_ppm,
       (SELECT CAST(COALESCE(SUM(s * (s - 1) // 2), 0) AS BIGINT)
        FROM (SELECT COUNT(*) AS s FROM recs
              GROUP BY {key_rec})) AS n_candidate_pairs""")
    return f"""
WITH truth AS (
    SELECT c_name AS clean_name, {variant} AS dirty_name FROM customer
),
recs AS (
    SELECT c_name AS name FROM customer
    UNION ALL
    SELECT {variant} FROM customer
)
{" UNION ALL ".join(legs)}
"""


@register(
    "er_blocking_eval",
    _er_blocking_oracle(),
    doc="Entity-resolution BLOCKING-SCHEME evaluation: for three "
    "candidate blocking keys over the dedup_fuzzy_names dirty "
    "registry (stable prefix; middle digit run; volatile last-2 "
    "chars), the recall on the closed-form ground truth (every dirty "
    "record is exactly one edit from its clean twin, so truth is the "
    "clean-dirty pair set itself) and the candidate-pair COST "
    "computed combinatorially from block sizes (sum s(s-1)/2) — the "
    "eval never materializes a candidate join at all, so measuring a "
    "catastrophic scheme is as cheap as a good one (the last2 key "
    "scores ~zero recall because every synthesized typo touches the "
    "name's tail — the classic block-on-stable-fields lesson, here "
    "as a number). Completes the measure-don't-assume family for the "
    "fourth retrieval structure (after IVF, MinHash banding, "
    "hyperplane LSH): blocking IS the LSH of entity resolution. "
    "All-integer; truth check is one projection over the pair "
    "relation, costs are per-scheme hash aggregates.",
)
def er_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    variant_name = (
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substr(c_name, 1, length(c_name) - 1)"),
                F.lit("X"),
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.concat(F.col("c_name"), F.lit("2")))
    )
    truth = cust.select(
        F.col("c_name").alias("clean_name"),
        variant_name.alias("dirty_name"),
    ).localCheckpoint(eager=True)
    recs = (
        cust.select(F.col("c_name").alias("name"))
        .unionAll(cust.select(variant_name.alias("name")))
        .localCheckpoint(eager=True)
    )
    n_true = truth.count()
    out = None
    for scheme, key_fn, _sql in _ERB_SCHEMES:

        def key_of(col_name: str):
            if scheme == "last2":
                return F.expr(
                    f"substr({col_name}, length({col_name}) - 1, 2)"
                )
            return key_fn(F.col(col_name))

        retained = truth.filter(
            key_of("clean_name") == key_of("dirty_name")
        ).agg(F.count("*").cast("bigint").alias("n_retained"))
        cost = (
            recs.groupBy(key_of("name").alias("k"))
            .agg(F.count("*").alias("s"))
            .agg(
                F.coalesce(
                    F.sum(F.expr("s * (s - 1) DIV 2")), F.lit(0)
                )
                .cast("bigint")
                .alias("n_candidate_pairs")
            )
        )
        leg = (
            retained.crossJoin(cost)
            .select(
                F.lit(scheme).alias("scheme"),
                F.lit(n_true).cast("bigint").alias("n_true"),
                "n_retained",
                F.expr(f"n_retained * {_ERB_FP} DIV {n_true}")
                .cast("bigint")
                .alias("recall_ppm"),
                "n_candidate_pairs",
            )
        )
        out = leg if out is None else out.unionAll(leg)
    return out
