"""Registry queries for the training-data pipeline (operators/datapipe.py):
deterministic splits and samples (``split_*``, ``sample_*``),
context-window packing (``pack_*``), retrieval chunking (``chunk_*``),
eval-set decontamination (``decontaminate_*``), corpus mixing and
curation reports (``corpus_*``, ``curation_*``, ``source_*``) and
feature engineering (``fe_*``).

All hash-based (md5) so every query has an exact DuckDB oracle; see
operators/datapipe.py for the 100 TB plan shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.operators.datapipe import (
    chunk_fixed_tokens,
    CHUNK_OVERLAP,
    CHUNK_SIZE,
    DECONTAM_DROP_AT,
    DECONTAM_FLAG_AT,
    decontaminate,
    hash_bucket,
    hash_split,
    MIX_BUCKETS,
    MIX_RATES,
    mix_sample,
    ngram_overlap,
    PACK_CAPACITY,
    pack_contiguous,
    PACK_SHARDS,
    SPLIT_BUCKETS,
    stratified_hash_sample,
)
from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.operators.gopher import (
    gopher_metrics,
    gopher_metrics_sql,
)
from evolution_data_warehouse_spark.operators.similarity import (
    as_double,
    cosine,
    vec_norm,
)
from evolution_data_warehouse_spark.operators.textops import (
    lang_scores,
    lower_tokens,
    lower_tokens_sql,
    predict_lang,
    stopword_hits,
    STOPWORDS,
    tokens_ws,
    word_shingles,
)
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)
from evolution_data_warehouse_spark.queries.dedup import (
    CLUSTERS_ORACLE,
    dedup_clusters,
    SHINGLES_SQL,
)
from evolution_data_warehouse_spark.queries.similarity import DIM
from evolution_data_warehouse_spark.queries.text import (
    BM25_FP,
    BM25_QUERY_TERMS,
    BM25_TOP_K,
    doc_shingles,
)


# DuckDB mirror of operators.datapipe.hash_bucket.
def bucket_sql(expr: str, buckets: int) -> str:
    return f"({content_hash64_sql(f'CAST({expr} AS VARCHAR)')} % {buckets})"


# --------------------------------------------------------------------------
# deterministic train/val/test split
# --------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
SELECT doc_id,
       {bucket_sql('doc_id', SPLIT_BUCKETS)} AS bucket,
       CASE WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 90 THEN 'train'
            WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


@register(
    "split_train_hash",
    _SPLIT_ORACLE,
    doc="Deterministic train/val/test split (90/5/5) by md5 hash bucket "
    "of the document id — no shuffle, stable across runs and engines, "
    "so re-ingestion can never leak documents across splits.",
)
def split_train_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_split(t(spark, sf_dir, "documents")).select(
        "doc_id", "bucket", "split"
    )


# --------------------------------------------------------------------------
# context-window packing
# --------------------------------------------------------------------------

def _pack_runs_sql(cols: str = "doc_id") -> str:
    """The ``toks``/``runs`` CTEs of the packing oracles: each document's
    token count, hash shard and running token offset within its shard
    (the SQL twin of pack_contiguous); ``cols`` ride along."""
    return f"""toks AS (
    SELECT {cols},
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
    FROM documents
),
runs AS (
    SELECT {cols}, n_tokens, shard,
           COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before
    FROM toks
)"""


_PACK_ORACLE = f"""
WITH {_pack_runs_sql()}
SELECT doc_id, n_tokens, shard,
       CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT) AS bin_id,
       CAST(cum_before % {PACK_CAPACITY} AS BIGINT) AS bin_pos
FROM runs
"""


@register(
    "pack_sequences",
    _PACK_ORACLE,
    doc="Contiguous-fill context-window packing: docs shard by id hash, "
    "each shard packs independently by running token count into "
    f"{PACK_CAPACITY}-token bins — the distributed greedy packer (no "
    "global sort; shards scale with the cluster).",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return pack_contiguous(docs).select(
        "doc_id", "n_tokens", "shard", "bin_id", "bin_pos"
    )


# --------------------------------------------------------------------------
# eval-set decontamination
# --------------------------------------------------------------------------

_SHINGLES_SRC_SQL = f"""
SELECT doc_id, source, shingle FROM (
    SELECT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, source, {lower_tokens_sql('text')} AS toks
          FROM documents)
)
"""


_DECONTAM_ORACLE = f"""
WITH sh AS ({_SHINGLES_SRC_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
    FROM cand JOIN bench USING (shingle) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(ov.n_shared, 0) AS n_shared,
       COALESCE(ov.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
WHERE d.source <> 'src0'
"""


def _shingles_with_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, shingle) — 3-gram word shingles, same recipe as
    text.doc_shingles plus the source column.

    Spread to core width before the tokenize+explode for the same
    reason as doc_shingles (r14 profile: split_leakage_audit's
    shingle stage held 57.5 s of executorRunTime in the 10 scan tasks
    at sf1; the raw-doc shuffle is tiny next to the exploded output,
    and the spread is a no-op once the scan is already wide)."""
    docs = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    shingles = word_shingles(lower_tokens("text"))
    return docs.select(
        "doc_id", "source", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


@register(
    "decontaminate_ngram",
    _DECONTAM_ORACLE,
    doc="Eval-set decontamination: per-training-doc count of distinct "
    "3-gram shingles shared with the benchmark corpus (source 'src0' "
    "stands in for the eval set). Shingle equi-join + hash aggregate — "
    "work scales with matches, never doc x doc.",
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_with_source(spark, sf_dir)
    bench = sh.filter(F.col("source") == "src0").select("shingle")
    cand = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    ov = ngram_overlap(cand, bench)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id")
    )
    return docs.join(ov, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


# Thresholds interpolated into the oracle from the operator constants
# (same pattern as the minhash hot-bucket guard) so engine and oracle
# can't drift apart.
_DECONTAM_APPLY_ORACLE = f"""
WITH sh AS ({_SHINGLES_SRC_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
cand AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
tot AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles
    FROM cand GROUP BY doc_id
),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
    FROM cand JOIN bench USING (shingle) GROUP BY doc_id
),
j AS (
    SELECT tot.doc_id, tot.n_shingles,
           COALESCE(ov.n_shared, 0) AS n_shared,
           CAST(COALESCE(ov.n_shared, 0) AS DOUBLE)
               / CAST(tot.n_shingles AS DOUBLE) AS overlap_frac
    FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
)
SELECT d.doc_id,
       COALESCE(j.n_shingles, 0) AS n_shingles,
       COALESCE(j.n_shared, 0) AS n_shared,
       COALESCE(j.overlap_frac, 0.0) AS overlap_frac,
       CASE WHEN COALESCE(j.overlap_frac, 0.0) >= {DECONTAM_DROP_AT} THEN 'drop'
            WHEN COALESCE(j.overlap_frac, 0.0) >= {DECONTAM_FLAG_AT} THEN 'flag'
            ELSE 'keep' END AS decision
FROM documents d LEFT JOIN j ON d.doc_id = j.doc_id
WHERE d.source <> 'src0'
"""


@register(
    "decontaminate_apply",
    _DECONTAM_APPLY_ORACLE,
    doc="Decontamination policy layer over decontaminate_ngram's "
    f"counts: per-doc overlap fraction thresholded into drop (≥"
    f"{DECONTAM_DROP_AT}) / flag (≥{DECONTAM_FLAG_AT}) / keep, with "
    "the audit columns (shingle total, shared count, fraction) in the "
    "output — the report IS the result. Zero-shingle docs (too short "
    "to fingerprint) are kept explicitly rather than dropped silently.",
)
def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_with_source(spark, sf_dir)
    bench = sh.filter(F.col("source") == "src0").select("shingle")
    cand = sh.filter(F.col("source") != "src0").select("doc_id", "shingle")
    res = decontaminate(cand, bench)
    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("source") != "src0")
        .select("doc_id")
    )
    return docs.join(res, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
        F.coalesce(F.col("n_shared"), F.lit(0)).alias("n_shared"),
        F.coalesce(F.col("overlap_frac"), F.lit(0.0)).alias("overlap_frac"),
        F.coalesce(F.col("decision"), F.lit("keep")).alias("decision"),
    )


# --------------------------------------------------------------------------
# stratified deterministic sampling
# --------------------------------------------------------------------------

_STRAT_K = 5


_STRAT_ORACLE = f"""
SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {bucket_sql('doc_id', 1000000007)} ASC, doc_id ASC
           ) AS rn
    FROM documents
) WHERE rn <= {_STRAT_K}
"""


@register(
    "sample_stratified_hash",
    _STRAT_ORACLE,
    doc=f"Deterministic stratified sample: {_STRAT_K} docs per source, "
    "ranked by md5-hash order with an id tie-break. Rank-limit pushes "
    "below the per-stratum sort (WindowGroupLimit), so no stratum ever "
    "fully sorts at scale.",
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stratified_hash_sample(
        t(spark, sf_dir, "documents"), "source", k=_STRAT_K
    ).select("doc_id", "source", "rn")


# --------------------------------------------------------------------------
# packing efficiency report
# --------------------------------------------------------------------------

_PACK_EFF_ORACLE = f"""
WITH {_pack_runs_sql()},
packed AS (
    SELECT shard, n_tokens,
           CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT)
               AS bin_id
    FROM runs
)
SELECT shard,
       COUNT(DISTINCT bin_id) AS n_bins,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE)
           / (COUNT(DISTINCT bin_id) * {PACK_CAPACITY}.0) AS fill_rate
FROM packed
GROUP BY shard
"""


@register(
    "pack_efficiency",
    _PACK_EFF_ORACLE,
    doc="Packing-efficiency report over pack_sequences: bins, docs, "
    "token totals and fill rate per shard — the pipeline-health number "
    "a packing job publishes (fill_rate can exceed 1.0 because "
    "contiguous fill lets one doc straddle each bin boundary). Exact "
    "integer arithmetic end-to-end; the only double is the final "
    "int÷int ratio, bit-identical across engines.",
)
def pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = pack_contiguous(docs)
    return packed.groupBy("shard").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (
            F.sum("n_tokens").cast("double")
            / (F.countDistinct("bin_id") * F.lit(float(PACK_CAPACITY)))
        ).alias("fill_rate"),
    )


# --------------------------------------------------------------------------
# cross-split contamination audit
# --------------------------------------------------------------------------

_LEAK_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, {lower_tokens_sql('text')} AS toks
              FROM documents)
    )
),
splits AS (
    SELECT doc_id,
           CASE WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 90 THEN 'train'
                WHEN {bucket_sql('doc_id', SPLIT_BUCKETS)} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
train_sh AS (
    SELECT DISTINCT shingle FROM sh JOIN splits USING (doc_id)
    WHERE split = 'train'
),
test_sh AS (
    SELECT doc_id, shingle FROM sh JOIN splits USING (doc_id)
    WHERE split = 'test'
),
ov AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_in_train
    FROM test_sh JOIN train_sh USING (shingle) GROUP BY doc_id
),
tot AS (
    SELECT doc_id, COUNT(DISTINCT shingle) AS n_shingles
    FROM test_sh GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_shingles,
       COALESCE(ov.n_in_train, 0) AS n_in_train,
       CAST(COALESCE(ov.n_in_train, 0) AS DOUBLE)
           / CAST(tot.n_shingles AS DOUBLE) AS leak_frac
FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id
"""


@register(
    "split_leakage_audit",
    _LEAK_ORACLE,
    doc="Cross-split contamination audit: for every test-split document "
    "(hash_split assignment), the fraction of its 3-gram shingles that "
    "also occur in the train split — the leakage number a train/val/"
    "test pipeline must publish before anyone trains on the split. "
    "Distinct train shingles join test shingles on the shingle value; "
    "work scales with matches, never doc x doc.",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    splits = hash_split(docs).select("doc_id", "split")
    sh = _shingles_with_source(spark, sf_dir).select("doc_id", "shingle")
    sh_split = sh.join(splits, "doc_id")
    train_sh = (
        sh_split.filter(F.col("split") == "train").select("shingle").distinct()
    )
    test_sh = sh_split.filter(F.col("split") == "test").select(
        "doc_id", "shingle"
    )
    tot = test_sh.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shingles")
    )
    ov = ngram_overlap(test_sh, train_sh)
    n_in_train = F.coalesce(F.col("n_shared"), F.lit(0))
    return tot.join(ov, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_in_train.alias("n_in_train"),
        (
            n_in_train.cast("double") / F.col("n_shingles").cast("double")
        ).alias("leak_frac"),
    )


# --------------------------------------------------------------------------
# corpus mixing (language rebalance)
# --------------------------------------------------------------------------

def _mix_case_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{g}' THEN {int(r * MIX_BUCKETS)}"
        for g, r in sorted(MIX_RATES.items())
    )
    return f"CASE {whens} ELSE {MIX_BUCKETS} END"


def _mix_oracle() -> str:
    return f"""
SELECT doc_id, lang, source,
       {bucket_sql('doc_id', MIX_BUCKETS)} AS mix_bucket,
       {_mix_case_sql()} AS keep_under
FROM documents
WHERE {bucket_sql('doc_id', MIX_BUCKETS)} < {_mix_case_sql()}
"""


@register(
    "corpus_mix_sample",
    _mix_oracle(),
    doc="Deterministic corpus-mixing sampler (language rebalance): "
    "per-language keep rates applied as an md5-bucket threshold on the "
    "doc id — exact, reproducible Bernoulli mixing with zero shuffle; "
    "the rates are interpolated from operators/datapipe.py MIX_RATES "
    "into the oracle so engine and oracle cannot drift.",
)
def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mix_sample(t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "mix_bucket", "keep_under"
    )


# --------------------------------------------------------------------------
# per-source curation report
# --------------------------------------------------------------------------

def _source_report_oracle() -> str:
    h = content_hash64_sql("text")
    return f"""
WITH hashed AS (
    SELECT source, lang, n_chars,
           COUNT(*) OVER (PARTITION BY {h}) AS n_same
    FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       {davg_sql('n_chars', 2)} AS avg_chars,
       COUNT(DISTINCT lang) AS n_langs
FROM hashed
GROUP BY source
"""


@register(
    "source_quality_report",
    _source_report_oracle(),
    doc="Per-source curation rollup (the domain-level report a crawl "
    "pipeline uses to drop whole sources): doc counts, exact-duplicate "
    "counts via a window count over the content hash (shares one "
    "shuffle keyed on the hash), decimal-exact mean length, distinct "
    "languages. Two shuffles total regardless of corpus size.",
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", content_hash64(F.col("text")).alias("h")
    )
    n_same = F.count("*").over(W.partitionBy("h"))
    return (
        docs.withColumn("n_same", n_same)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_same") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
            davg("n_chars", 2).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# --------------------------------------------------------------------------
# packed-sample rendering
# --------------------------------------------------------------------------

_PACK_RENDER_ORACLE = f"""
WITH {_pack_runs_sql("doc_id, text")},
packed AS (
    SELECT doc_id, text, n_tokens, shard,
           CAST((shard << 40) + (cum_before // {PACK_CAPACITY}) AS BIGINT)
               AS bin_id
    FROM runs
)
SELECT bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       string_agg(text, '<|endofdoc|>' ORDER BY doc_id) AS packed_text
FROM packed
GROUP BY bin_id
"""


@register(
    "pack_render",
    _PACK_RENDER_ORACLE,
    doc="Packed-sample rendering — the output half of sequence packing: "
    "each bin's documents concatenated in id order with a separator "
    "token, one training row per bin. One hash aggregate keyed on "
    "bin_id (collect_list is bounded by the bin capacity, so per-group "
    "state is O(context window), never O(corpus)).",
)
def pack_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    packed = pack_contiguous(docs)
    parts = F.array_sort(
        F.collect_list(F.struct("doc_id", "text")),
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.array_join(
            F.transform(parts, lambda s: s.getField("text")),
            "<|endofdoc|>",
        ).alias("packed_text"),
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (integer priorities)
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH pri AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                AS BIGINT)
           // CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS priority
    FROM orders
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY priority, o_orderkey
    ) AS rk
    FROM pri
)
SELECT o_orderpriority, o_orderkey, o_totalprice, rk
FROM ranked WHERE rk <= 5
"""


@register(
    "sample_weighted_det",
    _WSAMPLE_ORACLE,
    doc="Deterministic weighted sampling, 5 per group: "
    "Efraimidis–Spirakis-style priorities with an INTEGER surrogate — "
    "priority = hash64(key) ÷ weight (integer division), smallest "
    "first — so heavier rows win proportionally more often, reruns and "
    "engines agree bit-for-bit (no float pow/ln at quantization "
    "boundaries), and the rank filter compiles to WindowGroupLimit "
    "(partial top-5 map-side before the group shuffle). The zero-"
    "float cousin of sample_stratified_hash for weighted quotas.",
)
def sample_weighted_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    # `div`, not `/`: float division of a 60-bit hash loses low bits to
    # the double mantissa while DuckDB's `//` stays exact — integer
    # division on both sides is what makes the sample bit-reproducible.
    pri = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        content_hash64(F.col("o_orderkey").cast("string")).alias("h"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("w"),
    ).select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        F.expr("h div w").alias("priority"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("priority", "o_orderkey")
    return (
        pri.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("priority")
    )


# ---------------------------------------------------------------------------
# Temperature-flattened corpus mixing (α = 0.5)
# ---------------------------------------------------------------------------


def _tmix_oracle() -> str:
    return f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang
),
mn AS (SELECT MIN(n_g) AS n_min FROM counts),
thresh AS (
    SELECT lang,
           CAST(floor({MIX_BUCKETS} * sqrt(CAST(n_min AS DOUBLE)
                                           / CAST(n_g AS DOUBLE)))
                AS BIGINT) AS keep_under
    FROM counts, mn
)
SELECT d.doc_id, d.lang,
       {bucket_sql('d.doc_id', MIX_BUCKETS)} AS mix_bucket,
       t.keep_under
FROM documents d JOIN thresh t ON d.lang = t.lang
WHERE {bucket_sql('d.doc_id', MIX_BUCKETS)} < t.keep_under
"""


@register(
    "corpus_mix_temperature",
    _tmix_oracle(),
    doc="Temperature-flattened corpus mixing (α = 0.5): keep rates "
    "derived from the data itself — rate_g = √(n_min/n_g), so the "
    "smallest language keeps everything and kept sizes flatten to "
    "∝ √n_g, the standard multilingual rebalance. Two tiny "
    "aggregates (language cardinality + 1-row min) broadcast back; "
    "the keep decision stays the zero-shuffle md5-bucket projection "
    "of corpus_mix_sample. Thresholds are floor(MIX_BUCKETS·√ratio) "
    "computed with the IDENTICAL IEEE expression on both sides.",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_g"))
    mn = counts.agg(F.min("n_g").alias("n_min"))
    thresh = counts.crossJoin(mn).select(
        "lang",
        F.floor(
            MIX_BUCKETS
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_g").cast("double"))
        )
        .cast("bigint")
        .alias("keep_under"),
    )
    bucket = hash_bucket(F.col("doc_id"), MIX_BUCKETS)
    return (
        docs.join(F.broadcast(thresh), "lang")
        .withColumn("mix_bucket", bucket)
        .filter(F.col("mix_bucket") < F.col("keep_under"))
        .select("doc_id", "lang", "mix_bucket", "keep_under")
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel report
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    langs = sorted(STOPWORDS)
    score_cols = ", ".join(
        f"CAST(len(list_filter({lower_tokens_sql('text')}, "
        f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs)
    return f"""
WITH staged AS (
    SELECT doc_id, source, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({lower_tokens_sql('text')},
                    x -> list_contains({_EN_STOPS_SQL_R6}, x))) AS BIGINT)
               AS stop_hits,
           {score_cols}
    FROM documents
),
flags AS (
    SELECT source,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           n_tokens
    FROM staged
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_unique,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_final,
       CAST(SUM(CASE WHEN lang_match THEN n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens_final
FROM flags GROUP BY source
"""


_EN_STOPS_SQL_R6 = "['the','and','of','to','a']"


@register(
    "curation_funnel_report",
    _funnel_oracle(),
    doc="End-to-end curation funnel, the per-source report every "
    "corpus pipeline publishes: docs in → exact-dedup survivors "
    "(keep-lowest-id per content hash) → quality gate (length + "
    "stopword density, INTEGER cross-multiplied thresholds so no "
    "float boundary exists) → language-consistency gate (stopword "
    "argmax == label) → surviving token mass. One content-hash window "
    "+ one source-grain aggregate; every stage is a column flag on "
    "the same scan, so the funnel costs one pass however many gates "
    "it grows.",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    scores = lang_scores(F.col("text"))
    staged = docs.select(
        "source", "lang",
        F.row_number().over(w).alias("rn"),
        F.size(tokens_ws(F.col("text"))).cast("bigint").alias(
            "n_tokens"
        ),
        stopword_hits(F.col("text"), STOPWORDS["en"])
        .cast("bigint")
        .alias("stop_hits"),
        predict_lang(scores).alias("pred_lang"),
    )
    exact = F.col("rn") == 1
    quality = (
        exact & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    final = quality & (F.col("pred_lang") == F.col("lang"))
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(final.cast("int")).cast("bigint").alias("n_final"),
        F.sum(F.when(final, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between two corpus halves (exact L1)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH toks AS (
    SELECT doc_id % 2 AS half, unnest({lower_tokens_sql('text')}) AS tok
    FROM documents
),
tc AS (
    SELECT tok,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
    FROM toks WHERE tok <> '' GROUP BY tok
),
tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
               CAST(SUM(c1) AS BIGINT) AS t1 FROM tc)
SELECT t0, t1,
       COUNT(*) AS vocab,
       CAST(SUM(abs(c0 * t1 - c1 * t0)) AS DOUBLE)
       / CAST(t0 * t1 AS DOUBLE) AS l1_distance
FROM tc, tot
GROUP BY t0, t1
"""


@register(
    "corpus_token_drift",
    _DRIFT_ORACLE,
    doc="Exact L1 (total-variation x2) distance between the token "
    "distributions of two corpus halves (doc_id parity) — the "
    "distribution-drift check run between crawl snapshots before "
    "mixing them into a training set. Computed in exact integer "
    "arithmetic: sum |c0*T1 - c1*T0| as BIGINT with ONE final "
    "division by T0*T1, so no float accumulation anywhere. The "
    "1-row totals broadcast; the token aggregate is vocabulary-"
    "sized. (counts ~1e7 x totals ~1e9 stays under 2^63 at 100 TB "
    "per-shard; shard-then-merge for a global number.)",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(lower_tokens("text")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = tc.agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    return (
        tc.crossJoin(tot)
        .groupBy("t0", "t1")
        .agg(
            F.count("*").alias("vocab"),
            (
                F.sum(
                    F.abs(F.col("c0") * F.col("t1") - F.col("c1") * F.col("t0"))
                ).cast("double")
                / (F.col("t0") * F.col("t1")).cast("double")
            ).alias("l1_distance"),
        )
        .select("t0", "t1", "vocab", "l1_distance")
    )


# ---------------------------------------------------------------------------
# Semantic eval-set decontamination — embedding-similarity leakage scan
# ---------------------------------------------------------------------------

_DECON_N_EVAL = 25


_DECON_PLANT_MOD = 19


_DECON_COS = 0.9


def _decon_semantic_oracle() -> str:

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
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev = emb.filter(F.col("vec_id") < _DECON_N_EVAL).select(
        F.col("vec_id").alias("eval_id"),
        as_double(F.col("embedding")).alias("_ev"),
    )
    evn = ev.withColumn("_ne", vec_norm(F.col("_ev")))
    c0 = emb.filter(F.col("vec_id") >= _DECON_N_EVAL)
    mixed = F.when(
        F.col("vec_id") % _DECON_PLANT_MOD == 0,
        F.zip_with(
            F.col("_ev"),
            as_double(F.col("embedding")),
            lambda x, o: x + o / F.lit(100.0),
        ),
    ).otherwise(as_double(F.col("embedding")))
    cm = (
        c0.join(
            F.broadcast(ev),
            F.col("vec_id") % _DECON_N_EVAL == F.col("eval_id"),
        )
        .select("vec_id", mixed.alias("_vec"))
        .withColumn("_norm", vec_norm(F.col("_vec")))
    )
    scored = cm.crossJoin(evn).select(
        "vec_id",
        "eval_id",
        cosine(
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
# Curriculum ordering — quality-phased training schedule
# ---------------------------------------------------------------------------


def _curriculum_oracle() -> str:
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
    b = content_hash64_sql("token")
    return f"""
WITH d AS (
    SELECT doc_id, lang,
           unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
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
    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        "lang",
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
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
    return f"""
WITH m AS (
    SELECT doc_id,
           CAST(len({lower_tokens_sql("COALESCE(text, '')")})
                AS BIGINT) AS n_text_tokens,
           CAST(CASE CAST(doc_id % 3 AS INT)
                WHEN 1 THEN 1 WHEN 2 THEN 2 ELSE 0 END
                AS BIGINT) AS n_images,
           {bucket_sql('doc_id', PACK_SHARDS)} AS shard
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
    n_images = (
        F.when(F.col("doc_id") % 3 == 1, 1)
        .when(F.col("doc_id") % 3 == 2, 2)
        .otherwise(0)
        .cast("bigint")
    )
    n_text = F.size(
        lower_tokens(F.coalesce(F.col("text"), F.lit("")))
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
# split_kfold_hash — deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

_K_FOLDS = 5


def _kfold_bucket_sql() -> str:
    h = content_hash64_sql("'kfold:' || CAST(doc_id AS VARCHAR)")
    return f"({h} % {_K_FOLDS})"


_KFOLD_ORACLE = f"""
SELECT {_kfold_bucket_sql()} AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY 1
"""


@register(
    "split_kfold_hash",
    _KFOLD_ORACLE,
    doc="Deterministic k-fold cross-validation assignment (k=5) by md5 "
    "hash bucket of the salted document id — the CV counterpart of "
    "split_train_hash's fixed 90/5/5 split. Every document lands in "
    "exactly one fold by construction (a single modulo — no sampling, "
    "no state), so fold membership is reproducible across runs, "
    "engines, and re-ingestions, and fold i's train set is simply "
    "'fold != i' computed on the fly. The salt ('kfold:') makes the "
    "fold assignment independent of split_train_hash's buckets, so "
    "CV folds don't correlate with the train/val/test split. Output "
    "is the per-fold count/id/char checksums; zero shuffle beyond one "
    "5-group hash aggregate.",
)
def split_kfold_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    fold = content_hash64(
        F.concat(F.lit("kfold:"), F.col("doc_id").cast("string"))
    ) % _K_FOLDS
    return (
        docs.select(fold.alias("fold"), "doc_id", "n_chars")
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_epoch_schedule — data-budget planner with repeat factors
# ---------------------------------------------------------------------------

# Pinned training-token budget and the max number of passes (epochs)
# any single source may be repeated for — the data-constrained-scaling
# knob (repeating a small source more than ~4 epochs stops helping).
_EPOCH_BUDGET = 200_000


_EPOCH_MAX_REPEAT = 4


_EPOCH_FP = 1_000_000


_EPOCH_SCHED_ORACLE = f"""
WITH toks AS (
    SELECT source,
           CAST(SUM(len(str_split(COALESCE(text, ''), ' '))) AS BIGINT)
               AS tokens_available
    FROM documents GROUP BY source
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM toks),
plan AS (
    SELECT t.source, t.tokens_available,
           CAST({_EPOCH_BUDGET} // n.n_sources AS BIGINT) AS alloc_target
    FROM toks t CROSS JOIN n
)
SELECT source, tokens_available, alloc_target,
       CAST(least(alloc_target,
                  {_EPOCH_MAX_REPEAT} * tokens_available) AS BIGINT)
           AS tokens_granted,
       CAST(greatest(alloc_target
                     - {_EPOCH_MAX_REPEAT} * tokens_available, 0)
            AS BIGINT) AS shortfall,
       CAST(CASE WHEN tokens_available = 0 THEN 0
            ELSE (least(alloc_target,
                        {_EPOCH_MAX_REPEAT} * tokens_available)
                  * {_EPOCH_FP}) // tokens_available END AS BIGINT)
           AS repeat_fp
FROM plan
"""


@register(
    "corpus_epoch_schedule",
    _EPOCH_SCHED_ORACLE,
    doc="Training-data budget planner: given a pinned token budget "
    "split uniformly across sources, how many passes (epochs) over "
    "each source does its allocation imply, capped at the data-"
    "constrained-scaling limit of 4 repeats (Muennighoff et al. 2023: "
    "returns from re-reading data decay past ~4 epochs) — the "
    "planning table a run reads BEFORE corpus_mix_sample does the "
    "actual md5-bucket sampling. Emits per source: available tokens, "
    "uniform target, granted tokens (capped), the unfillable "
    "shortfall, and the repeat factor at 1e6 fixed point — all "
    "integer arithmetic (floor divisions both engines). Plan: one "
    "token-count aggregate + a 1-row source-count broadcast; the "
    "whole planner is O(sources).",
)
def corpus_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(
                F.size(
                    F.split(F.coalesce(F.col("text"), F.lit("")), " ")
                )
            )
            .cast("bigint")
            .alias("tokens_available")
        )
    )
    n = toks.agg(F.count("*").cast("bigint").alias("n_sources"))
    plan = toks.crossJoin(n).select(
        "source",
        "tokens_available",
        F.expr(f"{_EPOCH_BUDGET} DIV n_sources")
        .cast("bigint")
        .alias("alloc_target"),
    )
    granted = F.least(
        F.col("alloc_target"),
        F.lit(_EPOCH_MAX_REPEAT) * F.col("tokens_available"),
    )
    shortfall = F.greatest(
        F.col("alloc_target")
        - F.lit(_EPOCH_MAX_REPEAT) * F.col("tokens_available"),
        F.lit(0),
    )
    repeat = F.when(F.col("tokens_available") == 0, F.lit(0)).otherwise(
        F.expr(
            f"(least(alloc_target, {_EPOCH_MAX_REPEAT} * tokens_available)"
            f" * {_EPOCH_FP}) DIV tokens_available"
        )
    )
    return plan.select(
        "source",
        "tokens_available",
        "alloc_target",
        granted.cast("bigint").alias("tokens_granted"),
        shortfall.cast("bigint").alias("shortfall"),
        repeat.cast("bigint").alias("repeat_fp"),
    )


# ---------------------------------------------------------------------------
# fe_target_encoding_loo — leave-one-out mean target encoding
# ---------------------------------------------------------------------------

_TE_ORACLE = f"""
WITH base AS (
    SELECT o_custkey, o_orderpriority AS cat, o_totalprice AS y
    FROM orders
),
g AS (
    SELECT cat,
           CAST(COUNT(*) AS BIGINT) AS n_cat,
           {dsum_sql('y', 2)} AS sum_y
    FROM base GROUP BY cat
),
enc AS (
    SELECT b.o_custkey, b.cat, b.y, g.n_cat,
           CASE WHEN g.n_cat <= 1 THEN NULL
                ELSE (g.sum_y - b.y) / (CAST(g.n_cat AS DOUBLE) - 1.0)
           END AS te_loo
    FROM base b JOIN g ON g.cat = b.cat
)
SELECT cat, n_cat,
       CAST(COUNT(te_loo) AS BIGINT) AS n_encoded,
       {fpq_sql(dsum_sql('te_loo', 6) + ' / CAST(COUNT(te_loo) AS DOUBLE)', 6)}
           AS mean_encoding,
       {fpq_sql('MIN(te_loo)', 6)} AS min_encoding,
       {fpq_sql('MAX(te_loo)', 6)} AS max_encoding
FROM enc GROUP BY cat, n_cat
"""


@register(
    "fe_target_encoding_loo",
    _TE_ORACLE,
    doc="Leave-one-out mean target encoding — the feature-engineering "
    "primitive for high-cardinality categoricals (each row's encoding "
    "is its category's target mean EXCLUDING the row itself, the "
    "standard leak-free form: encoding with the row included lets "
    "the feature memorize its own label). te = (sum_y - y)/(n-1) "
    "from ONE decimal-exact per-category aggregate broadcast back — "
    "no per-row window, no second scan shape; singleton categories "
    "encode NULL (no leave-one-out mean exists) and are excluded "
    "from the roll-up on both engines identically. Emitted as "
    "per-category encoding profiles (count/mean/min/max) so the "
    "oracle pins the whole distribution.",
)
def fe_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("cat"),
        F.col("o_totalprice").alias("y"),
    )
    g = base.groupBy("cat").agg(
        F.count("*").cast("bigint").alias("n_cat"),
        dsum("y", 2).alias("sum_y"),
    )
    enc = base.join(F.broadcast(g), "cat").select(
        "cat",
        "n_cat",
        F.when(F.col("n_cat") <= 1, F.lit(None).cast("double")).otherwise(
            (F.col("sum_y") - F.col("y"))
            / (F.col("n_cat").cast("double") - F.lit(1.0))
        ).alias("te_loo"),
    )
    return enc.groupBy("cat", "n_cat").agg(
        F.count("te_loo").cast("bigint").alias("n_encoded"),
        fpq(
            dsum("te_loo", 6) / F.count("te_loo").cast("double"), 6
        ).alias("mean_encoding"),
        fpq(F.min("te_loo"), 6).alias("min_encoding"),
        fpq(F.max("te_loo"), 6).alias("max_encoding"),
    )


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
           CAST(SUM(len({lower_tokens_sql("COALESCE(text, '')")}))
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
    toks = lower_tokens(text)
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
# corpus_dup_rate_by_source — per-source curation yield from the
# near-dup clustering
# ---------------------------------------------------------------------------


def _dup_rate_oracle() -> str:

    return f"""
WITH clusters AS ({CLUSTERS_ORACLE}),
sizes AS (
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
    FROM clusters GROUP BY 1
),
j AS (
    SELECT d.source,
           CASE WHEN s.sz > 1 THEN 1 ELSE 0 END AS in_dup,
           CASE WHEN s.sz > 1 AND c.doc_id <> c.cluster_id THEN 1 ELSE 0
           END AS removable
    FROM documents d
    JOIN clusters c ON c.doc_id = d.doc_id
    JOIN sizes s ON s.cluster_id = c.cluster_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(in_dup) AS BIGINT) AS n_in_dup_clusters,
       CAST(SUM(removable) AS BIGINT) AS n_removable,
       CAST(SUM(removable) * 1000000 // COUNT(*) AS BIGINT)
           AS dup_rate_ppm
FROM j GROUP BY source
"""


@register(
    "corpus_dup_rate_by_source",
    _dup_rate_oracle(),
    doc="Per-source near-duplicate yield report: join the MinHash-LSH "
    "connected-component clustering (dedup_clusters, composed as the "
    "same oracle subquery / engine callable) back to each document's "
    "source and report, per source, how many documents sit in "
    "multi-member clusters and how many a keep-canonical pass would "
    "REMOVE (cluster members that are not the min-label canonical) — "
    "the curation dashboard number that decides which crawl/source "
    "needs upstream dedup before it wastes 100 TB-scale tokens "
    "(per-source dup rate is the standard corpus-quality metric, cf. "
    "the C4/Gopher per-source filters). Cluster sizes come from one "
    "hash aggregate over the assignment; the source join is a slim "
    "(doc_id, source) projection; the rate is integer ppm.",
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:

    cc = dedup_clusters(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        src.join(cc, "doc_id")
        .join(sizes, "cluster_id")
        .select(
            "source",
            F.when(F.col("sz") > 1, 1).otherwise(0).alias("in_dup"),
            F.when(
                (F.col("sz") > 1) & (F.col("doc_id") != F.col("cluster_id")),
                1,
            )
            .otherwise(0)
            .alias("removable"),
        )
    )
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("in_dup").cast("bigint").alias("n_in_dup_clusters"),
        F.sum("removable").cast("bigint").alias("n_removable"),
        F.expr("sum(removable) * 1000000 DIV count(*)")
        .cast("bigint")
        .alias("dup_rate_ppm"),
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_plan — weights -> an executable sampling plan
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000  # pinned training-run token budget


_BUDGET_FP = 1_000_000


def _budget_plan_oracle() -> str:

    return f"""
WITH w AS ({_doremi_oracle()}),
tok AS (
    SELECT source AS domain,
           CAST(SUM(len({lower_tokens_sql("COALESCE(text, '')")}))
               AS BIGINT) AS available_tokens
    FROM documents GROUP BY 1
),
s AS (SELECT CAST(SUM(weight_fp) AS BIGINT) AS tw FROM w),
plan AS (
    SELECT w.domain, w.n_docs, tok.available_tokens, w.weight_fp,
           CAST({_BUDGET_TOKENS} * w.weight_fp // s.tw AS BIGINT)
               AS target_tokens
    FROM w JOIN tok ON tok.domain = w.domain, s
)
SELECT domain, n_docs, available_tokens, weight_fp, target_tokens,
       CAST(target_tokens * {_BUDGET_FP} // available_tokens AS BIGINT)
           AS epochs_fp
FROM plan
"""


@register(
    "corpus_token_budget_plan",
    _budget_plan_oracle(),
    doc="Token-budget sampling plan: turn the DoReMi domain weights "
    "(corpus_doremi_weights, composed from its single source of "
    "truth) into the executable numbers a data loader needs for a "
    "pinned 1M-token training run — per domain, the target token "
    "count (budget x normalized weight, integer floor-division) and "
    "the implied epoch count over what the domain actually has "
    "(epochs_fp > 1e6 means the domain REPEATS — the upsampling "
    "decision Hoffmann/Muennighoff-style repetition analyses price; "
    "< 1e6 means subsampling). The bridge between the mixing family's "
    "weight estimators and corpus_mix_sample's executable Bernoulli "
    "gate. All-integer arithmetic end to end; one aggregate over "
    "documents plus the (domain-count)-sized weight table.",
)
def corpus_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:

    w = corpus_doremi_weights(spark, sf_dir).select(
        "domain", "n_docs", "weight_fp"
    )
    tok = (
        t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("domain"))
        .agg(
            F.sum(
                F.size(
                    F.split(
                        F.lower(F.coalesce(F.col("text"), F.lit(""))), " "
                    )
                )
            )
            .cast("bigint")
            .alias("available_tokens")
        )
    )
    tw = w.agg(F.sum("weight_fp").cast("bigint").alias("tw"))
    return (
        w.join(tok, "domain")
        .crossJoin(tw)
        .select(
            "domain",
            "n_docs",
            "available_tokens",
            "weight_fp",
            F.expr(f"{_BUDGET_TOKENS} * weight_fp DIV tw")
            .cast("bigint")
            .alias("target_tokens"),
        )
        .select(
            "domain",
            "n_docs",
            "available_tokens",
            "weight_fp",
            "target_tokens",
            F.expr(
                f"target_tokens * {_BUDGET_FP} DIV available_tokens"
            )
            .cast("bigint")
            .alias("epochs_fp"),
        )
    )


# ---------------------------------------------------------------------------
# fe_feature_hashing — the hashing trick, collision-audited
# ---------------------------------------------------------------------------

_FH_BUCKETS = 32


def _feature_hashing_oracle() -> str:
    h = content_hash64_sql("'fh:' || name || '=' || val")
    return f"""
WITH feats AS (
    SELECT 'seg' AS name, c_mktsegment AS val FROM customer
    UNION ALL
    SELECT 'nat' AS name, CAST(c_nationkey AS VARCHAR) AS val FROM customer
),
hashed AS (
    SELECT name, val, {h} AS h FROM feats
),
b AS (
    SELECT h % {_FH_BUCKETS} AS bucket,
           CASE WHEN (h // {_FH_BUCKETS}) % 2 = 0 THEN 1 ELSE -1 END
               AS sign,
           name, val
    FROM hashed
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT name || '=' || val) AS BIGINT)
           AS n_distinct_features,
       CAST(SUM(sign) AS BIGINT) AS signed_mass
FROM b GROUP BY bucket
"""


@register(
    "fe_feature_hashing",
    _feature_hashing_oracle(),
    doc="Feature hashing (the hashing trick, Weinberger et al. 2009) "
    "with a collision audit: categorical features (market segment; "
    "nation key) map to a fixed 32-bucket space via the repo's md5 "
    "content hash, with the next hash bit supplying the +/-1 sign "
    "that makes collisions cancel in expectation. Output per bucket: "
    "row mass, DISTINCT original features mapped (the collision "
    "count — >1 means two features share a slot, the quantity that "
    "sizes the bucket space), and the signed mass. Zero vocabulary "
    "state — the property that lets a 100 TB pipeline featurize "
    "unbounded-cardinality categoricals in one stateless projection "
    "(fe_target_encoding_loo/fe_woe_encoding need a model table; "
    "this needs nothing). All-integer; one explode x 2 features + "
    "one hash aggregate at bucket cardinality.",
)
def fe_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    feats = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("seg").alias("name"),
                    F.col("c_mktsegment").alias("val"),
                ),
                F.struct(
                    F.lit("nat").alias("name"),
                    F.col("c_nationkey").cast("string").alias("val"),
                ),
            )
        ).alias("f")
    ).select(F.col("f.name").alias("name"), F.col("f.val").alias("val"))
    hashed = feats.select(
        "name",
        "val",
        content_hash64(
            F.concat(F.lit("fh:"), F.col("name"), F.lit("="), F.col("val"))
        ).alias("h"),
    )
    b = hashed.select(
        "name",
        "val",
        (F.col("h") % _FH_BUCKETS).cast("bigint").alias("bucket"),
        F.when((F.expr(f"h DIV {_FH_BUCKETS}") % 2) == 0, 1)
        .otherwise(-1)
        .alias("sign"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct(
            F.concat(F.col("name"), F.lit("="), F.col("val"))
        )
        .cast("bigint")
        .alias("n_distinct_features"),
        F.sum("sign").cast("bigint").alias("signed_mass"),
    )


# ---------------------------------------------------------------------------
# corpus_quality_mix_report — the curation dashboard rollup
# ---------------------------------------------------------------------------

# Integer-fence quality gate (no float ever compares): a doc passes
# when it has >= 30 whitespace tokens AND its mean token length lies
# in [3, 12] chars, cross-multiplied to 3*nt <= nc-(nt-1) <= 12*nt.
_MIX_MIN_TOKENS = 30


_MIX_LEN_LO, _MIX_LEN_HI = 3, 12


_MIX_ORACLE = f"""
WITH q AS (
    SELECT source, lang,
           CAST(length(text) AS BIGINT) AS nc,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS nt
    FROM documents
),
g AS (
    SELECT source, lang,
           (nt >= {_MIX_MIN_TOKENS}
            AND {_MIX_LEN_LO} * nt <= nc - (nt - 1)
            AND nc - (nt - 1) <= {_MIX_LEN_HI} * nt) AS quality_pass,
           nt
    FROM q
),
agg AS (
    SELECT source, lang, quality_pass,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM g GROUP BY 1, 2, 3
)
SELECT source, lang, quality_pass, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // SUM(n_tokens) OVER () AS BIGINT)
           AS token_share_ppm
FROM agg
"""


@register(
    "corpus_quality_mix_report",
    _MIX_ORACLE,
    doc="The curation dashboard rollup: joint (source x language x "
    "quality-gate) composition of the corpus in documents AND tokens, "
    "with each cell's share of total tokens (integer ppm) — the table "
    "a pretraining-data owner actually reads before setting mixture "
    "weights (which sources are mostly low-quality? which languages "
    "carry the token mass? what does the gate cost per source?). The "
    "gate is an INTEGER fence (>= 30 tokens, mean token length in "
    "[3,12] cross-multiplied — no float fence can flip between "
    "engines); one scan + one hash aggregate at cell cardinality; the "
    "corpus total folds in as an unpartitioned window over the "
    "(bounded) aggregate, so the plan has no broadcast at all.",
)
def corpus_quality_mix_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    q = t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.length("text").cast("bigint").alias("nc"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("nt"),
    )
    avg_num = F.col("nc") - (F.col("nt") - 1)
    g = q.select(
        "source",
        "lang",
        (
            (F.col("nt") >= _MIX_MIN_TOKENS)
            & (F.lit(_MIX_LEN_LO) * F.col("nt") <= avg_num)
            & (avg_num <= F.lit(_MIX_LEN_HI) * F.col("nt"))
        ).alias("quality_pass"),
        "nt",
    )
    agg = g.groupBy("source", "lang", "quality_pass").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("n_tokens"),
    )
    return agg.select(
        "source",
        "lang",
        "quality_pass",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000")
        .cast("bigint")
        .alias("_scaled"),
        F.sum("n_tokens").over(W.partitionBy()).alias("_total"),
    ).select(
        "source",
        "lang",
        "quality_pass",
        "n_docs",
        "n_tokens",
        F.expr("_scaled DIV _total").cast("bigint").alias(
            "token_share_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# corpus_cross_source_overlap — the source x source contamination matrix
# ---------------------------------------------------------------------------

_XSO_FP = 1_000_000


def _cross_source_oracle() -> str:

    return f"""
WITH sh0 AS ({SHINGLES_SQL}),
ss AS (
    SELECT DISTINCT d.source,
           {content_hash64_sql('sh0.shingle')} AS shingle_h
    FROM sh0 JOIN documents d ON d.doc_id = sh0.doc_id
),
tot AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1
),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM ss a JOIN ss b
      ON a.shingle_h = b.shingle_h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       ta.n_sh AS n_sh_a, tb.n_sh AS n_sh_b,
       CAST(i.n_common * {_XSO_FP} // ta.n_sh AS BIGINT)
           AS containment_a_ppm,
       CAST(i.n_common * {_XSO_FP} // tb.n_sh AS BIGINT)
           AS containment_b_ppm
FROM inter i
JOIN tot ta ON ta.source = i.source_a
JOIN tot tb ON tb.source = i.source_b
"""


@register(
    "corpus_cross_source_overlap",
    _cross_source_oracle(),
    doc="Cross-source contamination matrix: for every source pair, the "
    "count of shared distinct 3-gram shingles and each side's "
    "CONTAINMENT (shared / own shingles, integer ppm) — the "
    "dump-level provenance table that tells a corpus owner which "
    "crawls re-collect the same web (dedup_crawl_snapshots answers "
    "it per URL, dedup_substring_cross per document pair; this is "
    "the planning-grain rollup that decides which SOURCE to drop or "
    "decontaminate first). The self-join key is the (shingle, "
    "source)-DISTINCT relation, so fan-out per shingle is bounded by "
    "the SOURCE COUNT (~5), not document frequency — no df cap "
    "needed, structurally never quadratic in corpus size; shingle "
    "hashing and construction reuse the registered single sources of "
    "truth. Output is source-pair-cardinality.",
)
def corpus_cross_source_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    ss = (
        doc_shingles(spark, sf_dir)
        .join(src, "doc_id")
        .select(
            "source", content_hash64(F.col("shingle")).alias("shingle_h")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = ss.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_sh")
    )
    a = ss.select(F.col("source").alias("source_a"), "shingle_h")
    b = ss.select(F.col("source").alias("source_b"), "shingle_h")
    inter = (
        a.join(b, "shingle_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n_sh").alias("n_sh_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n_sh").alias("n_sh_b")
    )
    return (
        inter.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_sh_a",
            "n_sh_b",
            F.expr(f"n_common * {_XSO_FP} DIV n_sh_a")
            .cast("bigint")
            .alias("containment_a_ppm"),
            F.expr(f"n_common * {_XSO_FP} DIV n_sh_b")
            .cast("bigint")
            .alias("containment_b_ppm"),
        )
    )


_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


# ---------------------------------------------------------------------------
# chunk_overlap_spans — fixed-token retrieval chunks with provenance
# ---------------------------------------------------------------------------


def chunk_oracle() -> str:
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
    chunk_oracle(),
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
# chunk_bm25_topk — chunk-grain BM25 retrieval with span provenance
# ---------------------------------------------------------------------------


def _chunk_bm25_oracle() -> str:

    vals = ", ".join(f"({qid}, '{term}')" for qid, term in BM25_QUERY_TERMS)
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
                      * 22 * tf.tf * g.total_tokens * {BM25_FP})
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
WHERE r.rank <= {BM25_TOP_K}
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

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_fixed_tokens(docs)
    tk = docs.select(
        "doc_id",
        F.posexplode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
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
    q = local_table(spark, BM25_QUERY_TERMS, "query_id int, token string")
    terms = (
        tf.join(F.broadcast(dft.join(F.broadcast(q), "token")), "token")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            "chunk_idx",
            F.expr(
                f"CAST(CAST(2 * n_chunks - 2 * df + 1 AS DECIMAL(38,0)) "
                f"* 22 * tf * total_tokens * {BM25_FP} DIV "
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
        .filter(F.col("rank") <= BM25_TOP_K)
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
