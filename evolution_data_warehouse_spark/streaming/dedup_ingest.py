"""Streaming near-duplicate ingest: new documents drain through an
availableNow file stream and are banded against a PERSISTED minhash
corpus index — the streaming composition of the exact-key dedup ingest
(stream_dedup_ingest) with the banded minhash path
(operators/dedup.py::minhash_pairs_against).

100 TB shape: the corpus index (signatures + hot-bucket-guarded band
keys) is a stored table maintained alongside the corpus — petabytes of
corpus never recompute; each micro-batch pays only its OWN shingling
plus a band-key join whose fan-out scales with the batch's bucket
matches. Idempotence comes from the file source + checkpoint: a rerun
processes only files not yet committed, so the verdict store never
double-counts a batch (the incremental_append discipline,
streaming/incremental.py).

Reference parity note: the reference's ingest dedup is a row-level
DISTINCT inside a cron ETL (transformation/nettoyage.py); it has no
streaming or near-dup surface — this module is SURVEY §2.9/§7 growth.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    N_MINHASH,
    cap_lsh_buckets,
    lsh_bands,
    minhash_pairs_against,
    minhash_signature,
)
from evolution_data_warehouse_spark.operators.textops import lower_tokens, word_shingles

SIGS_SUBDIR = "sigs"
BANDS_SUBDIR = "bands"


def shingle_docs(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """doc rows (id, text) → distinct 3-gram word shingles, exploded —
    the SAME construction as the batch dedup family
    (queries/text.py::doc_shingles), shared so index build, batch twin, and
    streaming micro-batches can never shingle differently."""
    shingles = word_shingles(lower_tokens("text"))
    return docs.select(
        id_col, F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def minhash_index_write(
    corpus_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> None:
    """Build and persist the minhash corpus index: signatures
    (id, mh0..mh{K-1}) and hot-bucket-guarded band keys
    (corpus_id, band, band_key). The band table is written partitioned
    by ``band`` so a probe for one band's buckets prunes at the
    directory level (the IVF-list discipline). At corpus scale this
    runs once per corpus build and is MAINTAINED incrementally — new
    batches append their own signatures/bands after admission."""
    sig = minhash_signature(
        shingle_docs(corpus_docs, id_col), id_col
    ).localCheckpoint(eager=True)
    sig.write.mode("overwrite").parquet(os.path.join(index_dir, SIGS_SUBDIR))
    bands = cap_lsh_buckets(
        lsh_bands(sig, id_col).select(
            F.col(id_col).alias("corpus_id"), "band", "band_key"
        ),
        max_bucket,
    )
    bands.write.mode("overwrite").partitionBy("band").parquet(
        os.path.join(index_dir, BANDS_SUBDIR)
    )


def batch_verdicts(
    batch_docs: DataFrame,
    corpus_sigs: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document near-dup verdict for one ingest batch against the
    index: (id, n_corpus_matches, max_eq) where max_eq is the best
    equal-minhash count (0..K) over the candidate pairs — integer, so
    the verdict is exactly reproducible. Documents with no candidate
    pair get (0, 0): a LEFT join from the batch keeps every admitted
    document in the verdict store."""
    pairs = minhash_pairs_against(
        corpus_sigs, corpus_bands, shingle_docs(batch_docs, id_col),
        id_col=id_col,
    ).select(
        "batch_id",
        (F.col("est_jaccard") * N_MINHASH)
        .cast("int")
        .alias("eq_count"),
    )
    per_doc = pairs.groupBy("batch_id").agg(
        F.count("*").cast("bigint").alias("n_corpus_matches"),
        F.max("eq_count").cast("int").alias("max_eq"),
    )
    return (
        batch_docs.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("batch_id"), "left")
        .select(
            id_col,
            F.coalesce("n_corpus_matches", F.lit(0))
            .cast("bigint")
            .alias("n_corpus_matches"),
            F.coalesce("max_eq", F.lit(0)).cast("int").alias("max_eq"),
        )
    )


def streaming_minhash_ingest(
    spark: SparkSession,
    src_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
) -> int:
    """Drain new document files from ``src_dir`` (availableNow), band
    each micro-batch against the persisted corpus index, and append the
    per-document verdicts to ``out_dir``. Returns the number of input
    ROWS processed this run — 0 on an idempotent rerun (the checkpoint
    already covers every file; availableNow still fires one empty
    trigger on restart, which is why row count, not trigger count, is
    the idempotence signal — and why ``process`` skips the write for
    an empty batch, so a no-op rerun leaves the store byte-identical).

    foreachBatch, not a stream-static join: the minhash signature is a
    per-document aggregate over exploded shingles, which the streaming
    planner would reject in append mode without a watermark the data
    doesn't need — each micro-batch is internally complete, so batch
    semantics per trigger is the correct (and cheaper) contract."""
    corpus_sigs = spark.read.parquet(os.path.join(index_dir, SIGS_SUBDIR))
    corpus_bands = spark.read.parquet(
        os.path.join(index_dir, BANDS_SUBDIR)
    )
    # counted inside foreachBatch (driver-side closure), not from
    # recentProgress: the progress log can report the same batch more
    # than once, but foreachBatch runs exactly once per committed batch
    processed_rows: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        processed_rows.append(n)
        out = batch_verdicts(
            batch_df, corpus_sigs, corpus_bands, id_col=id_col
        )
        out.write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sum(processed_rows)
