"""Incremental landing-zone loads via availableNow triggered streaming.

The reference's idempotence is count-before-insert guards
(load_facts.py:162-166) re-run by cron; Structured Streaming's file
source + checkpoint gives the same exactly-once semantics natively:
each run picks up only files not yet processed (SURVEY §2.9 mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from evolution_data_warehouse_spark.warehouse import manifest


def incremental_append(
    spark: SparkSession,
    src_dir: str,
    schema: T.StructType | str,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain new files from src_dir into out_dir (parquet, append),
    tracked by checkpoint. Returns number of batches processed this run.

    ``max_files_per_trigger`` bounds each micro-batch: a landing zone
    with tens of thousands of backlog files must drain in bounded
    slices (memory and commit size stay O(slice), availableNow still
    drains EVERYTHING before returning) rather than one giant batch.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(q.recentProgress)


def read_target(spark: SparkSession, out_dir: str, schema) -> DataFrame:
    return spark.read.schema(schema).parquet(out_dir)


def read_upsert_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Read an ``incremental_upsert_latest`` store, hiding tombstones.

    The store keeps one marker row per deleted key (``_deleted=true``)
    so late out-of-order ops cannot resurrect deleted keys; consumers
    see only live rows, without the bookkeeping column.
    """
    from pyspark.sql import functions as F

    df = manifest.read_version(spark, store_dir)
    return df.filter(~F.col("_deleted")).drop("_deleted")


def incremental_upsert_latest(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    key_col: str = "user_id",
    seq_cols: tuple[str, str] = ("ts", "event_id"),
    tombstone_pred=None,
) -> None:
    """Streaming CDC apply: drain new files and merge latest-op-per-key
    into a keyed parquet store via foreachBatch — the streaming twin of
    the batch ``cdc_apply_log`` query.

    Each micro-batch reduces to its own latest row per key (tie-broken
    by ``seq_cols``), then merges against the store keeping whichever
    side is newer. Keys whose winning op satisfies ``tombstone_pred``
    are NOT physically removed: the winning row is kept with a
    ``_deleted=true`` marker so that an out-of-order OLDER op arriving
    in a later batch loses the seq comparison against the tombstone and
    cannot resurrect the key (read through ``read_upsert_store``, which
    filters the markers). A tombstoned key reappears only when a
    genuinely NEWER non-tombstone op arrives — the same semantics as
    the batch ``cdc_apply_log`` twin, now without any in-order
    delivery assumption. The merge is one window pass over
    batch-latest ∪ store — batch-sized × store-sized, never log-sized —
    and the store is a versioned table (warehouse/manifest.py), like
    the SCD2 dimensions: each batch reads the current version and
    publishes the merge as the next one. Exactly-once across restarts
    comes from the file-source checkpoint. (Tombstone markers accumulate one row per
    deleted key; at real scale pair with a retention sweep that drops
    markers older than the source's max lateness, i.e. the watermark.)
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    s1, s2 = seq_cols

    def merge(batch_df, batch_id):
        spark_l = batch_df.sparkSession
        w = W.partitionBy(key_col).orderBy(F.desc(s1), F.desc(s2))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        latest = latest.withColumn(
            "_deleted",
            tombstone_pred(latest)
            if tombstone_pred is not None
            else F.lit(False),
        )
        if manifest.current_version(spark_l, store_dir) > 0:
            store = manifest.read_version(spark_l, store_dir)
            # same-seq ties (at-least-once redelivery in a new file)
            # break toward the NEW row — '_src' asc puts "new" first
            wm = W.partitionBy(key_col).orderBy(
                F.desc(s1), F.desc(s2), F.asc("_src")
            )
            merged = (
                latest.withColumn("_src", F.lit("new"))
                .unionByName(store.withColumn("_src", F.lit("old")))
                .withColumn("_rn", F.row_number().over(wm))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_src")
            )
        else:
            merged = latest
        # keep_last=2: a reader of the previous store finishes while
        # the next batch publishes
        manifest.publish(
            spark_l, store_dir, merged.write.mode("append").parquet, keep_last=2
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(src_dir)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_chunk_ingest(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema,
) -> int:
    """Drain new document files from ``src_dir`` (availableNow) and
    append each micro-batch's retrieval chunks
    (operators/datapipe.py::chunk_fixed_tokens — fixed-token windows
    with overlap + char-span provenance) to ``out_dir``. Returns input
    rows processed this run — 0 on an idempotent rerun (the
    streaming_minhash_ingest row-count discipline: foreachBatch runs
    exactly once per committed batch, and empty batches skip the write
    so a no-op rerun leaves the store byte-identical).

    foreachBatch, not a streaming window: chunking windows over
    (doc, token position), not event time, which the streaming planner
    would reject without a watermark the data doesn't need. Chunking
    is per-document, so the result is batch-invariant: the union of
    per-batch chunkings equals chunking the union, no matter how the
    files split into micro-batches — the property the oracle checks.
    """
    from evolution_data_warehouse_spark.operators.datapipe import (
        chunk_fixed_tokens,
    )

    processed_rows: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        processed_rows.append(n)
        chunk_fixed_tokens(batch_df).write.mode("append").parquet(out_dir)

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


SESSION_GAP_US = 30 * 60 * 1_000_000


def sessionize_events(
    batch_df: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Gap-and-island sessionization of an event frame into
    ``(user_id, session_start, session_end, n_events)`` intervals —
    the per-batch leg of ``streaming_session_ingest`` and the core of
    the batch ``view_session_durations`` query (module-level so the
    split-invariance property test exercises THIS code, not a copy)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev = F.lag(F.unix_micros("ts")).over(w_ord)
    new_sess = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    s = batch_df.withColumn(
        "g",
        F.sum(new_sess).over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        s.groupBy("user_id", "g")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .drop("g")
    )


def coalesce_session_intervals(
    intervals: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Per-user interval coalescing under the session gap rule (sort
    by start, running-max end, island sum; counts merge by sum) — the
    order-independent merge of ``streaming_session_ingest``."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w_ord = W.partitionBy("user_id").orderBy("session_start", "session_end")
    run_end = F.max(F.unix_micros("session_end")).over(
        w_ord.rowsBetween(W.unboundedPreceding, -1)
    )
    new_isl = F.when(
        run_end.isNull()
        | ((F.unix_micros("session_start") - run_end) > gap_us),
        1,
    ).otherwise(0)
    s = intervals.withColumn(
        "isl",
        F.sum(new_isl).over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        s.groupBy("user_id", "isl")
        .agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .drop("isl")
    )


def streaming_session_ingest(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema,
    gap_us: int = SESSION_GAP_US,
) -> int:
    """Streaming gap-and-island sessionization with a MERGEABLE session
    store. Each micro-batch sessionizes ITS OWN events into
    ``(user_id, session_start, session_end, n_events)`` intervals, then
    merges them into the store by per-user interval coalescing under
    the same gap rule (sort by start; running-max end; new island when
    the next start exceeds the running end by more than the gap).

    Interval coalescing is ORDER-INDEPENDENT: coalescing partial
    sessionizations equals sessionizing the union of events, no matter
    how the files split into micro-batches — connectivity between
    intervals depends only on their endpoints under the same gap
    relation that built them (within-interval gaps are already <= gap).
    That batch-split invariance is what the oracle checks, and it is
    the property that lets a 100 TB event stream keep sessions fresh
    without ever reprocessing closed ones. Counts merge by sum.

    The store is a versioned table like incremental_upsert_latest's:
    each batch merges the current version and publishes the result as
    the next one, so it never overwrites what it reads, and a store it
    cannot read fails the run instead of being rebuilt from one batch.
    Restart idempotence rides the file-source checkpoint
    (row-count-zero rerun, the streaming_minhash_ingest signal).
    Returns input rows processed this run.
    """
    processed_rows: list[int] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n == 0:
            return
        processed_rows.append(n)
        sessions = sessionize_events(
            batch_df.select("user_id", "event_id", "ts"), gap_us
        )
        if manifest.current_version(spark, store_dir) > 0:
            store = manifest.read_version(spark, store_dir)
            sessions = store.unionByName(sessions)
        merged = coalesce_session_intervals(sessions, gap_us)
        # keep_last=2: a reader of the previous store finishes while
        # the next batch publishes
        manifest.publish(
            spark, store_dir, merged.write.mode("append").parquet, keep_last=2
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sum(processed_rows)
