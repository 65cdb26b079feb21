"""Streaming-shaped operators (``stream_*``) and incremental view
maintenance (``ivm_*``), batch-checked against the oracle.

The windowed aggregations share their logical plans with the readStream
variants (streaming/) — Structured Streaming runs the same plan
incrementally. The oracle uses DuckDB's time_bucket (hour buckets align
on :00 in both engines).
"""

from __future__ import annotations

import json as _json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.operators.dedup import content_hash64
from evolution_data_warehouse_spark.operators.gopher import (
    gopher_flags_sql,
    gopher_metrics_sql,
)
from evolution_data_warehouse_spark.queries.common import dsum_sql, fpq, register, t
from evolution_data_warehouse_spark.queries.datapipe import chunk_oracle
from evolution_data_warehouse_spark.queries.dedup import MH_SQL
from evolution_data_warehouse_spark.queries.event_analytics import session_oracle
from evolution_data_warehouse_spark.queries.relational import (
    HLL_M,
    hll_estimate_sql,
    hll_oracle,
    hll_rho,
    hll_sums,
)
from evolution_data_warehouse_spark.queries.scd import current_dim, T0
from evolution_data_warehouse_spark.streaming.events import (
    quality_gate_counts,
    session_window_counts,
    stream_stream_attribution,
    windowed_counts,
)


_WINDOW_ORACLE = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY time_bucket(INTERVAL '1 hour', ts), event_type
"""


@register(
    "stream_window_counts",
    _WINDOW_ORACLE,
    doc="Tumbling-window counts + sums over the event stream (batch twin "
    "of the watermarked streaming query; SURVEY §2.9 extension).",
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_counts(t(spark, sf_dir, "events"), "1 hour")


_INTERVAL_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id,
       p.ts AS purchase_ts,
       v.event_id AS view_id, v.ts AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL '1 hour'
"""


@register(
    "stream_interval_join",
    _INTERVAL_ORACLE,
    doc="Interval attribution join: every view by the same user within "
    "1 hour before a purchase — the batch twin of the watermarked "
    "stream-stream join (streaming/events.py "
    "stream_stream_attribution), whose two-sided watermarks bound join "
    "state on unbounded streams (SURVEY §2.9 extension).",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    return stream_stream_attribution(purchases, views, max_gap="1 hour")


# ---------------------------------------------------------------------------
# Trending top-k per window (streaming-rankable aggregate)
# ---------------------------------------------------------------------------

_TRENDING_ORACLE = """
WITH counts AS (
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY window_start ORDER BY n_events DESC, event_type
    ) AS rank
    FROM counts
)
SELECT window_start, event_type, n_events, rank
FROM ranked WHERE rank <= 3
"""


@register(
    "stream_trending_topk",
    _TRENDING_ORACLE,
    doc="Trending top-3 event types per hourly window — the batch twin "
    "of the streaming pattern 'watermarked windowed counts into a "
    "sink, rank at read': the stream maintains only additive counts "
    "(mergeable, watermark-bounded state), and the rank runs over the "
    "window-cardinality sink, never the raw events. Tie-broken "
    "(n desc, type asc); streaming form checked against this twin in "
    "test_streaming.py. Integer counts, WindowGroupLimit rank.",
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Streaming quality gate — the continuous-ingest curation twin
# ---------------------------------------------------------------------------


def _stream_gate_oracle() -> str:
    m = gopher_metrics_sql("COALESCE(text, '')", prefix="g_")
    gpass = gopher_flags_sql(min_words=20, prefix="g_")["g_gopher_pass"]
    mcols = ", ".join(f"{sql} AS {name}" for name, sql in m.items())
    return f"""
WITH m AS (SELECT source, {mcols} FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {gpass} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_gopher_pass
FROM m GROUP BY source
"""


@register(
    "stream_quality_gate",
    _stream_gate_oracle(),
    doc="Streaming curation gate (batch twin): the Gopher rule suite "
    "applied per-source over a document FEED — streaming/events.py::"
    "quality_gate_counts is one logical plan that Structured "
    "Streaming runs incrementally (readStream + availableNow, "
    "asserted equal to this batch result in test_streaming), which "
    "is how a crawl ingests continuously instead of in daily "
    "batches. Gate + one aggregate: per-source partials are the only "
    "state, merged map-side — the same cost incrementally as in "
    "batch (SURVEY §2.9 extension).",
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_gate_counts(
        t(spark, sf_dir, "documents").select("source", "text")
    )


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
# stream_session_windows — native session_window operator, oracle-checked
# ---------------------------------------------------------------------------

_SESSW_GAP_MIN = 30


_SESSW_GAP = f"{_SESSW_GAP_MIN} minutes"


_SESSW_ORACLE = f"""
WITH marked AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) > INTERVAL {_SESSW_GAP_MIN} MINUTE
                OR lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                ) IS NULL
           THEN 1 ELSE 0 END AS is_start
    FROM events
),
islands AS (
    -- the cumulative sum MUST use the same full (ts, event_id)
    -- tie-break as the lag: with ORDER BY ts alone, two events at an
    -- identical timestamp straddling a session start would be
    -- assigned engine-dependently (only the first of a tie group can
    -- carry is_start = 1; every tied row must sort after it)
    SELECT user_id, ts,
           SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS sess
    FROM marked
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {_SESSW_GAP_MIN} MINUTE AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM islands
GROUP BY user_id, sess
"""


@register(
    "stream_session_windows",
    _SESSW_ORACLE,
    doc="Native session_window() gap-based sessionization (30-min gap) "
    "— Spark's built-in session operator run in batch mode, the same "
    "callable streaming/events.py::session_window_counts feeds to "
    "Structured Streaming (tests/test_streaming.py asserts the "
    "streaming form equals this batch twin across checkpoint "
    "restarts). The oracle is the classic lag + cumulative-sum "
    "gap-islands formulation, so this entry proves the BUILT-IN "
    "operator agrees with the hand-rolled window algebra "
    "(win_session_gap) — window end = last event + gap, per Spark's "
    "session_window contract. Boundary semantics probed empirically: "
    "an event at EXACTLY prev + gap MERGES into the session (verified "
    "on 10:00/10:30/10:59:59 with a 30-min gap -> one 3-event "
    "session), so the oracle's strict 'gap > 30 min starts a new "
    "session' is the exact mirror — do not 'fix' it to >=. One "
    "shuffle on user_id; session state merges map-side. Timestamps "
    "are exact µs integers end to end.",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("user_id", "ts")
    out = session_window_counts(ev, gap=_SESSW_GAP)
    return out.select(
        "session_start",
        "session_end",
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# stream_minhash_ingest — streaming near-dup ingest vs persisted index
# ---------------------------------------------------------------------------


def _stream_minhash_oracle() -> str:
    return f"""
WITH {MH_SQL["signatures"]},
{MH_SQL["batch_candidates"]},
pairs AS (
    SELECT batch_id, ({MH_SQL["eq"]}) AS eq_count
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
# stream_hll_merge — mergeable-sketch maintenance over a file stream
# ---------------------------------------------------------------------------


@register(
    "stream_hll_merge",
    hll_oracle(),
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
        return (
            base.select(
                "grp",
                (F.col("hv") % HLL_M).alias("reg"),
                hll_rho().alias("rho"),
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
        local_table(
            spark, rows, "grp string, reg bigint, mr int"
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
    s = regs.groupBy("grp").agg(*hll_sums())
    x = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    est = F.expr(hll_estimate_sql())
    return s.join(x, "grp").select(
        "grp", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# stream_scd2_ingest — streaming SCD2 dimension maintenance
# ---------------------------------------------------------------------------

_SCD2S_T1 = "2024-01-01 00:00:00"


_SCD2S_T2 = "2024-06-01 00:00:00"


def _scd2s_oracle() -> str:

    return f"""
-- unchanged active rows (never touched by either batch)
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_acctbal >= 0
UNION ALL
-- closed previous versions of keys batch 1 reclassified
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{T0}', TIMESTAMP '{_SCD2S_T1}'
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
    from evolution_data_warehouse_spark.warehouse.manifest import publish
    from evolution_data_warehouse_spark.warehouse.scd_store import (
        read_dimension,
        scd2_foreach_batch,
    )

    root = tempfile.mkdtemp(prefix="stream_scd2_")
    table_dir = f"{root}/dim_customer"
    src = f"{root}/src"
    ckpt = f"{root}/ckpt"
    c = t(spark, sf_dir, "customer")

    # seed the store with the current dimension (version-1 snapshot)
    seed = current_dim(spark, sf_dir)
    publish(spark, table_dir, seed.write.mode("append").parquet)

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
# stream_lateness_audit — measured watermark loss, not just asserted bounds
# ---------------------------------------------------------------------------

_LAT_DELAY = "2 days"


_LAT_SENTINEL_TS = "2024-06-01 00:00:00"  # flush batch; own window never seals


_LATENESS_ORACLE = """
WITH b1 AS (SELECT ts, event_type FROM events
            WHERE event_id % 3 <> 0 AND ts IS NOT NULL),
wm AS (SELECT max(ts) - INTERVAL 2 DAY AS w FROM b1),
b2 AS (
    SELECT e.ts, e.event_type,
           (date_trunc('day', e.ts) + INTERVAL 1 DAY > wm.w) AS kept
    FROM events e, wm WHERE e.event_id % 3 = 0 AND e.ts IS NOT NULL
),
counts AS (
    SELECT date_trunc('day', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (SELECT ts, event_type FROM b1
          UNION ALL SELECT ts, event_type FROM b2 WHERE kept)
    GROUP BY 1, 2
)
SELECT window_start, event_type, n_events FROM counts
UNION ALL
SELECT CAST(NULL AS TIMESTAMP), '_audit_applied_late',
       CAST(COALESCE(SUM(CASE WHEN kept THEN 1 END), 0) AS BIGINT) FROM b2
UNION ALL
SELECT CAST(NULL AS TIMESTAMP), '_audit_dropped_late',
       CAST(COALESCE(SUM(CASE WHEN NOT kept THEN 1 END), 0) AS BIGINT) FROM b2
"""


@register(
    "stream_lateness_audit",
    _LATENESS_ORACLE,
    doc="Watermark-lateness ACCOUNTING for the streaming family: a "
    "1-day windowed count over the events stream drains through one "
    "availableNow checkpoint in two event batches (a 2-day watermark; "
    "batch 2 carries genuinely late rows), and the result carries the "
    "per-run loss ledger — '_audit_applied_late' / "
    "'_audit_dropped_late' are MEASURED from the sealed outputs "
    "(emitted totals minus on-time input; dropped = late-batch input "
    "minus applied), corroborated in-query by Spark's own "
    "numRowsDroppedByWatermark state-operator metric (which counts in "
    "post-partial-aggregation GROUP units, not input rows — measured "
    "here: 135 group-rows vs 3002 input rows at sf0.01 — so the "
    "row-level ledger comes from output accounting and the metric "
    "gates the loss>0-iff-dropped>0 assertion). The oracle reproduces "
    "Spark's drop rule exactly (empirically pinned: a row is dropped "
    "iff its WINDOW END <= the watermark at batch start, max(ts of "
    "prior batches) - delay; a row older than the watermark whose "
    "window is still open IS aggregated), so watermark loss is "
    "oracle-checked, not just asserted. A far-future sentinel batch "
    "flushes every real window through append mode (its own window "
    "never seals and never emits); a zero-input re-drain between "
    "batches must process nothing (restart idempotence). Scale: state "
    "is one row per (open window x type); the watermark bounds it "
    "regardless of stream length — the loss ledger is what a 100 TB "
    "ingest watches to size its lateness SLO. Streaming extension "
    "beyond the reference (SURVEY §2.9; reference has no streaming "
    "surface).",
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="stream_lateness_")
    src, out, ckpt = f"{root}/src", f"{root}/out", f"{root}/ckpt"

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("event_id", "ts", "event_type")
    )
    batch1 = ev.filter(F.col("event_id") % 3 != 0).drop("event_id")
    batch2 = ev.filter(F.col("event_id") % 3 == 0).drop("event_id")
    n1 = batch1.count()
    n2 = batch2.count()
    sentinel = spark.range(1).select(
        F.lit(_LAT_SENTINEL_TS).cast("timestamp").alias("ts"),
        F.lit("SENTINEL").alias("event_type"),
    )

    def drain() -> tuple[int, int]:
        """One availableNow pass; returns (input rows read, state-
        operator rows dropped by the watermark — GROUP units after
        partial aggregation, see the registry doc) summed over the
        run's micro-batches (including the state-flushing no-data
        batch)."""
        agg = (
            spark.readStream.schema("ts timestamp, event_type string")
            .parquet(src)
            .withWatermark("ts", _LAT_DELAY)
            .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                F.col("n_events").cast("bigint").alias("n_events"),
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n_in, n_drop = 0, 0
        for p in q.recentProgress:
            d = _json.loads(p.json)
            n_in += int(d.get("numInputRows", 0))
            for so in d.get("stateOperators", []):
                n_drop += int(so.get("numRowsDroppedByWatermark", 0))
        return n_in, n_drop

    # the drains' state stores and tiny shuffles don't need the
    # session's analytical partition count (200 under the driver's
    # vanilla config made the 4 drains ~25x slower than the work
    # warrants); pin a small count for the streaming section only and
    # restore the caller's setting before building the returned plan
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        batch1.coalesce(1).write.mode("append").parquet(src)
        in1, drop1 = drain()
        batch2.coalesce(1).write.mode("append").parquet(src)
        in2, drop2 = drain()
        in_idem, _ = drain()  # restart idempotence: nothing to process
        sentinel.coalesce(1).write.mode("append").parquet(src)
        drain()  # flush: watermark passes every real window
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    emitted = spark.read.parquet(out).filter(
        F.col("event_type") != "SENTINEL"
    )
    n_emitted = int(
        emitted.agg(F.coalesce(F.sum("n_events"), F.lit(0))).collect()[0][0]
    )
    applied_late = n_emitted - n1  # batch-1 rows are never late
    dropped_late = n2 - applied_late
    if (
        drop1 != 0
        or in1 != n1
        or in2 != n2
        or in_idem != 0
        or not (0 <= applied_late <= n2)
        or (dropped_late > 0) != (drop2 > 0)
    ):
        raise AssertionError(
            "lateness accounting violated: "
            f"drop1={drop1} (want 0), in1={in1}/{n1}, in2={in2}/{n2}, "
            f"idem={in_idem} (want 0), applied={applied_late}, "
            f"dropped={dropped_late}, state-drop-groups={drop2}"
        )
    audit = local_table(
        spark,
        [("_audit_applied_late", applied_late),
         ("_audit_dropped_late", dropped_late)],
        "event_type string, n_events long",
    ).select(
        F.lit(None).cast("timestamp").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
    )
    return emitted.select(
        "window_start", "event_type", "n_events"
    ).unionAll(audit)


# ---------------------------------------------------------------------------
# ivm_agg_retraction — incremental view maintenance with deletes
# ---------------------------------------------------------------------------

_IVM_DEC = "decimal(28,2)"


_IVM_ORACLE = """
WITH base AS (SELECT event_type, value FROM events WHERE event_id % 4 <> 0),
deletes AS (SELECT event_type, value FROM events
            WHERE event_id % 4 <> 0 AND event_id % 8 = 1),
inserts AS (SELECT event_type, value FROM events WHERE event_id % 4 = 0),
final AS (
    -- the ground truth the maintained view must equal: base minus the
    -- retracted rows plus the inserted rows (deletes is a subset of
    -- base by construction, so EXCEPT-by-multiplicity = anti-weight)
    SELECT event_type, value, 1 AS w FROM base
    UNION ALL SELECT event_type, value, -1 FROM deletes
    UNION ALL SELECT event_type, value, 1 FROM inserts
)
SELECT event_type,
       CAST(SUM(w) AS BIGINT) AS n_events,
       CAST(SUM(w * CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
FROM final
GROUP BY event_type
HAVING SUM(w) > 0
"""


@register(
    "ivm_agg_retraction",
    _IVM_ORACLE,
    doc="Incremental view maintenance WITH RETRACTIONS: a materialized "
    "per-type (count, sum) view absorbs a change batch containing "
    "both inserts and deletes of existing base rows by merging "
    "SIGNED delta aggregates — the view updates from the delta alone "
    "(the base is aggregated once and localCheckpoint-materialized; "
    "nothing rescans it), which is the property that makes a 100 TB "
    "materialized view affordable to keep fresh (agg_incremental_"
    "merge covers the append-only half; deletes force the signed-"
    "weight generalization, the Differential-Dataflow-style "
    "multiplicity algebra). Correctness is the recompute oracle over "
    "(base - deletes + inserts); groups whose count reaches zero "
    "vanish on both sides (HAVING > 0). Determinism: counts are "
    "signed integers; sums stay DECIMAL(28,2) through the merge "
    "(exact, associative — the double cast happens once at the end, "
    "so delta-merge == full recompute bit-for-bit). Scale: one "
    "full-outer join of two type-cardinality aggregates.",
)
def ivm_agg_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base = ev.filter(F.col("event_id") % 4 != 0)
    dec = F.col("value").cast(_IVM_DEC)

    # the materialized view state: aggregated ONCE, pinned — the
    # maintenance step below must not re-read the base relation
    view0 = (
        base.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n0"),
            F.sum(dec).alias("s0"),
        )
        .localCheckpoint(eager=True)
    )
    deletes = base.filter(F.col("event_id") % 8 == 1).select(
        "event_type", (-F.lit(1)).alias("w"), (-dec).alias("sv")
    )
    inserts = ev.filter(F.col("event_id") % 4 == 0).select(
        "event_type", F.lit(1).alias("w"), dec.alias("sv")
    )
    delta = (
        deletes.unionByName(inserts)
        .groupBy("event_type")
        .agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum("sv").alias("ds"),
        )
    )
    zero_dec = F.lit(0).cast(_IVM_DEC)
    merged = view0.join(delta, "event_type", "full_outer").select(
        "event_type",
        (
            F.coalesce(F.col("n0"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_events"),
        (
            F.coalesce(F.col("s0"), zero_dec)
            + F.coalesce(F.col("ds"), zero_dec)
        ).alias("s_dec"),
    )
    return merged.filter(F.col("n_events") > 0).select(
        "event_type",
        "n_events",
        F.col("s_dec").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# stream_ivm_ingest — the streaming twin of ivm_agg_retraction
# ---------------------------------------------------------------------------


@register(
    "stream_ivm_ingest",
    _IVM_ORACLE,  # identical final state as the batch twin, by design
    doc="Streaming incremental view maintenance with retractions: the "
    "same signed-weight algebra as ivm_agg_retraction driven through "
    "one availableNow file stream + checkpoint — batch 1 seeds the "
    "view with the base rows (weight +1), batch 2 carries a MIXED "
    "insert/delete changelog (deletes as weight -1 rows), and each "
    "foreachBatch merges the batch's signed aggregate into the "
    "version-directory view store (full-outer + coalesce, DECIMAL "
    "sums all the way — no base rescan ever). The drained store must "
    "equal the batch twin's recompute oracle exactly (same SQL "
    "string, one source of truth); a zero-input re-drain between the "
    "batches must process nothing and leave the version count "
    "unchanged (restart idempotence, asserted in-query). This is the "
    "CDC-to-materialized-aggregate path a warehouse actually runs: "
    "upstream emits +/- rows, the view stays fresh per micro-batch, "
    "groups reaching zero vanish. Scale: per batch one "
    "type-cardinality aggregate + one full-outer join against the "
    "(type-cardinality) store.",
)
def stream_ivm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = tempfile.mkdtemp(prefix="stream_ivm_")
    src, ckpt = f"{root}/src", f"{root}/ckpt"
    store_root = f"{root}/view"

    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dec = F.col("value").cast(_IVM_DEC)
    base = ev.filter(F.col("event_id") % 4 != 0)
    batch1 = base.select(
        "event_type", F.lit(1).alias("w"), F.col("value")
    )
    batch2 = (
        base.filter(F.col("event_id") % 8 == 1)
        .select("event_type", F.lit(-1).alias("w"), F.col("value"))
        .unionByName(
            ev.filter(F.col("event_id") % 4 == 0).select(
                "event_type", F.lit(1).alias("w"), F.col("value")
            )
        )
    )

    versions: list[int] = []
    zero_dec = F.lit(0).cast(_IVM_DEC)

    def merge(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        delta = batch_df.groupBy("event_type").agg(
            F.sum("w").cast("bigint").alias("dn"),
            F.sum(F.col("w") * F.col("value").cast(_IVM_DEC)).alias("ds"),
        )
        if versions:
            cur = spark.read.parquet(f"{store_root}/v{versions[-1]}")
            merged = cur.join(delta, "event_type", "full_outer").select(
                "event_type",
                (
                    F.coalesce(F.col("n"), F.lit(0))
                    + F.coalesce(F.col("dn"), F.lit(0))
                )
                .cast("bigint")
                .alias("n"),
                (
                    F.coalesce(F.col("s"), zero_dec)
                    + F.coalesce(F.col("ds"), zero_dec)
                )
                .cast(_IVM_DEC)
                .alias("s"),
            )
        else:
            merged = delta.select(
                "event_type",
                F.col("dn").alias("n"),
                F.col("ds").cast(_IVM_DEC).alias("s"),
            )
        v = len(versions) + 1
        merged.write.mode("overwrite").parquet(f"{store_root}/v{v}")
        versions.append(v)

    def drain() -> None:
        q = (
            spark.readStream.schema(
                "event_type string, w int, value double"
            )
            .parquet(src)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # type-cardinality merges don't need the session's analytical
    # partition count (the stream_lateness_audit lesson: 200 vanilla
    # partitions make tiny drains ~25x slower); pin small, restore
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        batch1.coalesce(1).write.mode("append").parquet(src)
        drain()
        v_after_1 = len(versions)
        drain()  # restart idempotence: nothing new -> no new version
        v_after_idem = len(versions)
        batch2.coalesce(1).write.mode("append").parquet(src)
        drain()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    if not (v_after_1 == 1 and v_after_idem == 1 and len(versions) == 2):
        raise AssertionError(
            f"streaming IVM idempotence violated: versions {versions}, "
            f"after-batch1 {v_after_1}, after-idem {v_after_idem}"
        )
    final = spark.read.parquet(f"{store_root}/v{versions[-1]}")
    return final.filter(F.col("n") > 0).select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("s").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# stream_lateness_policy_sweep — watermark-delay SLO tuning table
# ---------------------------------------------------------------------------

_LPS_DELAYS = ((6, "6 HOURS"), (24, "1 DAY"), (48, "2 DAYS"), (168, "7 DAYS"))


_LPS_FP = 1_000_000


def _lateness_policy_oracle() -> str:
    legs = []
    for hours, interval in _LPS_DELAYS:
        legs.append(f"""
SELECT {hours} AS delay_hours,
       CAST(COUNT(*) FILTER (WHERE
            date_trunc('day', b2.ts) + INTERVAL 1 DAY
            > wm.mx - INTERVAL {interval}) AS BIGINT) AS n_applied_late,
       CAST(COUNT(*) FILTER (WHERE
            date_trunc('day', b2.ts) + INTERVAL 1 DAY
            <= wm.mx - INTERVAL {interval}) AS BIGINT) AS n_dropped_late
FROM b2, wm""")
    union = " UNION ALL ".join(legs)
    return f"""
WITH b1 AS (SELECT ts FROM events
            WHERE event_id % 3 <> 0 AND ts IS NOT NULL),
wm AS (SELECT max(ts) AS mx FROM b1),
b2 AS (SELECT ts FROM events
       WHERE event_id % 3 = 0 AND ts IS NOT NULL),
sweep AS ({union})
SELECT delay_hours, n_applied_late, n_dropped_late,
       CAST(n_dropped_late * {_LPS_FP}
            // (n_applied_late + n_dropped_late) AS BIGINT) AS loss_ppm
FROM sweep
"""


@register(
    "stream_lateness_policy_sweep",
    _lateness_policy_oracle(),
    doc="Watermark-delay POLICY sweep: for candidate delays of 6h / 1d "
    "/ 2d / 7d, how many of the late batch's rows would the 1-day "
    "windowed aggregation apply vs drop (loss ppm) — the SLO-tuning "
    "table that picks the delay BEFORE deploying the stream "
    "(stream_lateness_audit measures ONE deployed policy through the "
    "real checkpointed stream and empirically pinned the drop rule "
    "this sweep reuses: a row drops iff its window END <= max(prior "
    "batches' ts) - delay; that rule being oracle-checked there is "
    "what licenses evaluating the other policies in closed form here, "
    "without running four checkpoints). Larger delay = less loss but "
    "proportionally more open-window STATE and later results — the "
    "loss column is the half of that tradeoff data can measure. One "
    "scan + calendar-bounded aggregates per policy; all-integer.",
)
def stream_lateness_policy_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    b1 = ev.filter(F.col("event_id") % 3 != 0).select("ts")
    b2 = ev.filter(F.col("event_id") % 3 == 0).select("ts")
    wm = b1.agg(F.max("ts").alias("mx"))
    j = b2.crossJoin(wm)
    win_end = F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")
    out = None
    for hours, interval in _LPS_DELAYS:
        wm_at = F.col("mx") - F.expr(f"INTERVAL {interval}")
        leg = j.agg(
            F.lit(hours).alias("delay_hours"),
            F.sum((win_end > wm_at).cast("int"))
            .cast("bigint")
            .alias("n_applied_late"),
            F.sum((win_end <= wm_at).cast("int"))
            .cast("bigint")
            .alias("n_dropped_late"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out.select(
        "delay_hours",
        "n_applied_late",
        "n_dropped_late",
        F.expr(
            f"n_dropped_late * {_LPS_FP}"
            f" DIV (n_applied_late + n_dropped_late)"
        )
        .cast("bigint")
        .alias("loss_ppm"),
    )


# ---------------------------------------------------------------------------
# stream_chunk_ingest — streaming retrieval-chunk maintenance
# ---------------------------------------------------------------------------


def _stream_chunk_oracle() -> str:
    # the chunk_overlap_spans oracle restricted to the streamed slice
    return chunk_oracle().replace(
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
# stream_session_ingest — mergeable streaming sessionization
# ---------------------------------------------------------------------------


@register(
    "stream_session_ingest",
    session_oracle(),
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

    from evolution_data_warehouse_spark.streaming.incremental import (
        streaming_session_ingest,
    )
    from evolution_data_warehouse_spark.warehouse.manifest import read_version

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
    sessions = read_version(spark, store)
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
