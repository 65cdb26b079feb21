"""Round-13 query batch: maximal-coverage ExactSubstr spans, the
IVF/PQ/OPQ recall-vs-cost frontier, and the streaming
watermark-lateness audit.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float comparison, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
has no substring-level dedup, vector-quantization, or streaming surface
(its dedup is row-level DISTINCT, transformation/nettoyage.py) — this
batch extends the LLM-pipeline and streaming layers beyond reference
parity (the declared SURVEY §7 growth direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64_sql as _ch64_sql,
)
from evolution_data_warehouse_spark.queries.common import register, t

# ---------------------------------------------------------------------------
# dedup_substring_maximal — interval-coalesced ExactSubstr coverage
# ---------------------------------------------------------------------------

# same window width / anchor guard as dedup_substring_cross so the two
# entries describe the same matches at two aggregation semantics
from evolution_data_warehouse_spark.queries.extensions_r12 import (  # noqa: E402
    _XS_MAX_DF,
    _XS_W,
)


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
    from evolution_data_warehouse_spark.operators.dedup import (
        cross_substring_maximal,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("tk")
    )
    return cross_substring_maximal(docs, w=_XS_W, max_anchor_df=_XS_MAX_DF)


# ---------------------------------------------------------------------------
# sim_ann_frontier — the IVF x codec recall/cost operating-point table
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.queries.extensions_r9 import (  # noqa: E402
    _PQ_BOOKS,
    _PQ_M,
    _PQ_QUERY,
    _pq_adc_sql,
    _pq_dist_code_sql,
    _pq_vdefs_sql,
)
from evolution_data_warehouse_spark.queries.extensions_r12 import (  # noqa: E402
    _opq_rotate_sql,
    _pq_exact_dist_sql,
)
from evolution_data_warehouse_spark.queries.opq_model import (  # noqa: E402
    OPQ_BOOKS as _OPQ_BOOKS,
    OPQ_R as _OPQ_R,
)

_FRT_SHORTLIST = 50
_FRT_TRUTH_K = 10
_FRT_FP = 1_000_000
_FRT_PROBES = (1, 2)


def _frontier_probe_order() -> list[int]:
    """Centroid ids by exact distance from the pinned query — computed
    ONCE driver-side from literal model constants (query and centroids
    are both pinned literals) and inlined into engine and oracle alike,
    so probe selection is definitionally identical on both sides."""
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _KM_CENTROIDS,
    )

    dists = []
    for cid, cent in enumerate(_KM_CENTROIDS):
        acc = 0.0
        for x, y in zip(_PQ_QUERY, cent):
            acc += (x - y) * (x - y)
        dists.append((acc, cid))
    dists.sort()
    return [cid for _, cid in dists]


def _frontier_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        opq_adc_lut,
        opq_rotate_query,
        pq_adc_lut,
        pq_quantize_codebooks,
    )
    from evolution_data_warehouse_spark.queries.extensions_r11b import (
        _ivf_corpus_ctes,
    )

    pq_dd, pq_cc = _pq_dist_code_sql(pq_quantize_codebooks(_PQ_BOOKS), "p")
    pq_adc = _pq_adc_sql(pq_adc_lut(_PQ_BOOKS, _PQ_QUERY), "p")
    opq_dd, opq_cc = _pq_dist_code_sql(pq_quantize_codebooks(_OPQ_BOOKS), "o")
    qz = opq_rotate_query(_OPQ_R, _PQ_QUERY)
    opq_adc = _pq_adc_sql(opq_adc_lut(_OPQ_BOOKS, qz), "o")
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
       CAST({_FRT_TRUTH_K} AS BIGINT) AS n_truth,
       CAST(COUNT(*) AS BIGINT) AS n_hit,
       CAST(COUNT(*) * {_FRT_FP} // {_FRT_TRUTH_K} AS BIGINT) AS recall_fp
FROM truth tr JOIN (
    SELECT dd.vec_id FROM {dist_cte} dd
    JOIN cand{p} cc ON cc.vec_id = dd.vec_id
    ORDER BY dd.dist, dd.vec_id LIMIT {_FRT_SHORTLIST}
) s ON s.vec_id = tr.vec_id""")
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH v AS (SELECT vec_id, {_pq_vdefs_sql()} FROM embeddings),
{_opq_rotate_sql()},
{_ivf_corpus_ctes()},
xd AS (SELECT vec_id, {_pq_exact_dist_sql()} AS dist FROM v),
pd AS (SELECT vec_id, {", ".join(pq_dd)} FROM v),
pc AS (SELECT vec_id, CAST({pq_adc} AS BIGINT) AS dist
       FROM (SELECT vec_id, {", ".join(pq_cc)} FROM pd)),
od AS (SELECT vec_id, {", ".join(opq_dd)} FROM rv),
oc AS (SELECT vec_id, CAST({opq_adc} AS BIGINT) AS dist
       FROM (SELECT vec_id, {", ".join(opq_cc)} FROM od)),
truth AS (SELECT vec_id FROM xd ORDER BY dist, vec_id
          LIMIT {_FRT_TRUTH_K}),
{cand_ctes}
{union}
"""


@register(
    "sim_ann_frontier",
    _frontier_oracle(),
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
    from evolution_data_warehouse_spark.operators.similarity import (
        PQ_SCALE,
        ivf_assign,
        opq_adc_lut,
        opq_assign,
        opq_rotate_query,
        pq_adc_lut,
        pq_assign_batch,
        with_norm,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _KM_CENTROIDS,
    )

    emb = t(spark, sf_dir, "embeddings")
    probes = _frontier_probe_order()

    # one row per corpus vector: inverted-list id + all three distances
    corpus_b = ivf_assign(
        with_norm(emb).select("vec_id", "_vec"), _KM_CENTROIDS, n_probe=1
    )
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(PQ_SCALE))).cast(
            "long"
        ),
    )
    q_lit = F.array(
        *[F.lit(round(x * PQ_SCALE)).cast("long") for x in _PQ_QUERY]
    )
    xdist = F.aggregate(
        F.zip_with(vq, q_lit, lambda v, q: (v - q) * (v - q)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )

    def adc_col(codes_df: DataFrame, lut, name: str) -> DataFrame:
        adc = None
        for j in range(_PQ_M):
            term = F.element_at(
                F.array(*[F.lit(x).cast("bigint") for x in lut[j]]),
                F.col(f"code{j}") + 1,
            )
            adc = term if adc is None else adc + term
        return codes_df.select("vec_id", adc.cast("bigint").alias(name))

    dists = (
        emb.select("vec_id", xdist.alias("d_exact"))
        .join(
            adc_col(
                pq_assign_batch(emb, _PQ_BOOKS),
                pq_adc_lut(_PQ_BOOKS, _PQ_QUERY),
                "d_pq",
            ),
            "vec_id",
        )
        .join(
            adc_col(
                opq_assign(emb, _OPQ_R, _OPQ_BOOKS),
                opq_adc_lut(_OPQ_BOOKS, opq_rotate_query(_OPQ_R, _PQ_QUERY)),
                "d_opq",
            ),
            "vec_id",
        )
        .join(corpus_b, "vec_id")
        # 6 shortlist sorts + 2 candidate counts re-read this relation
        .localCheckpoint(eager=True)
    )
    truth = (
        dists.orderBy("d_exact", "vec_id")
        .limit(_FRT_TRUTH_K)
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
            sl = (
                cand.orderBy(dcol, "vec_id")
                .limit(_FRT_SHORTLIST)
                .select("vec_id")
            )
            leg = (
                truth.join(sl, "vec_id")
                .agg(
                    F.lit(p).alias("nprobe"),
                    F.lit(method).alias("method"),
                    F.lit(_FRT_TRUTH_K).cast("bigint").alias("n_truth"),
                    F.count("*").cast("bigint").alias("n_hit"),
                    (F.count("*") * F.lit(_FRT_FP) / F.lit(_FRT_TRUTH_K))
                    .cast("bigint")
                    .alias("recall_fp"),
                )
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
    import json as _json
    import tempfile

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
    audit = spark.createDataFrame(
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
# snk_partitioned_prune — hive-partitioned sink + partition-pruned re-read
# ---------------------------------------------------------------------------

_PART_PRUNE_VALUE = "1-URGENT"

_PART_PRUNE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderpriority = '{_PART_PRUNE_VALUE}'
"""


@register(
    "snk_partitioned_prune",
    _PART_PRUNE_ORACLE,
    doc="Hive-partitioned parquet sink + partition-pruned re-read: the "
    "table is written partitionBy(o_orderpriority) (one directory per "
    "value) and re-read with an equality filter on the partition "
    "column, so the scan lists and reads ONLY the matching directory — "
    "pruning happens at FILE LISTING time, before any footer or page "
    "IO (the directory-layout half of the story next to "
    "snk_clustered_prune's footer-stats half; at 100 TB, partition "
    "pruning is what turns a full-table scan into a 1/N-of-the-table "
    "scan for time/tenant/priority-scoped queries). The plan carries "
    "the filter as PartitionFilters on the scan (locked in "
    "tests/test_plan_invariants.py). Round-trip values are "
    "oracle-checked against the unpartitioned source.",
)
def snk_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.relational import _scratch

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    target = _scratch("snk_partitioned", sf_dir)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        target
    )
    return (
        spark.read.parquet(target)
        .filter(F.col("o_orderpriority") == _PART_PRUNE_VALUE)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
    )


# ---------------------------------------------------------------------------
# sim_ivf_balance_report — inverted-list balance audit for the IVF index
# ---------------------------------------------------------------------------

_IVF_BAL_PPM = 1_000_000


def _ivf_balance_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r11b import (
        _ivf_corpus_ctes,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _KM_CENTROIDS,
    )

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
    from evolution_data_warehouse_spark.operators.similarity import (
        ivf_assign,
        with_norm,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _KM_CENTROIDS,
    )

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
# text_query_likelihood — Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------

# Same pinned query workload as BM25 so the two classical IR scorers
# rank the identical requests (and stay fusable the way sim_rrf_fusion
# fuses BM25 with ANN).
from evolution_data_warehouse_spark.queries.extensions_r11 import (  # noqa: E402
    _BM25_QUERIES,
    _BM25_TOP_K,
)

_QL_MU = 100  # Dirichlet prior mass (Zhai & Lafferty 2001), pinned
_QL_FP = 1_000_000


def _ql_oracle() -> str:
    vals = ", ".join(
        f"({qid}, '{term}')"
        for qid, terms in _BM25_QUERIES
        for term in terms
    )
    # identical float expression shape engine-side: ctf/T first, then
    # the smoothed ratio, then log2, then per-term floor fixed-point
    score = (
        f"floor(log2((CAST(COALESCE(tf.tf, 0) AS DOUBLE) + {_QL_MU} * "
        f"(CAST(ctf.ctf AS DOUBLE) / CAST(g.total_tokens AS DOUBLE))) / "
        f"(CAST(dl.dl AS DOUBLE) + {_QL_MU})) * {_QL_FP})"
    )
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
g AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
ctf AS (
    SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
qv AS (SELECT q.query_id, q.token, ctf.ctf
       FROM q JOIN ctf ON ctf.token = q.token),
terms AS (
    SELECT qv.query_id, dl.doc_id,
           CAST({score.replace('ctf.ctf', 'qv.ctf')} AS BIGINT) AS term_fp
    FROM dl
    CROSS JOIN qv
    LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = qv.token
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp
    FROM terms GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, score_fp,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_fp DESC, doc_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, doc_id, score_fp, rank
FROM ranked WHERE rank <= {_BM25_TOP_K}
"""


@register(
    "text_query_likelihood",
    _ql_oracle(),
    doc="Dirichlet-smoothed query-likelihood retrieval (Zhai & "
    "Lafferty 2001) — the language-modeling IR scorer beside "
    "text_bm25_topk, on the SAME pinned query workload: score(q,d) = "
    "sum_t log2((tf + mu*(ctf/T)) / (dl + mu)), mu=100. Smoothing "
    "means EVERY document scores every in-vocabulary query term "
    "(absent terms fall back to the collection model), so the scoring "
    "relation is docs x |q| — built by EXPLODING the literal query-term "
    "array over the per-doc length table (no join), equi-joining the "
    "isin-pruned <=|q|-row collection-frequency table (broadcast hash "
    "join, which also drops OOV terms) and LEFT-joining tf — strictly "
    "linear in corpus size, never docs x vocab. "
    "Determinism: per-term log2 scores floor-quantize to 1e6 "
    "fixed-point BEFORE the per-query integer sum (the "
    "event_entropy_rate precedent for cross-engine libm parity), "
    "ranking fully tie-broken by doc_id; out-of-vocabulary query "
    "terms drop identically on both engines (standard QL practice — "
    "their smoothed score would be the same constant for every doc). "
    "tf/dl/ctf are the text_tfidf hash-aggregate shapes; corpus "
    "total rides in as a 1-row broadcast; top-k is "
    "rank-over-window under WindowGroupLimit.",
)
def text_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    wide = t(spark, sf_dir, "documents")
    tk = wide.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    g = dl.agg(F.sum("dl").cast("bigint").alias("total_tokens"))
    # collection stats only for the (literal) query terms: an isin
    # prune keeps the broadcast side <= |q| rows however large the
    # vocabulary gets, and the inner join drops OOV terms on both
    # engines identically
    q_tokens = sorted(
        {term for _, terms in _BM25_QUERIES for term in terms}
    )
    ctf = (
        tf.filter(F.col("token").isin(q_tokens))
        .groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("ctf"))
    )
    # the docs x |q| scoring relation comes from EXPLODING the literal
    # query-term array per doc-length row (no cross join — the only
    # remaining non-equi broadcast is the 1-row corpus total)
    q_lit = F.array(
        *[
            F.struct(
                F.lit(qid).alias("query_id"), F.lit(term).alias("token")
            )
            for qid, terms in _BM25_QUERIES
            for term in terms
        ]
    )
    ex = dl.select(
        "doc_id", "dl", F.explode(q_lit).alias("qt")
    ).select(
        "doc_id",
        "dl",
        F.col("qt.query_id").alias("query_id"),
        F.col("qt.token").alias("token"),
    )
    terms = (
        ex.join(F.broadcast(ctf), "token")
        .join(tf, ["doc_id", "token"], "left")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.log2(
                    (
                        F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                        + F.lit(_QL_MU)
                        * (
                            F.col("ctf").cast("double")
                            / F.col("total_tokens").cast("double")
                        )
                    )
                    / (F.col("dl").cast("double") + F.lit(_QL_MU))
                )
                * F.lit(_QL_FP)
            )
            .cast("bigint")
            .alias("term_fp"),
        )
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_fp").cast("bigint").alias("score_fp")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("rank") <= _BM25_TOP_K)
        .select("query_id", "doc_id", "score_fp", "rank")
    )


# ---------------------------------------------------------------------------
# corpus_dup_rate_by_source — per-source curation yield from the
# near-dup clustering
# ---------------------------------------------------------------------------


def _dup_rate_oracle() -> str:
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _CLUSTERS_ORACLE,
    )

    return f"""
WITH clusters AS ({_CLUSTERS_ORACLE}),
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
    from evolution_data_warehouse_spark.queries.llm_ops import (
        dedup_clusters,
    )

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
# sim_adc_batch_topk — batched multi-query compressed-domain ANN scan
# ---------------------------------------------------------------------------

import numpy as _np  # noqa: E402

# Pinned literal query batch: the registered single-query workload
# (_PQ_QUERY, rng 99) plus two more drawn the same way — the serving
# shape is Q queries amortizing ONE code scan.
_BATCH_QUERIES = (
    _PQ_QUERY,
    _np.random.default_rng(101).normal(0, 0.125, 64).tolist(),
    _np.random.default_rng(102).normal(0, 0.125, 64).tolist(),
)
_BATCH_TOP_K = 10


def _adc_batch_oracle() -> str:
    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_quantize_codebooks,
    )

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
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_assign_batch,
    )

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
    from evolution_data_warehouse_spark.operators.similarity import (
        opq_rotated_energy,
    )

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
# dedup_minhash_band_sweep — the measured (b x r) S-curve at fixed budget
# ---------------------------------------------------------------------------

# Every config spends the SAME 16-signature budget; banding choice is
# the knob: many narrow bands collide aggressively (high recall, low
# precision), few wide bands collide conservatively.
_BAND_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))
_BAND_FP = 1_000_000


def _band_sweep_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        N_MINHASH,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _SHINGLES_SQL,
        _mh_sql_fragments,
    )

    f = _mh_sql_fragments()
    ctes, legs = [], []
    for nb, rpb in _BAND_CONFIGS:
        band_selects = []
        for b in range(nb):
            cols = [f"mh{b * rpb + r}" for r in range(rpb)]
            key = (
                "concat_ws('|', "
                + ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
                + ")"
            )
            band_selects.append(
                f"SELECT doc_id, {b} AS band, {key} AS band_key FROM mh"
            )
        ctes.append(f"""
braw{nb} AS ({" UNION ALL ".join(band_selects)}),
b{nb} AS (
    SELECT doc_id, band, band_key FROM (
        SELECT doc_id, band, band_key,
               COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
        FROM braw{nb}
    ) WHERE bucket_n <= {DEFAULT_MAX_BUCKET}
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
       CAST(COALESCE(SUM({f["eq"]}), 0) AS BIGINT) AS sum_eq,
       CAST(CASE WHEN COUNT(*) = 0 THEN 0
            ELSE COALESCE(SUM({f["eq"]}), 0) * {_BAND_FP}
                 // ({N_MINHASH} * COUNT(*)) END AS BIGINT)
           AS mean_est_jaccard_fp
FROM c{nb}
JOIN mh sa ON doc_a = sa.doc_id
JOIN mh sb ON doc_b = sb.doc_id""")
    return f"""
WITH sh AS ({_SHINGLES_SQL}),
h AS (SELECT doc_id, {f["hm"]} AS hm FROM sh),
mh AS (SELECT doc_id, {f["mh_cols"]} FROM h GROUP BY doc_id),
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
    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        N_MINHASH,
        minhash_signature,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _doc_shingles,
    )
    from pyspark.sql import Window as W

    sigs = minhash_signature(
        _doc_shingles(spark, sf_dir)
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
# stats_permutation_test — hash-deterministic label-permutation inference
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.queries.common import (  # noqa: E402
    dsum,
    dsum_sql,
)

_PERM_N = 16  # pinned permutation count (Monte Carlo resolution 1/16)
_PERM_FP = 1_000_000
_PERM_GROUP = "1-URGENT"


def _perm_test_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    rk = content_hash64_sql(
        "'perm' || CAST(i AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)"
    )
    diff = (
        f"CAST(floor((sa / CAST(na AS DOUBLE)"
        f" - sb / CAST(nb AS DOUBLE)) * {_PERM_FP}) AS BIGINT)"
    )
    return f"""
WITH base AS (
    SELECT o_orderkey, o_totalprice AS y,
           (o_orderpriority = '{_PERM_GROUP}') AS grp
    FROM orders
),
sizes AS (
    SELECT CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN grp THEN 0 ELSE 1 END) AS BIGINT) AS nb
    FROM base
),
obs AS (
    SELECT {diff.replace('sa', "s_a").replace('sb', 's_b')} AS obs_fp
    FROM (
        SELECT {dsum_sql('CASE WHEN grp THEN y END', 2)} AS s_a,
               {dsum_sql('CASE WHEN NOT grp THEN y END', 2)} AS s_b
        FROM base
    ), sizes
),
ranked AS (
    SELECT i, grp AS true_grp, y,
           ROW_NUMBER() OVER (
               PARTITION BY i ORDER BY {rk}, o_orderkey) AS rnk
    FROM base, range(0, {_PERM_N}) t(i)
),
perm AS (
    SELECT i,
           {dsum_sql('CASE WHEN rnk <= sizes.na THEN y END', 2)} AS s_a,
           {dsum_sql('CASE WHEN rnk > sizes.na THEN y END', 2)} AS s_b
    FROM ranked, sizes GROUP BY i, sizes.na
),
pd AS (
    SELECT i, {diff.replace('sa', 's_a').replace('sb', 's_b')} AS diff_fp
    FROM perm, sizes
)
SELECT sizes.na AS n_a, sizes.nb AS n_b,
       obs.obs_fp AS obs_diff_fp,
       CAST({_PERM_N} AS BIGINT) AS n_perms,
       CAST(SUM(CASE WHEN abs(pd.diff_fp) >= abs(obs.obs_fp)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       CAST(SUM(CASE WHEN abs(pd.diff_fp) >= abs(obs.obs_fp)
                THEN 1 ELSE 0 END) * {_PERM_FP} // {_PERM_N} AS BIGINT)
           AS p_value_fp
FROM pd, obs, sizes
GROUP BY sizes.na, sizes.nb, obs.obs_fp
"""


@register(
    "stats_permutation_test",
    _perm_test_oracle(),
    doc="Exact-arithmetic permutation test (two-sided, difference of "
    "group means): does the urgent-priority group's mean order value "
    "differ from the rest beyond chance? The null distribution comes "
    "from 16 pinned label permutations — each permutation i re-ranks "
    "rows by the md5 key 'perm i:orderkey' and assigns the first n_a "
    "ranks to the treatment group, preserving EXACT group sizes (true "
    "permutation semantics, not Bernoulli relabeling; md5 ranking is "
    "the repo's zero-state determinism rule, so any engine reproduces "
    "the identical 16 permutations with no RNG). Group sums are "
    "decimal-exact; each mean difference floor-quantizes to 1e6 "
    "fixed-point BEFORE the |diff_i| >= |obs| comparison, so the "
    "p-value is pure integer arithmetic (resolution 1/16 — a "
    "calibration-grade Monte Carlo, the bootstrap_ci sibling for "
    "hypothesis testing). Scale: one explode x 16 + a per-permutation "
    "rank (16 bounded sorts) + hash aggregates — run on an analysis "
    "sample, like every resampling eval.",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("y"),
        (F.col("o_orderpriority") == _PERM_GROUP).alias("grp"),
    )
    sizes = base.agg(
        F.sum(F.when(F.col("grp"), 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("grp"), 0).otherwise(1))
        .cast("bigint")
        .alias("nb"),
    )

    def diff_fp(sa, sb, na, nb):
        return F.floor(
            (sa / na.cast("double") - sb / nb.cast("double"))
            * F.lit(_PERM_FP)
        ).cast("bigint")

    obs = (
        base.agg(
            dsum(F.when(F.col("grp"), F.col("y")), 2).alias("s_a"),
            dsum(F.when(~F.col("grp"), F.col("y")), 2).alias("s_b"),
        )
        .crossJoin(sizes)
        .select(
            "na",
            "nb",
            diff_fp(
                F.col("s_a"), F.col("s_b"), F.col("na"), F.col("nb")
            ).alias("obs_fp"),
        )
    )
    ranked = (
        base.select(
            "o_orderkey",
            "y",
            F.explode(
                F.array(*[F.lit(i) for i in range(_PERM_N)])
            ).alias("i"),
        )
        .withColumn(
            "rk",
            content_hash64(
                F.concat(
                    F.lit("perm"),
                    F.col("i").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("i").orderBy("rk", "o_orderkey")
            ),
        )
    )
    perm = (
        ranked.crossJoin(sizes.select("na"))
        .groupBy("i")
        .agg(
            dsum(
                F.when(F.col("rnk") <= F.col("na"), F.col("y")), 2
            ).alias("s_a"),
            dsum(
                F.when(F.col("rnk") > F.col("na"), F.col("y")), 2
            ).alias("s_b"),
        )
        .crossJoin(sizes)
        .select(
            "i",
            diff_fp(
                F.col("s_a"), F.col("s_b"), F.col("na"), F.col("nb")
            ).alias("diff_fp"),
        )
    )
    return (
        perm.crossJoin(obs)
        .agg(
            F.first("na").alias("n_a"),
            F.first("nb").alias("n_b"),
            F.first("obs_fp").alias("obs_diff_fp"),
            F.lit(_PERM_N).cast("bigint").alias("n_perms"),
            F.sum(
                F.when(
                    F.abs(F.col("diff_fp")) >= F.abs(F.col("obs_fp")), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_extreme"),
        )
        .select(
            "n_a",
            "n_b",
            "obs_diff_fp",
            "n_perms",
            "n_extreme",
            F.expr(f"n_extreme * {_PERM_FP} DIV {_PERM_N}")
            .cast("bigint")
            .alias("p_value_fp"),
        )
    )


# ---------------------------------------------------------------------------
# corpus_token_budget_plan — weights -> an executable sampling plan
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000  # pinned training-run token budget
_BUDGET_FP = 1_000_000


def _budget_plan_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r12 import (
        _doremi_oracle,
    )

    return f"""
WITH w AS ({_doremi_oracle()}),
tok AS (
    SELECT source AS domain,
           CAST(SUM(len(str_split(lower(COALESCE(text, '')), ' ')))
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
    from evolution_data_warehouse_spark.queries.extensions_r12 import (
        corpus_doremi_weights,
    )

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
# quality_t_closeness — the third leg of the k/l/t privacy triad
# ---------------------------------------------------------------------------

_TCL_FP = 1_000_000
_TCL_T_FP = 350_000  # pinned t = 0.35 (total-variation distance)


_TCL_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
gv AS (
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS gcnt FROM q GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
cls AS (
    SELECT c_nationkey, bal_bucket, CAST(COUNT(*) AS BIGINT) AS k
    FROM q GROUP BY 1, 2
),
cv AS (
    SELECT c_nationkey, bal_bucket, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM q GROUP BY 1, 2, 3
),
grid AS (
    SELECT cls.c_nationkey, cls.bal_bucket, cls.k, gv.c_mktsegment,
           gv.gcnt, COALESCE(cv.cnt, 0) AS cnt
    FROM cls CROSS JOIN gv
    LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
               AND cv.bal_bucket = cls.bal_bucket
               AND cv.c_mktsegment = gv.c_mktsegment
)
SELECT c_nationkey, bal_bucket, k,
       CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) AS tvd_fp,
       (CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) > {_TCL_T_FP}) AS leaking
FROM grid, n
GROUP BY c_nationkey, bal_bucket, k, n.n
"""


@register(
    "quality_t_closeness",
    _TCL_ORACLE,
    doc="t-closeness audit (Li et al. 2007) — completes the privacy "
    "triad with quality_k_anonymity / quality_l_diversity on the SAME "
    "quasi-identifier classes (nation x balance bucket) and sensitive "
    "attribute (market segment): a class can be k-anonymous AND "
    "l-diverse yet still leak when its sensitive-value DISTRIBUTION "
    "diverges from the corpus (e.g. 90/10 where the population is "
    "50/50). Per class, the total-variation distance between the "
    "class and global segment distributions, cross-multiplied to pure "
    "integers (sum |cnt*n - gcnt*k| * 1e6 // (2*k*n) — no float ever "
    "compares) with the pinned t = 0.35 verdict column. The class x "
    "value grid comes from CROSS JOIN against the (sensitive-"
    "cardinality, ~5-row) global value table so absent values count "
    "their full global mass — the term a naive inner join silently "
    "drops. One hash aggregate per grain; output is class-cardinality.",
)
def quality_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    from pyspark.sql import Window as W

    # n rides WITH the segment table (unpartitioned window over the
    # ~5-row aggregate) so the grid needs ONE bounded broadcast, not a
    # second scalar one
    gv = (
        q.groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("gcnt"))
        .withColumn(
            "n", F.sum("gcnt").over(W.partitionBy()).cast("bigint")
        )
    )
    cls = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k")
    )
    cv = q.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    grid = (
        cls.crossJoin(F.broadcast(gv))
        .join(cv, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "n",
            "gcnt",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    tvd = F.expr(
        f"sum(abs(cnt * n - gcnt * k)) * {_TCL_FP} DIV (2 * k * n)"
    ).cast("bigint")
    return (
        grid.groupBy("c_nationkey", "bal_bucket", "k", "n")
        .agg(tvd.alias("tvd_fp"))
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "tvd_fp",
            (F.col("tvd_fp") > _TCL_T_FP).alias("leaking"),
        )
    )


# ---------------------------------------------------------------------------
# graph_modularity — clustering quality of the co-purchase communities
# ---------------------------------------------------------------------------

_MOD_FP = 1_000_000_000


def _modularity_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _MIN_EDGE_SUPPORT,
    )

    return f"""
WITH RECURSIVE
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM sym
    UNION
    SELECT e.u, r.label FROM reach r JOIN sym e ON e.v = r.node
),
comm AS MATERIALIZED (
    SELECT node, MIN(label) AS community FROM reach GROUP BY node
),
deg AS (
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
),
dsum AS (
    SELECT c.community, CAST(SUM(d.deg) AS BIGINT) AS d_c,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM comm c JOIN deg d ON d.node = c.node
    GROUP BY c.community
),
intra AS (
    SELECT ca.community, CAST(COUNT(*) AS BIGINT) AS e_c
    FROM ed
    JOIN comm ca ON ca.node = ed.pa
    JOIN comm cb ON cb.node = ed.pb AND cb.community = ca.community
    GROUP BY ca.community
)
SELECT ds.community, ds.n_nodes, ds.d_c,
       CAST(COALESCE(i.e_c, 0) AS BIGINT) AS e_c,
       CAST((4 * m.m * COALESCE(i.e_c, 0) - ds.d_c * ds.d_c)
            * {_MOD_FP} // (4 * m.m * m.m) AS BIGINT) AS contribution_fp
FROM dsum ds LEFT JOIN intra i ON i.community = ds.community, m
"""


@register(
    "graph_modularity",
    _modularity_oracle(),
    doc="Newman modularity of the co-purchase graph's connected "
    "components — the clustering-QUALITY metric the graph family was "
    "missing (pagerank/HITS rank nodes, k-core extracts density, CC "
    "labels clusters; modularity scores whether the labeling beats "
    "chance). Per community: node count, degree mass d_c, intra-"
    "community edges e_c, and the exact-integer contribution "
    "(4*m*e_c - d_c^2) * 1e9 // (4*m^2) whose sum is Q (cross-"
    "multiplied so no float ratio ever forms; magnitudes stay inside "
    "int64 up to ~1e4 edges and the doc notes DECIMAL widening as "
    "the 100 TB escape). Communities come from the repo's bounded "
    "min-label CC (operators/dedup.py::connected_components, the "
    "billion-edge one-join-one-agg-per-iteration discipline); the "
    "oracle runs the same fixpoint as a recursive CTE. Edges reuse "
    "the support-pruned construction shared with triangles/k-core.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        connected_components,
    )
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _edges,
    )

    ed = (
        _edges(spark, sf_dir)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    nodes = sym.select(F.col("u").alias("doc_id")).distinct()
    comm = connected_components(
        nodes, ed, src_col="pa", dst_col="pb"
    ).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("community")
    )
    m = ed.agg(F.count("*").cast("bigint").alias("m"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dsum_c = (
        comm.join(deg, "node")
        .groupBy("community")
        .agg(
            F.sum("deg").cast("bigint").alias("d_c"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    ca = comm.select(
        F.col("node").alias("pa"), F.col("community").alias("comm_a")
    )
    cb = comm.select(
        F.col("node").alias("pb"), F.col("community").alias("comm_b")
    )
    intra = (
        ed.join(ca, "pa")
        .join(cb, "pb")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("community"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    return (
        dsum_c.join(intra, "community", "left")
        .crossJoin(m)
        .select(
            "community",
            "n_nodes",
            "d_c",
            F.coalesce(F.col("e_c"), F.lit(0))
            .cast("bigint")
            .alias("e_c"),
            F.expr(
                f"(4 * m * coalesce(e_c, 0) - d_c * d_c) * {_MOD_FP}"
                f" DIV (4 * m * m)"
            )
            .cast("bigint")
            .alias("contribution_fp"),
        )
    )


# ---------------------------------------------------------------------------
# fe_feature_hashing — the hashing trick, collision-audited
# ---------------------------------------------------------------------------

_FH_BUCKETS = 32


def _feature_hashing_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

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
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

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
# ts_acf_multi_lag — the correlogram (ACF at lags 1, 2, 3, 7)
# ---------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 7)
# same downscale rationale as ts_acf_lag1 (extensions_r10): deviation
# products grow with SF^2 while day count is calendar-bounded, so
# quantizing DOWN keeps sums inside int64 at any scale
_ACFM_DOWNSCALE = 1_000_000


def _acf_multi_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import dsum_sql

    lag_rows = ", ".join(f"({L})" for L in _ACF_LAGS)
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
mu AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily
),
lags(lag) AS (VALUES {lag_rows}),
paired AS (
    SELECT l.lag, d.x, mu.mu, mu.n_days,
           lead(d.x, l.lag) OVER (PARTITION BY l.lag ORDER BY d.day)
               AS x_lead
    FROM daily d CROSS JOIN lags l, mu
),
terms AS (
    SELECT lag, n_days,
           CAST(floor((x - mu) * (x_lead - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS num_q,
           CAST(floor((x - mu) * (x - mu) / {_ACFM_DOWNSCALE})
                AS BIGINT) AS den_q
    FROM paired
)
SELECT CAST(lag AS INT) AS lag,
       MAX(n_days) AS n_days,
       CAST(COUNT(num_q) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS BIGINT)
           AS num_sum,
       CAST(SUM(den_q) AS BIGINT) AS den_sum,
       CAST(SUM(CASE WHEN num_q IS NOT NULL THEN num_q END) AS DOUBLE)
           / CAST(SUM(den_q) AS DOUBLE) AS acf
FROM terms GROUP BY lag
"""


@register(
    "ts_acf_multi_lag",
    _acf_multi_oracle(),
    doc="The correlogram: autocorrelation of the daily revenue series "
    "at lags 1, 2, 3 and 7 in ONE pass — ts_acf_lag1 generalized to "
    "the lag set an analyst actually reads (lag-7 is the weekly-"
    "seasonality detector; the 1-2-3 decay profile separates AR-like "
    "persistence from noise). Identical determinism discipline as the "
    "lag-1 parent: exact decimal daily sums, one broadcast mean, "
    "deviation products floor-quantized to fixed point BEFORE "
    "summation, the classical common denominator sum((x-mu)^2) shared "
    "by every lag. The lag dimension is a 4-row VALUES/literal-array "
    "cross over the DAY-cardinality frame (calendar-bounded, never "
    "corpus-sized), so one window pass per lag partition computes all "
    "four leads.",
)
def ts_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.common import dsum

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
    )
    mu = daily.agg(
        (
            F.sum(F.col("x").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    lagged = daily.select(
        "day",
        "x",
        F.explode(F.array(*[F.lit(L) for L in _ACF_LAGS])).alias("lag"),
    )
    paired = lagged.crossJoin(mu)
    # one ordered window per lag partition; lead distance is the lag
    # value — expressed via a join-free when() ladder over the pinned
    # lag literals (lead() needs a literal offset)
    w = W.partitionBy("lag").orderBy("day")
    x_lead = None
    for L in _ACF_LAGS:
        expr = F.lead("x", L).over(w)
        x_lead = (
            F.when(F.col("lag") == L, expr)
            if x_lead is None
            else x_lead.when(F.col("lag") == L, expr)
        )
    paired = paired.select(
        "lag", "x", "mu", "n_days", x_lead.alias("x_lead")
    )
    num_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x_lead") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    den_q = F.floor(
        (F.col("x") - F.col("mu"))
        * (F.col("x") - F.col("mu"))
        / _ACFM_DOWNSCALE
    ).cast("bigint")
    terms = paired.select(
        F.col("lag").cast("int").alias("lag"),
        "n_days",
        num_q.alias("num_q"),
        den_q.alias("den_q"),
    )
    return terms.groupBy("lag").agg(
        F.max("n_days").alias("n_days"),
        F.count("num_q").cast("bigint").alias("n_pairs"),
        F.sum("num_q").cast("bigint").alias("num_sum"),
        F.sum("den_q").cast("bigint").alias("den_sum"),
        (
            F.sum("num_q").cast("double") / F.sum("den_q").cast("double")
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# ts_seasonal_residual_anomaly — deseasonalized spike detection
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.queries.common import (  # noqa: E402
    fpq,
    fpq_sql,
)

_SRA_Z = 3  # |residual| > 3 sigma flags the day


def _seasonal_resid_oracle() -> str:
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day,
           -- DuckDB dayofweek is 0-6 (Sunday=0); Spark's is 1-7
           -- (Sunday=1) — align on Spark's convention
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           {dsum_sql('o_totalprice')} AS v
    FROM orders GROUP BY 1, 2
),
season AS (
    SELECT dow,
           CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS expected
    FROM daily GROUP BY dow
),
resid AS (
    SELECT d.day, d.dow, d.v, s.expected, d.v - s.expected AS r
    FROM daily d JOIN season s ON s.dow = d.dow
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('r', 6)} AS s1,
           {dsum_sql('r * r / 1000000.0', 6)} AS s2m
    FROM resid
),
z AS (
    SELECT r.day, r.dow, r.v, r.expected, r.r,
           sqrt(greatest(
               s2m * 1000000.0 / CAST(n AS DOUBLE)
               - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
               1e-9)) AS sigma
    FROM resid r, mom
)
SELECT day, dow,
       {fpq_sql('v', 4)} AS v,
       {fpq_sql('expected', 4)} AS expected,
       {fpq_sql('r / sigma', 4)} AS z
FROM z WHERE abs(r) > {_SRA_Z} * sigma
"""


@register(
    "ts_seasonal_residual_anomaly",
    _seasonal_resid_oracle(),
    doc="Deseasonalized anomaly detection: remove the weekday seasonal "
    "index (per-weekday mean of the daily revenue series — the "
    "ts_weekday_seasonality model) and flag days whose RESIDUAL "
    "exceeds 3 residual-sigmas — the spike detector that does not "
    "false-alarm on 'every Saturday is high' the way a raw z-score "
    "does (event_error_spike) and does not need a trailing window "
    "(ts_peak_detection). Decimal-exact daily sums and residual "
    "moments (the r^2 sum pre-divides by 1e6 inside the decimal cast "
    "— deviation squares grow with SF^2), one identical IEEE "
    "sigma/ratio expression chain on both engines, epsilon-guarded "
    "variance, fpq-quantized output. Everything after the daily "
    "aggregate is calendar-bounded (7-row season model broadcast, "
    "1-row moments).",
)
def ts_seasonal_residual_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from evolution_data_warehouse_spark.queries.common import dsum

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").alias("day"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
        )
        .agg(dsum("o_totalprice").alias("v"))
    )
    season = daily.groupBy("dow").agg(
        (
            F.sum(F.col("v").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("expected")
    )
    resid = daily.join(season, "dow").select(
        "day", "dow", "v", "expected",
        (F.col("v") - F.col("expected")).alias("r"),
    )
    mom = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("r", 6).alias("s1"),
        dsum(F.col("r") * F.col("r") / F.lit(1000000.0), 6).alias("s2m"),
    )
    z = resid.crossJoin(mom).select(
        "day", "dow", "v", "expected", "r",
        F.sqrt(
            F.greatest(
                F.col("s2m") * F.lit(1000000.0) / F.col("n").cast("double")
                - (F.col("s1") / F.col("n").cast("double"))
                * (F.col("s1") / F.col("n").cast("double")),
                F.lit(1e-9),
            )
        ).alias("sigma"),
    )
    return z.filter(
        F.abs(F.col("r")) > F.lit(_SRA_Z) * F.col("sigma")
    ).select(
        "day",
        "dow",
        fpq("v", 4).alias("v"),
        fpq("expected", 4).alias("expected"),
        fpq(F.col("r") / F.col("sigma"), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# stats_power_analysis — experiment sample-size design
# ---------------------------------------------------------------------------

# Pinned design constants: two-sided alpha = 0.05 (z = 1.96), power =
# 0.80 (z = 0.8416), minimum detectable effect = 2% of the segment
# mean. Exact decimal literals so both engines fold the same doubles.
_PWR_Z_ALPHA = "1.96"
_PWR_Z_BETA = "0.8416"
_PWR_MDE_NUM, _PWR_MDE_DEN = 2, 100  # MDE = 2% of mean


def _power_oracle() -> str:
    za, zb = _PWR_Z_ALPHA, _PWR_Z_BETA
    return f"""
WITH base AS (
    SELECT c_mktsegment AS segment, c_acctbal AS y FROM customer
),
mom AS (
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           {dsum_sql('y', 2)} AS s1,
           {dsum_sql('y * y / 1000.0', 6)} AS s2m
    FROM base GROUP BY segment
),
st AS (
    SELECT segment, n_obs,
           s1 / CAST(n_obs AS DOUBLE) AS mean,
           greatest(s2m * 1000.0 / CAST(n_obs AS DOUBLE)
                    - (s1 / CAST(n_obs AS DOUBLE))
                    * (s1 / CAST(n_obs AS DOUBLE)), 0.0) AS variance
    FROM mom
)
SELECT segment, n_obs,
       {fpq_sql('mean', 4)} AS mean,
       {fpq_sql('variance', 2)} AS variance,
       CAST(ceil(2.0 * ({za} + {zb}) * ({za} + {zb}) * variance
                 / ((mean * {_PWR_MDE_NUM} / {_PWR_MDE_DEN})
                    * (mean * {_PWR_MDE_NUM} / {_PWR_MDE_DEN})))
            AS BIGINT) AS required_n_per_arm
FROM st
"""


@register(
    "stats_power_analysis",
    _power_oracle(),
    doc="Experiment sample-size design — the missing PRE-experiment "
    "half of the A/B family (stats_ab_test/cuped/mannwhitney analyze "
    "results; this sizes the experiment first): per customer segment, "
    "the two-arm n needed to detect a 2% lift in mean balance at "
    "alpha = 0.05 / power = 0.80 — n = 2(z_a+z_b)^2 sigma^2 / MDE^2, "
    "the standard normal-approximation formula. Variance from "
    "decimal-exact moments (the y^2 sum pre-divides by 1e3 inside "
    "the decimal cast), pinned z constants as exact double literals, "
    "ONE identical IEEE expression chain ending in an integer ceil "
    "(ceil at a representable boundary cannot diverge because both "
    "engines evaluate the same double). One hash aggregate at "
    "segment cardinality; output is segment-sized at any scale.",
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.common import dsum

    base = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("y"),
    )
    mom = base.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        dsum("y", 2).alias("s1"),
        dsum(F.col("y") * F.col("y") / F.lit(1000.0), 6).alias("s2m"),
    )
    n_d = F.col("n_obs").cast("double")
    mean = F.col("s1") / n_d
    variance = F.greatest(
        F.col("s2m") * F.lit(1000.0) / n_d - mean * mean, F.lit(0.0)
    )
    za_zb = F.lit(float(_PWR_Z_ALPHA)) + F.lit(float(_PWR_Z_BETA))
    mde = mean * F.lit(_PWR_MDE_NUM) / F.lit(_PWR_MDE_DEN)
    return mom.select(
        "segment",
        "n_obs",
        fpq(mean, 4).alias("mean"),
        fpq(variance, 2).alias("variance"),
        F.ceil(F.lit(2.0) * za_zb * za_zb * variance / (mde * mde))
        .cast("bigint")
        .alias("required_n_per_arm"),
    )


# ---------------------------------------------------------------------------
# emb_knn_graph — the k-nearest-neighbor graph over IVF lists
# ---------------------------------------------------------------------------

_KNN_K = 5


def _knn_graph_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r11b import (
        _ivf_corpus_ctes,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _dot_sql,
        _sqnorm_sql,
    )

    return f"""
WITH e AS (
    SELECT vec_id, embedding, sqrt({_sqnorm_sql('embeddings')}) AS norm
    FROM embeddings
),
{_ivf_corpus_ctes()},
j AS (
    SELECT e.vec_id, e.embedding, e.norm, cb.centroid_id
    FROM e JOIN corpus_b cb ON cb.vec_id = e.vec_id
),
scored AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id, a.centroid_id,
           ({_dot_sql('a', 'b')}) / NULLIF(a.norm * b.norm, 0.0) AS cosine
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
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators import similarity as sim
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _KM_CENTROIDS,
    )

    e = sim.with_norm(t(spark, sf_dir, "embeddings")).select(
        "vec_id", "_vec", "_norm"
    )
    assign = sim.ivf_assign(e, _KM_CENTROIDS, n_probe=1)
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
            sim.cosine(
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
    from pyspark.sql import Window as W

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
# tok_fertility_by_lang — tokenizer fertility per language
# ---------------------------------------------------------------------------

_FERT_FP = 1_000_000


def _fertility_oracle() -> str:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_sql,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    s = bpe_segment_sql("w", _BPE_MERGES)
    return f"""
WITH toks AS (
    SELECT doc_id, lang, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (
    SELECT doc_id, lang, unnest(tk) AS w FROM toks
),
words AS (SELECT doc_id, lang, w FROM wraw WHERE w <> ''),
seg AS (
    SELECT lang, CAST(len(str_split({s}, ' ')) AS BIGINT) AS n_subs
    FROM words
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_subs) AS BIGINT) AS n_subwords,
       CAST(SUM(n_subs) * {_FERT_FP} // COUNT(*) AS BIGINT)
           AS fertility_fp
FROM seg GROUP BY lang
"""


@register(
    "tok_fertility_by_lang",
    _fertility_oracle(),
    doc="Tokenizer fertility per language — subwords emitted per "
    "whitespace word under the pinned 12-merge BPE (the standard "
    "multilingual-tokenizer equity metric: a vocabulary trained on "
    "one language over-fragments the others, inflating their "
    "training cost per word; fertility per language is the number "
    "that exposes it, cf. the XLM-R/BLOOM tokenizer analyses). "
    "Segmentation reuses operators/bpe.py's single-source merge "
    "spec on BOTH engines (bpe_apply_merges / bpe_segment_sql — the "
    "tok_bpe_encode machinery, here aggregated by the corpus' "
    "labeled lang instead of doc); fertility is integer ppm. Scale: "
    "the merge loop runs once per DISTINCT word (Zipf-bounded) and "
    "equi-joins back; the rollup is one hash aggregate at language "
    "cardinality.",
)
def tok_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    enc = bpe_encode_ids(
        t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
    )
    per_doc = enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_subwords"),
        F.countDistinct("word_pos").cast("bigint").alias("n_words"),
    )
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_subwords").cast("bigint").alias("n_subwords"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            F.expr(f"n_subwords * {_FERT_FP} DIV n_words")
            .cast("bigint")
            .alias("fertility_fp"),
        )
    )


# ---------------------------------------------------------------------------
# sim_lsh_recall_eval — hyperplane-LSH recall vs probe radius
# ---------------------------------------------------------------------------

_LSHR_FP = 1_000_000
_LSHR_BITS = 8  # signature width (len(_PLANES))


def _lsh_recall_oracle() -> str:
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _ANN_ORACLE,
        _lsh_bucket_sql,
    )

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
    "bucket math composes llm_ops._lsh_bucket_sql — single sources of "
    "truth on both axes. Probing is an 8-literal explode (XOR per "
    "bit), candidates an equi-join on the probed bucket id; recall "
    "integer fixed-point. Scale: the eval runs on a query sample; "
    "production probing is the same equi-join at any corpus size.",
)
def sim_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        as_double,
        hyperplane_signature,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _PLANES,
        sim_ann_bruteforce,
    )

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("_vec")
    )
    b = e.select(
        "vec_id",
        hyperplane_signature(F.col("_vec"), _PLANES).alias("bucket"),
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
# quality_dp_count_release — deterministic differential-privacy release
# ---------------------------------------------------------------------------

_DP_EPS_NUM, _DP_EPS_DEN = 1, 2  # epsilon = 0.5 -> Laplace scale b = 2
_DP_U_DEN = 1 << 52  # dyadic uniform: (h % 2^52) / 2^52 is exact


def _dp_release_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    h = content_hash64_sql("'dp:' || CAST(c_nationkey AS VARCHAR)")
    b = f"({_DP_EPS_DEN}.0 / {_DP_EPS_NUM}.0)"
    u = f"(CAST({h} % {_DP_U_DEN} AS DOUBLE) / {_DP_U_DEN}.0)"
    v = f"({u} - 0.5)"
    noise = (
        f"(-{b} * (CASE WHEN {v} >= 0 THEN 1.0 ELSE -1.0 END)"
        f" * ln(greatest(1.0 - 2.0 * abs({v}), 1e-12)))"
    )
    return f"""
WITH c AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM customer GROUP BY 1
)
SELECT c_nationkey, n_true,
       {fpq_sql(noise, 6)} AS noise,
       {fpq_sql(f'CAST(n_true AS DOUBLE) + {noise}', 6)} AS n_noisy
FROM c
"""


@register(
    "quality_dp_count_release",
    _dp_release_oracle(),
    doc="Differentially-private count release (epsilon = 0.5 Laplace "
    "mechanism, sensitivity-1 counting query) — the RELEASE side of "
    "the privacy family (k/l/t audit what a table leaks; this is how "
    "an engine publishes aggregate counts with a formal guarantee). "
    "The Laplace draw is DETERMINISTIC with zero RNG state: the "
    "uniform is the dyadic (md5 % 2^52)/2^52 of the group key (exact "
    "in double — numerator < 2^52, denominator a power of two) pushed "
    "through the inverse CDF -b*sign(v)*ln(1-2|v|), the repo's "
    "hash-not-rng rule applied to noise (NOTE: a production DP "
    "deployment must key the hash with a SECRET salt and fresh "
    "release id — a public deterministic draw is auditable, which is "
    "what an ORACLE needs and a privacy release must avoid; the "
    "mechanism and calibration are what this entry verifies). ln is "
    "the fn_math_suite-licensed transcendental, epsilon-guarded at "
    "the u->0 pole, fpq-quantized. One hash aggregate + pure "
    "projection.",
)
def quality_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    c = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_true"))
    )
    h = content_hash64(
        F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))
    )
    u = (h % F.lit(_DP_U_DEN)).cast("double") / F.lit(float(_DP_U_DEN))
    v = u - F.lit(0.5)
    b = F.lit(float(_DP_EPS_DEN) / float(_DP_EPS_NUM))
    noise = (
        -b
        * F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(v), F.lit(1e-12)
            )
        )
    )
    return c.select(
        "c_nationkey",
        "n_true",
        fpq(noise, 6).alias("noise"),
        fpq(F.col("n_true").cast("double") + noise, 6).alias("n_noisy"),
    )


# ---------------------------------------------------------------------------
# graph_assortativity — degree-degree correlation of the co-purchase graph
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _MIN_EDGE_SUPPORT,
    )

    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
pairs AS (
    SELECT du.d AS dx, dv.d AS dy
    FROM sym e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m2,
           CAST(SUM(dx) AS BIGINT) AS sx,
           CAST(SUM(dx * dx) AS BIGINT) AS sxx,
           CAST(SUM(dx * dy) AS BIGINT) AS sxy
    FROM pairs
)
SELECT m2, sx, sxx, sxy,
       {fpq_sql(
           '(CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)'
           ' / greatest(CAST(m2 AS DOUBLE) * sxx'
           ' - CAST(sx AS DOUBLE) * sx, 1e-9)', 6
       )} AS assortativity
FROM mom
"""


@register(
    "graph_assortativity",
    _assortativity_oracle(),
    doc="Degree assortativity (Newman 2002) of the support-pruned "
    "co-purchase graph: the Pearson correlation of endpoint degrees "
    "over the symmetric edge list — positive means hubs link to hubs "
    "(social-network-like), negative means hub-and-spoke "
    "(catalog-like), the one-number structural fingerprint that "
    "decides whether degree-based sampling/salting strategies will "
    "see correlated hot endpoints. On the symmetric list the two "
    "endpoint marginals are identical, so r = (M*Sxy - Sx^2) / "
    "(M*Sxx - Sx^2) with ALL four moments exact int64 (degrees are "
    "integers; Sxy <= M*dmax^2 stays in range), one epsilon-guarded "
    "float division at the end, fpq-quantized. Shapes: the shared "
    "edge construction + two degree joins + one zero-key aggregate.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _edges,
    )

    ed = _edges(spark, sf_dir).select("pa", "pb")
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = sym.join(du, "u").join(dv, "v")
    mom = pairs.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    num = (
        F.col("m2").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sx")
    )
    den = F.greatest(
        F.col("m2").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
        F.lit(1e-9),
    )
    return mom.select(
        "m2", "sx", "sxx", "sxy", fpq(num / den, 6).alias("assortativity")
    )


# ---------------------------------------------------------------------------
# text_burstiness_dispersion — per-term dispersion over documents
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 20  # report terms appearing in >= 20 docs
_BURST_FP = 1_000_000


_BURST_ORACLE = f"""
WITH tk AS (
    SELECT doc_id,
           unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
stats AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS ctf,
           CAST(SUM(tf * tf) AS BIGINT) AS ctf2
    FROM tf GROUP BY token
)
SELECT token, df, ctf,
       CAST((ctf2 * n.n_docs - ctf * ctf) * {_BURST_FP}
            // (ctf * n.n_docs) AS BIGINT) AS dispersion_fp
FROM stats, nd n
WHERE df >= {_BURST_MIN_DF}
"""


@register(
    "text_burstiness_dispersion",
    _BURST_ORACLE,
    doc="Term burstiness via the index of dispersion (variance-to-mean "
    "ratio of per-document term frequency, absent docs counted as 0 "
    "— Church & Gale's burstiness): ~1e6 (the Poisson line, in ppm) "
    "means a term scatters uniformly (function words); far above "
    "means it BURSTS in few documents (topical/content words, "
    "boilerplate) — the corpus-linguistics signal that separates "
    "topic vocabulary from glue and flags template contamination "
    "beside text_template_ratio. Exact integer identity: with N docs "
    "and per-doc counts summing to ctf / squares to ctf2 (zeros "
    "contribute nothing), variance/mean = (ctf2*N - ctf^2)/(ctf*N) "
    "— cross-multiplied, floor-quantized to ppm, no float ever "
    "forms. Reported for terms with df >= 20 so the output is "
    "vocabulary-bounded; the stats are ONE hash aggregate over the "
    "(doc, token) tf relation, the text_tfidf shape.",
)
def text_burstiness_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    nd = tf.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    stats = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("ctf"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("ctf2"),
    )
    return (
        stats.filter(F.col("df") >= _BURST_MIN_DF)
        .crossJoin(nd)
        .select(
            "token",
            "df",
            "ctf",
            F.expr(
                f"(ctf2 * n_docs - ctf * ctf) * {_BURST_FP}"
                f" DIV (ctf * n_docs)"
            )
            .cast("bigint")
            .alias("dispersion_fp"),
        )
    )


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
# text_keyphrase_rake — RAKE keyphrase extraction
# ---------------------------------------------------------------------------

from evolution_data_warehouse_spark.operators import textops as _textops  # noqa: E402

# Boundary set: union of all language stopword lists (the repo's
# pinned 25-word multilingual set) — RAKE splits candidate phrases at
# stopwords; phrases of 1..4 tokens are scored.
_RAKE_STOPS = tuple(
    sorted({w for ws in _textops.STOPWORDS.values() for w in ws})
)
_RAKE_MAX_LEN = 4
_RAKE_TOP_K = 20
_RAKE_FP = 1_000_000


def _rake_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    return f"""
WITH tk AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, tok[i] AS token
    FROM (SELECT doc_id, str_split(lower(COALESCE(text, '')), ' ') AS tok
          FROM documents),
         LATERAL unnest(range(1, len(tok) + 1)) t(i)
),
marked AS (
    SELECT doc_id, pos, token,
           (token IN ({stops}) OR token = '') AS is_stop
    FROM tk
),
content AS (
    SELECT doc_id, pos, token,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
    FROM marked WHERE NOT is_stop
),
phr AS (
    SELECT doc_id, island,
           string_agg(token, ' ' ORDER BY pos) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS plen
    FROM content GROUP BY doc_id, island
),
phrases AS (
    SELECT doc_id, phrase, plen FROM phr
    WHERE plen BETWEEN 1 AND {_RAKE_MAX_LEN}
),
members AS (
    SELECT phrase, plen, unnest(str_split(phrase, ' ')) AS w
    FROM phrases
),
wstats AS (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM members GROUP BY w
),
pscore AS (
    SELECT m.phrase,
           CAST(SUM(ws.deg * {_RAKE_FP} // ws.freq) AS BIGINT) AS score_fp
    FROM (SELECT DISTINCT phrase, w FROM members) m
    JOIN wstats ws ON ws.w = m.w
    GROUP BY m.phrase
),
pcount AS (
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM phrases GROUP BY phrase
),
ranked AS (
    SELECT p.phrase, c.n_occurrences, p.score_fp,
           CAST(ROW_NUMBER() OVER (
               ORDER BY p.score_fp DESC, p.phrase) AS INT) AS rank
    FROM pscore p JOIN pcount c ON c.phrase = p.phrase
)
SELECT phrase, n_occurrences, score_fp, rank
FROM ranked WHERE rank <= {_RAKE_TOP_K}
"""


@register(
    "text_keyphrase_rake",
    _rake_oracle(),
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs (1-4 tokens; "
    "boundary set = the pinned 25-word multilingual stopword union), "
    "each scored by the classic sum over member words of "
    "degree/frequency — degree counting the total length of every "
    "phrase a word appears in, the co-occurrence signal that ranks "
    "multi-word terms above their parts (text_keywords_topk ranks "
    "single tokens; this surfaces PHRASES). Deterministic: phrase "
    "runs come from the gaps-and-islands window (position - "
    "row_number), per-word deg/freq are integers, each word's "
    "deg*1e6//freq floor-quantizes BEFORE the per-phrase sum, and "
    "the corpus top-20 is fully tie-broken by phrase text. Scale: "
    "one explode + two hash aggregates (phrase build, word stats) + "
    "a distinct member join — all token-linear; the final top-k is a "
    "TakeOrderedAndProject over the distinct-phrase table.",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tk = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
            ).alias("p0", "token"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "token")
    )
    is_stop = F.col("token").isin(list(_RAKE_STOPS)) | (
        F.col("token") == ""
    )
    content = tk.filter(~is_stop).withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    phr = content.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "token")))
            .getField("token")
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    phrases = phr.filter(
        (F.col("plen") >= 1) & (F.col("plen") <= _RAKE_MAX_LEN)
    ).select("phrase", "plen")
    members = phrases.select(
        "phrase", "plen", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    wstats = members.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    pscore = (
        members.select("phrase", "w")
        .distinct()
        .join(wstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(F.expr(f"deg * {_RAKE_FP} DIV freq"))
            .cast("bigint")
            .alias("score_fp")
        )
    )
    pcount = phrases.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    ranked = (
        pscore.join(pcount, "phrase")
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("score_fp"), F.asc("phrase")))
            .cast("int"),
        )
        .filter(F.col("rank") <= _RAKE_TOP_K)
    )
    return ranked.select("phrase", "n_occurrences", "score_fp", "rank")


# ---------------------------------------------------------------------------
# ts_theil_sen_trend — robust trend slope of the daily series
# ---------------------------------------------------------------------------

_TS_FP = 1_000_000


def _theil_sen_oracle() -> str:
    return f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS x
    FROM orders GROUP BY o_orderdate
),
pairs AS (
    SELECT CAST(floor((b.x - a.x)
                / CAST(datediff('day', a.day, b.day) AS DOUBLE)
                * {_TS_FP}) AS BIGINT) AS slope_fp
    FROM daily a JOIN daily b ON b.day > a.day
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM pairs),
ranked AS (
    SELECT slope_fp,
           ROW_NUMBER() OVER (ORDER BY slope_fp) AS rn
    FROM pairs
)
SELECT n.n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
       r.slope_fp AS theil_sen_slope_fp,
       (SELECT MIN(slope_fp) FROM pairs) AS min_slope_fp,
       (SELECT MAX(slope_fp) FROM pairs) AS max_slope_fp
FROM ranked r, n
WHERE r.rn = (n.n_pairs + 1) // 2
"""


@register(
    "ts_theil_sen_trend",
    _theil_sen_oracle(),
    doc="Theil-Sen robust trend estimator over the daily revenue "
    "series: the LOWER MEDIAN of all pairwise slopes (x_j - x_i) / "
    "(day_j - day_i), i < j — the outlier-resistant alternative to "
    "agg_linreg_slope's least squares (a single anomalous day moves "
    "OLS, not the slope median; breakdown point 29%). Determinism: "
    "each pairwise slope floor-quantizes to 1e6 fixed point, the "
    "median is the exact (n+1)//2-th order statistic (LOWER median — "
    "never the engine-dependent average of two middles), day "
    "differences are integer datediffs. Scale: the pair relation is "
    "CALENDAR-bounded (~2.4k days -> ~2.9M pairs at ANY corpus "
    "size), so the one global sort it takes is a fixed-size job "
    "regardless of SF — the same bounded-frame argument as every "
    "daily-series query.",
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.common import dsum

    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("x"))
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"))
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .select(
            F.floor(
                (F.col("xb") - F.col("xa"))
                / F.datediff("db", "da").cast("double")
                * F.lit(_TS_FP)
            )
            .cast("bigint")
            .alias("slope_fp")
        )
        .localCheckpoint(eager=True)
    )
    stats = pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.min("slope_fp").alias("min_slope_fp"),
        F.max("slope_fp").alias("max_slope_fp"),
    )
    n_days = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    ranked = pairs.withColumn(
        "rn", F.row_number().over(W.orderBy("slope_fp"))
    )
    med = (
        ranked.crossJoin(stats.select("n_pairs"))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select(F.col("slope_fp").alias("theil_sen_slope_fp"))
    )
    return (
        stats.crossJoin(n_days)
        .crossJoin(F.broadcast(med))
        .select(
            "n_pairs",
            "n_days",
            "theil_sen_slope_fp",
            "min_slope_fp",
            "max_slope_fp",
        )
    )


# ---------------------------------------------------------------------------
# tok_vocab_coverage_curve — cumulative corpus coverage by vocab rank
# ---------------------------------------------------------------------------

_VCC_RANKS = (10, 100, 1000)
_VCC_FP = 1_000_000

_VCC_ORACLE = f"""
WITH tk AS (
    SELECT unnest(str_split(lower(COALESCE(text, '')), ' ')) AS token
    FROM documents
),
wstats AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS ctf FROM tk GROUP BY token
),
tot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS total FROM wstats),
ranked AS (
    SELECT token, ctf,
           ROW_NUMBER() OVER (ORDER BY ctf DESC, token) AS rnk,
           SUM(ctf) OVER (ORDER BY ctf DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
    FROM wstats
)
SELECT CAST(rnk AS BIGINT) AS vocab_size,
       CAST(cum AS BIGINT) AS tokens_covered,
       t.total AS total_tokens,
       CAST(cum * {_VCC_FP} // t.total AS BIGINT) AS coverage_ppm
FROM ranked, tot t
WHERE rnk IN ({", ".join(str(r) for r in _VCC_RANKS)})
"""


@register(
    "tok_vocab_coverage_curve",
    _VCC_ORACLE,
    doc="Vocabulary coverage curve: what fraction of all corpus token "
    "OCCURRENCES do the top-10 / top-100 / top-1000 word types cover "
    "(frequency-ranked, fully tie-broken by token text)? The "
    "Zipf-area number that sizes a vocabulary before training a "
    "tokenizer — coverage at the candidate vocab size bounds the OOV "
    "mass a word-level model eats, and the curve's flatness is what "
    "justifies subword units at all (text_zipf_slope fits the "
    "exponent; this integrates the curve at decision points; "
    "tok_oov_rate then measures a CHOSEN vocab). One hash aggregate "
    "to type cardinality, a rank + running-sum window over the "
    "vocabulary-bounded type table, integer ppm; ranks missing from "
    "a small corpus are absent identically on both engines.",
)
def tok_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    tk = t(spark, sf_dir, "documents").select(
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " ")
        ).alias("token")
    )
    wstats = tk.groupBy("token").agg(
        F.count("*").cast("bigint").alias("ctf")
    )
    tot = wstats.agg(F.sum("ctf").cast("bigint").alias("total"))
    order = W.orderBy(F.desc("ctf"), F.asc("token"))
    ranked = wstats.select(
        "token",
        "ctf",
        F.row_number().over(order).cast("bigint").alias("vocab_size"),
        F.sum("ctf")
        .over(order.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("tokens_covered"),
    )
    return (
        ranked.filter(F.col("vocab_size").isin(list(_VCC_RANKS)))
        .crossJoin(tot)
        .select(
            "vocab_size",
            "tokens_covered",
            F.col("total").alias("total_tokens"),
            F.expr(f"tokens_covered * {_VCC_FP} DIV total")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# join_asof_nearest — nearest-in-time as-of (either direction)
# ---------------------------------------------------------------------------

_ASOF_NEAR_TOL = "2 DAYS"


_ASOF_NEAR_ORACLE = f"""
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT user_id AS v_user, event_id AS near_view_id, ts AS near_view_ts
    FROM events WHERE event_type = 'view'
),
j AS (
    SELECT p.purchase_id, p.user_id, p.purchase_ts,
           v.near_view_id, v.near_view_ts,
           abs(epoch_us(v.near_view_ts) - epoch_us(p.purchase_ts))
               AS gap_us
    FROM p LEFT JOIN v
      ON v.v_user = p.user_id
     AND v.near_view_ts >= p.purchase_ts - INTERVAL {_ASOF_NEAR_TOL}
     AND v.near_view_ts <= p.purchase_ts + INTERVAL {_ASOF_NEAR_TOL}
),
r AS (
    SELECT purchase_id, user_id, purchase_ts, near_view_id, near_view_ts,
           gap_us,
           ROW_NUMBER() OVER (
               PARTITION BY purchase_id
               ORDER BY gap_us ASC NULLS LAST,
                        near_view_ts ASC NULLS LAST,
                        near_view_id ASC NULLS LAST) AS rn
    FROM j
)
SELECT purchase_id, user_id, purchase_ts, near_view_id, near_view_ts,
       CAST(gap_us AS BIGINT) AS gap_us
FROM r WHERE rn = 1
"""


@register(
    "join_asof_nearest",
    _ASOF_NEAR_ORACLE,
    doc="NEAREST as-of join (pandas merge_asof direction='nearest'): "
    "each purchase matches its closest view in time in EITHER "
    "direction within a +/-2-day band — the sensor/trade alignment "
    "semantics join_asof (backward) and join_asof_tolerance "
    "(backward + staleness) don't cover: when the context signal can "
    "legitimately arrive just after the anchor event, nearest beats "
    "backward. Ties (equidistant before/after) break to the EARLIER "
    "view then lower id — exact integer microsecond gaps, fully "
    "deterministic; unmatched purchases survive via the left join "
    "with NULL match columns. Same scale shape as the siblings: the "
    "two-sided band predicate bounds candidate fan-out to one window "
    "of history per anchor, equi-join on user + per-anchor top-1 "
    "(WindowGroupLimit), never a global sort.",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("near_view_id"),
        F.col("ts").alias("near_view_ts"),
    )
    j = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (
            F.col("near_view_ts")
            >= F.expr(f"purchase_ts - INTERVAL {_ASOF_NEAR_TOL}")
        )
        & (
            F.col("near_view_ts")
            <= F.expr(f"purchase_ts + INTERVAL {_ASOF_NEAR_TOL}")
        ),
        "left",
    ).withColumn(
        "gap_us",
        F.abs(
            F.unix_micros(F.col("near_view_ts"))
            - F.unix_micros(F.col("purchase_ts"))
        ).cast("bigint"),
    )
    w = W.partitionBy("purchase_id").orderBy(
        F.asc_nulls_last("gap_us"),
        F.asc_nulls_last("near_view_ts"),
        F.asc_nulls_last("near_view_id"),
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "near_view_id",
            "near_view_ts",
            "gap_us",
        )
    )


# ---------------------------------------------------------------------------
# src_jsonl_quarantine — permissive JSONL ingest with corrupt routing
# ---------------------------------------------------------------------------

_JSONL_BAD_MOD = 11  # every 11th doc id emits a syntactically broken line

_JSONL_ORACLE = f"""
SELECT CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE doc_id END AS doc_id,
       CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE n_chars END AS n_chars,
       (doc_id % {_JSONL_BAD_MOD} = 0) AS is_corrupt
FROM documents
"""


@register(
    "src_jsonl_quarantine",
    _JSONL_ORACLE,
    doc="Error-tolerant JSONL ingestion: a landing file where one line "
    "in 11 is SYNTACTICALLY broken JSON (truncated object — the "
    "structural failure class src_csv_permissive's bad-cell case "
    "doesn't cover: here the whole record is unparseable, not one "
    "field) read in PERMISSIVE mode with columnNameOfCorruptRecord — "
    "broken lines surface as all-null rows with the raw text "
    "preserved in the corrupt column for the quarantine path, instead "
    "of killing the load (FAILFAST) or silently vanishing "
    "(DROPMALFORMED). At 100 TB of crawled JSONL, a per-record "
    "quarantine is the only ingestion contract that survives reality. "
    "The oracle reconstructs the expected parse/corrupt pattern from "
    "the synthesis rule (nulls for broken lines, parsed values "
    "elsewhere).",
)
def src_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.relational import _scratch

    path = _scratch("src_jsonl_quarantine", sf_dir)
    docs = t(spark, sf_dir, "documents")
    good = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    broken = F.concat(  # no closing brace: structurally invalid JSON
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
    )
    docs.select(
        F.when(F.col("doc_id") % _JSONL_BAD_MOD == 0, broken)
        .otherwise(good)
        .alias("value")
    ).write.mode("overwrite").text(path)
    raw = (
        spark.read.schema("doc_id long, n_chars long, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return raw.select(
        "doc_id", "n_chars", F.col("_bad").isNotNull().alias("is_corrupt")
    )


# ---------------------------------------------------------------------------
# fn_try_arithmetic — ANSI-safe arithmetic (try_divide / try_multiply)
# ---------------------------------------------------------------------------

_TRY_MUL = 9_223_372_036_854_775  # x1001 overflows int64

_TRY_ARITH_ORACLE = f"""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0.0 THEN NULL
            ELSE l_extendedprice / l_discount END AS safe_ratio,
       CASE WHEN l_partkey > 9223372036854775807 // {_TRY_MUL} THEN NULL
            ELSE l_partkey * {_TRY_MUL} END AS safe_product
FROM lineitem
"""


@register(
    "fn_try_arithmetic",
    _TRY_ARITH_ORACLE,
    doc="ANSI-safe arithmetic under the driver's default ANSI mode: "
    "try_divide returns NULL on the zero-discount rows (plain `/` "
    "raises DIVIDE_BY_ZERO under ANSI — at 100 TB one bad row kills "
    "the stage 4 hours in) and try_multiply returns NULL where "
    "l_partkey * 9.2e15 would overflow int64 (plain `*` raises "
    "ARITHMETIC_OVERFLOW) — the per-row error-containment siblings "
    "of fn_try_cast, turning data-dependent runtime aborts into "
    "null-routable rows. The oracle states the same semantics as "
    "explicit CASE guards (DuckDB errors rather than nulling, so the "
    "guard IS the cross-engine definition of try_*). Pure "
    "projection, codegen end to end.",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "safe_ratio"
        ),
        F.try_multiply(
            F.col("l_partkey"), F.lit(_TRY_MUL).cast("bigint")
        ).alias("safe_product"),
    )


# ---------------------------------------------------------------------------
# corpus_cross_source_overlap — the source x source contamination matrix
# ---------------------------------------------------------------------------

_XSO_FP = 1_000_000


def _cross_source_oracle() -> str:
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _SHINGLES_SQL,
    )

    return f"""
WITH sh0 AS ({_SHINGLES_SQL}),
ss AS (
    SELECT DISTINCT d.source,
           {_ch64_sql('sh0.shingle')} AS shingle_h
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
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import (
        _doc_shingles,
    )

    src = t(spark, sf_dir, "documents").select("doc_id", "source")
    ss = (
        _doc_shingles(spark, sf_dir)
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


# ---------------------------------------------------------------------------
# mm_phash_threshold_sweep — image near-dup fence calibration
# ---------------------------------------------------------------------------

_PHS_DISTS = (0, 1, 2, 3)  # pigeonhole-exact regime for 4x16-bit bands


_PHS_ORACLE = f"""
WITH fam AS (
    SELECT CAST(CASE WHEN (a.doc_id % 10 = 5) <> (b.doc_id % 10 = 5)
                THEN 2 ELSE 0 END AS INT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id // 10 = b.doc_id // 10 AND a.doc_id < b.doc_id
),
d(max_dist) AS (VALUES {", ".join(f"({d})" for d in _PHS_DISTS)})
SELECT d.max_dist,
       CAST(COUNT(*) FILTER (WHERE fam.hamming <= d.max_dist) AS BIGINT)
           AS n_pairs,
       CAST(COUNT(*) FILTER (WHERE fam.hamming <= d.max_dist
                             AND fam.hamming > 0) AS BIGINT)
           AS n_nonexact_pairs
FROM fam CROSS JOIN d
GROUP BY d.max_dist
"""


@register(
    "mm_phash_threshold_sweep",
    _PHS_ORACLE,
    doc="Image near-dup fence calibration: pair volume at Hamming "
    "thresholds 0-3 over the REAL codec->dHash pipeline (the same "
    "payload synthesis, BMP/PPM/PNG encode, 64-bit block-mean dHash "
    "and banded join as dedup_image_phash, computed ONCE at the "
    "pigeonhole-exact max_dist=3 and re-aggregated per fence) — the "
    "multimodal twin of dedup_minhash_band_sweep / "
    "dedup_threshold_sweep's measure-the-knob discipline: threshold "
    "0 captures the brightness/upscale copies (hash-invariant by "
    "construction), 2 adds the two-cell-swapped variants, and the "
    "marginal pairs per fence step IS the precision cost of loosening "
    "it. The oracle enumerates expected distances closed-form from "
    "the doc_id family construction. All thresholds stay inside the "
    "4x16-band pigeonhole guarantee, so banding loses nothing at any "
    "fence in the sweep.",
)
def mm_phash_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.phash import (
        dhash_pairs,
        image_dhash_batch,
    )
    from evolution_data_warehouse_spark.queries.common import (
        cpu_repartition,
    )
    from evolution_data_warehouse_spark.queries.extensions_r9 import (
        _phash_payload_batch,
    )

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    payloads = ids.mapInPandas(
        _phash_payload_batch(), "doc_id long, payload binary"
    )
    hashes = payloads.mapInPandas(
        image_dhash_batch(), "doc_id long, dhash long"
    )
    pairs = dhash_pairs(hashes, max_dist=max(_PHS_DISTS)).localCheckpoint(
        eager=True
    )
    out = None
    for d in _PHS_DISTS:
        leg = pairs.agg(
            F.lit(d).cast("int").alias("max_dist"),
            F.sum((F.col("hamming") <= d).cast("int"))
            .cast("bigint")
            .alias("n_pairs"),
            F.sum(
                ((F.col("hamming") <= d) & (F.col("hamming") > 0)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_nonexact_pairs"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out


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
    import tempfile

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


# ---------------------------------------------------------------------------
# tok_bpe_merge_curve — token count as a function of merge budget
# ---------------------------------------------------------------------------

_BMC_STEPS = (0, 4, 8, 12)  # merge-table prefixes of the pinned 12
_BMC_FP = 1_000_000


def _bpe_merge_curve_oracle() -> str:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_sql,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    legs = []
    for k in _BMC_STEPS:
        seg = bpe_segment_sql("w", _BPE_MERGES[:k])
        legs.append(f"""
SELECT {k} AS n_merges,
       CAST(SUM(len(str_split({seg}, ' '))) AS BIGINT) AS n_subwords,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM words""")
    union = " UNION ALL ".join(legs)
    return f"""
WITH toks AS (
    SELECT doc_id, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (SELECT doc_id, unnest(tk) AS w FROM toks),
words AS (SELECT doc_id, w FROM wraw WHERE w <> ''),
curve AS ({union})
SELECT n_merges, n_words, n_subwords,
       CAST(n_subwords * {_BMC_FP} // n_words AS BIGINT) AS fertility_fp
FROM curve
"""


@register(
    "tok_bpe_merge_curve",
    _bpe_merge_curve_oracle(),
    doc="BPE merge-budget curve: corpus subword count (and fertility, "
    "subwords per word, integer ppm) under merge-table PREFIXES of "
    "0/4/8/12 of the pinned 12 learned merges — the diminishing-"
    "returns curve that decides how many merges (i.e. how large a "
    "vocabulary) are worth training: each step's subword REDUCTION is "
    "the compression that merge batch buys (0 merges = pure "
    "character tokenization, the ceiling). Because BPE merges are "
    "learned greedily in order, prefixes ARE the intermediate "
    "tokenizers — no retraining per point. Segmentation reuses the "
    "single-source bpe_segment spec per prefix on both engines; "
    "counts are exact integers. Scale: the merge scan-replaces run "
    "per DISTINCT word engine-side (Zipf-bounded) under "
    "tok_bpe_encode's machinery; one aggregate per curve point.",
)
def tok_bpe_merge_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_expr,
    )
    from evolution_data_warehouse_spark.queries.extensions_r8 import (
        _BPE_MERGES,
    )

    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .localCheckpoint(eager=True)
    )
    out = None
    for k in _BMC_STEPS:
        leg = words.select(
            F.size(
                F.split(bpe_segment_expr(F.col("w"), _BPE_MERGES[:k]), " ")
            ).alias("n_subs")
        ).agg(
            F.lit(k).alias("n_merges"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_subs").cast("bigint").alias("n_subwords"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out.select(
        "n_merges",
        "n_words",
        "n_subwords",
        F.expr(f"n_subwords * {_BMC_FP} DIV n_words")
        .cast("bigint")
        .alias("fertility_fp"),
    )


# ---------------------------------------------------------------------------
# graph_clustering_coeff — local clustering coefficient per node
# ---------------------------------------------------------------------------

_GCC_FP = 1_000_000


def _clustering_coeff_oracle() -> str:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _MIN_EDGE_SUPPORT,
    )

    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY u),
wedges AS (
    -- ordered neighbor pairs (v < w) around each center u
    SELECT a.u, a.v AS x, b.v AS y
    FROM sym a JOIN sym b ON b.u = a.u AND a.v < b.v
),
tri AS (
    SELECT w.u, CAST(COUNT(*) AS BIGINT) AS n_closed
    FROM wedges w JOIN ed e ON e.pa = w.x AND e.pb = w.y
    GROUP BY w.u
)
SELECT d.node AS part, d.d AS degree,
       CAST(COALESCE(t.n_closed, 0) AS BIGINT) AS n_closed_wedges,
       CAST(COALESCE(t.n_closed, 0) * {_GCC_FP} * 2
            // (d.d * (d.d - 1)) AS BIGINT) AS clustering_fp
FROM deg d LEFT JOIN tri t ON t.u = d.node
WHERE d.d >= 2
"""


@register(
    "graph_clustering_coeff",
    _clustering_coeff_oracle(),
    doc="Local clustering coefficient (Watts-Strogatz): per node with "
    "degree >= 2, the fraction of its neighbor PAIRS that are "
    "themselves connected — 2*closed_wedges*1e6 // (d*(d-1)) in exact "
    "integer ppm. The node-level density profile beside "
    "graph_copurchase_triangles' global count and graph_kcore's core "
    "membership (high coefficient + low degree = tight clique member; "
    "high degree + low coefficient = hub bridging communities — the "
    "distinction degree alone can't make). Wedges come from the "
    "symmetric adjacency self-joined on the CENTER node with an "
    "ordered (v < w) pair constraint, closed against the canonical "
    "edge list (pa < pb matches the ordering, so each closed wedge "
    "counts exactly once); wedge fan-out is sum d(d-1)/2 on the "
    "support-pruned graph — the same bounded shape the triangle and "
    "jaccard-neighbor queries carry sf1 legs for. All-integer output.",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.extensions_r7 import (
        _edges,
    )

    ed = (
        _edges(spark, sf_dir)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    a = sym.select("u", F.col("v").alias("x"))
    b = sym.select(F.col("u").alias("u2"), F.col("v").alias("y"))
    wedges = a.join(
        b, (F.col("u") == F.col("u2")) & (F.col("x") < F.col("y"))
    ).select("u", "x", "y")
    tri = (
        wedges.join(
            ed,
            (F.col("pa") == F.col("x")) & (F.col("pb") == F.col("y")),
        )
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("n_closed"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg.node == tri.u, "left")
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_closed"), F.lit(0))
            .cast("bigint")
            .alias("n_closed_wedges"),
            F.expr(
                f"coalesce(n_closed, 0) * {_GCC_FP} * 2 DIV (d * (d - 1))"
            )
            .cast("bigint")
            .alias("clustering_fp"),
        )
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
