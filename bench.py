#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints exactly ONE JSON line (big blobs
first so `value` survives a 2000-char tail capture):
  {"queries": {name: min-of-3 sec, ...},
   "queries_run2": {name: first-timed-run sec, ...},
   "extras": {...}, "sf1": {...}, "band_check": {...},
   "metric": ..., "unit": "sec", "sf": <float>, "cpus": N,
   "cpus_effective": N, "load_avg_1m": x, "scaling": {...},
   "value_run2": <sum of queries_run2>, "value": <sum of queries>}

Per-query numbers in `queries` are the MIN of 3 timed runs after one
untimed warm-up (steady state); `queries_run2`/`value_run2` keep the
pre-r14 "second of two runs" methodology verbatim for comparison with
r13-and-earlier artifacts. Each query is materialized with the noop
sink (full execution, no driver-side collect) so the number measures
the distributed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the scans/joins/aggs/windows that dominate warehouse load,
# plus the scale-relevant LLM ops. Chosen to exercise every shuffle-shaped
# plan (star join, hash agg, window, full-outer merge, SCD merge, ANN).
HEADLINE = [
    "join_inner_equi",
    "agg_groupby_sum",
    "join_broadcast_lookup",
    "agg_filtered_multi",
    "agg_pivot",
    "join_full_merge_events",
    "win_version_latest",
    "win_running_sum",
    "join_asof",
    "proc_scd2",
    "stream_window_counts",
    "dedup_exact",
    "text_quality",
    "sim_ann_bruteforce",
    "dedup_minhash_lsh",
    "text_fingerprint",
    "sim_kmeans_assign",
    "mm_decode_stub",
    "tpch_q3",
    "tpch_q5",
]


# Scale smoke: the most expensive headline queries re-run at sf1 (10×
# the headline SF) against a locally generated copy — a measured data
# point for the "survives a scale-up" claim, not just plan-shape
# argument. Runs after the headline timings; never feeds `value`.
SF1_QUERIES = [
    "join_inner_equi",
    "agg_groupby_sum",
    "join_broadcast_lookup",
    "tpch_q3",
    "tpch_q5",
    "dedup_minhash_lsh",
    # one representative each from the window and SCD families, so the
    # scale evidence isn't joins/aggs/dedup only
    "win_version_latest",
    "proc_scd2",
    # event-analytics and corpus-prep representatives (user-cardinality
    # shuffles / bin-keyed ordered concat)
    "funnel_conversion",
    "pack_render",
    # LLM heavies (r5 verdict item 6): incremental near-dup (corpus ×
    # batch banding), bigram-LM scoring (model-sized joins), cross-split
    # contamination audit (shingle equi-join), sessionized funnel
    "dedup_minhash_incremental",
    "text_lm_score",
    "split_leakage_audit",
    "session_conversion",
    # r6 pair-join shapes: shingle containment and within-basket
    # association — the two new quadratic-looking plans whose bounded-
    # bucket arguments deserve a measured 10x leg
    "text_shingle_containment",
    "agg_market_basket",
    # r7 shapes with non-obvious scaling: triangle enumeration over the
    # support-pruned co-purchase graph, and user-day basket PMI (the
    # two new pair-join plans); the rest of the r7 batch is plain
    # aggregate/window shapes already represented above
    "graph_copurchase_triangles",
    "event_cooccurrence_pmi",
    # r8 shapes with non-obvious scaling: the grid-bucketed radius join
    # (bounded-candidate argument deserves its 10x leg like the other
    # pair joins), the progressive-JPEG decode (heaviest per-row CPU in
    # the registry), and the 4-row token explode feeding the count-min
    # cells; the remaining r8 additions are aggregate/window shapes
    # already represented above
    "join_spatial_grid",
    "mm_decode_progressive",
    "agg_countmin_sketch",
    # late-r8 addition: per-row mux→demux→sampled-frame decode — the
    # second-heaviest per-row CPU path after progressive JPEG, same
    # embarrassingly-parallel mapInPandas shape
    "mm_video_frames",
    # late-r8: the LZW codec leg (GIF encode+decode per doc) and the
    # window-hash span dedup (linear, no self-join: the claim worth
    # measuring at 10x).
    "mm_decode_gif",
    "dedup_substring_spans",
    # r9: sim_semantic_dedup is back IN the smoke — gen_sf1 keeps the
    # same 10 labels at 10x rows (a degenerate clustering: cluster SIZE
    # grows instead of cluster COUNT), which is now exactly the input
    # the default-on max_cluster guard exists for. r8 measured 31 s
    # unguarded (the ~100x pair artifact); guarded r9 measures ~15 s
    # and scales ~linearly (pairs are capped at n*max_cluster).
    "sim_semantic_dedup",
    # r9 additions: the WARC->curation composite (mux+parse+gates+
    # minhash in one plan), perceptual-hash image dedup (codec + banded
    # join), BPE tokenize-to-ids, and the IVF-PQ compressed-domain scan
    "web_corpus_curation",
    "dedup_image_phash",
    "tok_bpe_encode",
    "sim_ivfpq_topk",
    # r10 additions with non-obvious scaling: the 9-way n-gram explode
    # of the Gopher repetition suite, the corpus-wide line-frequency
    # join of the C4 cross-document dedup, the audio decode+fingerprint
    # banded join, and the IVFADC+refine composition (ADC scan + 100-
    # row broadcast re-rank). The other r10 additions are single-scan
    # column-expression shapes already represented.
    "text_repetition_gopher",
    "dedup_lines_corpus",
    "dedup_audio_fingerprint",
    "sim_ivfpq_refine",
    # r10 curation composites: decode-once pipelines whose heavy legs
    # (codec decode + banded join) deserve the 10x measurement; the
    # video member is the per-row CPU heavyweight of the batch
    "mm_image_curation",
    "mm_audio_curation",
    "mm_video_curation",
    # r11 additions with non-obvious scaling: the BM25 token explode +
    # three-way tf/df/dl join, the posting-list build (window cap +
    # list aggregation per token), the DSIR double shuffle (tf
    # aggregate + per-doc score), and the epoch-shuffle sink's
    # write + re-read + per-shard permutation check. The other r11
    # additions (caption alignment, OOV gate, classifier) are
    # single-scan column-expression shapes; sim_rrf_fusion rides the
    # BM25 leg plus two 50-row windows.
    "text_bm25_topk",
    "text_inverted_index",
    "corpus_dsir_weights",
    "snk_shuffled_shards",
    # late-r11: the iterative-join shape (3 power-iteration steps over
    # the checkpointed edge list) deserves its 10x leg
    "graph_pagerank",
    # r11b additions with non-obvious scaling: the wedge join through
    # shared neighbors (sum(deg^2) fan-out under the degree cap), the
    # WebDataset tar sink (Arrow write + re-read + positional check),
    # the first-seen bigram join-back, and the double per-group global
    # sort of exact Spearman. The other r11b additions (scalar fn
    # suites, k-fold split, date spine, RSI/Bollinger windows over the
    # daily frame, OHLC single aggregate, FK audit over dims, XML
    # dim-sized round-trip, Cohen's d two-group aggregate) are
    # single-scan / tiny-frame shapes already represented above.
    "graph_jaccard_neighbors",
    "snk_webdataset_shards",
    "text_ngram_novelty",
    "stats_spearman_corr",
    # late-r11 pair-join shapes: the threshold sweep re-uses the
    # ngram-jaccard pair relation under a 5-literal explode, and the
    # recall eval runs BOTH guarded pair pipelines (exact jaccard +
    # minhash banding) plus their intersection — the most join-heavy
    # composite in the registry, measured so the guard claims carry a
    # 10x number. Also the BFS iterative-frontier shape (4 rounds over
    # the checkpointed adjacency, the pagerank pattern at different
    # fan-out).
    "dedup_threshold_sweep",
    "dedup_minhash_recall_eval",
    "graph_bfs_distance",
    # r12 additions with non-obvious scaling: the ExactSubstr anchor
    # pair join (df-guarded window-hash self-join — the round's new
    # quadratic-looking plan), the OPQ Arrow/numpy rotation matmul,
    # the two new pinned-iteration ops (mutual-reinforcement HITS,
    # Group-DRO DoReMi), the 256-register HLL rollup, and the Bloom
    # broadcast screen. The other r12 additions (chi2/WOE/PSI/CCNet
    # buckets, binary Hamming top-k, matryoshka eval) are single-scan
    # aggregate/top-k shapes already represented above.
    "dedup_substring_cross",
    "sim_opq_assign",
    "graph_hits",
    "corpus_doremi_weights",
    "agg_hll_distinct",
    "dedup_bloom_prefilter",
    # r13 shapes with non-obvious scaling: the interval-coalesced
    # ExactSubstr (anchor join + two per-pair island passes over a
    # checkpointed match list), the banding S-curve sweep (whose
    # loosest 16x1 config deliberately generates ~1.5M candidates at
    # sf1 — the measured cost axis of the calibration), the batched
    # 3-query ADC scan, the IVF x codec frontier (exact + 2 ADC legs
    # over candidate subsets), and the smoothed-QL docs x |q| scorer.
    # The remaining r13 additions (partitioned-prune sink, IVF balance
    # report, dup-rate rollup, permutation test, budget plan) are
    # write-path / single-aggregate / bounded-resample shapes already
    # represented above; stream_lateness_audit is a checkpointed
    # multi-drain streaming op, not a steady-state scan.
    "dedup_substring_maximal",
    "dedup_minhash_band_sweep",
    "sim_adc_batch_topk",
    "sim_ann_frontier",
    "text_query_likelihood",
    # r14 shapes with non-obvious scaling: the join-free chunker (full
    # token explode + 4-window doc pass), the chunk-grain BM25 (the
    # registry's new heaviest retrieval composite: chunker + bounded
    # sequence-explode membership join + tf/df aggregates), and the
    # AA-weighted wedge join (jaccard's machinery + a weight join on
    # the wedge center). The remaining r14 additions (session islands,
    # join-view IVM, quantile binning, calibration) are single-window /
    # aggregate-join shapes already represented above.
    "chunk_overlap_spans",
    "chunk_bm25_topk",
    "graph_adamic_adar",
]


def _hot_guard_seconds(spark, sf_dir: str) -> float:
    """Time the minhash pair generation on input that actually trips the
    default hot-bucket guard: the corpus' shingles plus one synthetic
    boilerplate bucket of 1200 identical docs (>DEFAULT_MAX_BUCKET).
    Without the guard this bucket alone adds ~720k candidate pairs; the
    timing demonstrates the guarded plan stays linear on hot data."""
    import time

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.dedup import minhash_lsh_pairs
    from evolution_data_warehouse_spark.queries.text import (
        doc_shingles as _doc_shingles,
    )

    btoks = "common boiler plate text repeated everywhere in this corpus".split()
    bsh = [" ".join(btoks[i : i + 3]) for i in range(len(btoks) - 2)]
    boiler = spark.range(1200).select(
        (F.lit(10**12) + F.col("id")).alias("doc_id"),
        F.explode(F.array(*[F.lit(s) for s in bsh])).alias("shingle"),
    )
    shingled = _doc_shingles(spark, sf_dir).unionByName(boiler)
    # warm plan/codegen, then steady-state timing. The default
    # sig_storage="cache" lets the timed run reuse the warm-up's
    # signatures; the dedup_minhash_lsh headline line checkpoints them
    # per run, so the two numbers are not comparable
    minhash_lsh_pairs(shingled).write.mode("overwrite").format("noop").save()
    t0 = time.time()
    minhash_lsh_pairs(shingled).write.mode("overwrite").format("noop").save()
    return round(time.time() - t0, 3)


def _bpe_encode_seconds(spark, sf_dir: str) -> float:
    """Steady-state time to tokenize the whole documents table to
    vocabulary ids (bpe_encode_ids under the pinned 12-merge table) —
    the frozen-vocab throughput line a pretraining data pipeline cares
    about: distinct-word segmentation + equi-join back + literal-map
    id lookup, materializing every (doc, word_pos, sub_pos, token_id)
    row through a noop sink."""
    import time

    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_encode_ids,
        bpe_vocab,
    )
    from evolution_data_warehouse_spark.queries.common import t
    from evolution_data_warehouse_spark.queries.text import _BPE_MERGES

    def run():
        bpe_encode_ids(
            t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
        ).write.mode("overwrite").format("noop").save()

    run()  # warm plan/codegen
    t0 = time.time()
    run()
    return round(time.time() - t0, 3)


def _sem_guard_seconds(spark, sf_dir: str) -> float:
    """Time semantic_dedup on input that actually trips the default
    cluster-size guard: the corpus embeddings plus one synthetic
    degenerate cluster of 1200 vectors (> DEFAULT_MAX_CLUSTER = 1000).
    Unguarded that cluster alone contributes ~1.44M cosine pairs; the
    guard sub-splits it into ceil(1200/1000)=2 hash slices, so the
    timing demonstrates the pair join stays bounded on a clustering
    that violates SemDeDup's k~sqrt(N) obligation — the mirror of
    dedup_minhash_hot_guarded for the embedding path."""
    import time

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.similarity import (
        semantic_dedup,
    )
    from evolution_data_warehouse_spark.queries.common import t

    base = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    hot = spark.range(1200).select(
        (F.lit(10**12) + F.col("id")).alias("vec_id"),
        F.lit(10**6).cast("int").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: ((F.col("id") * 7 + i) % 13).cast("float") / 13.0,
        ).alias("embedding"),
    )
    vecs = base.unionByName(hot)

    def run():
        semantic_dedup(vecs, 0.95).write.mode("overwrite").format(
            "noop"
        ).save()

    run()  # warm plan/codegen
    t0 = time.time()
    run()
    return round(time.time() - t0, 3)


def _shingle_guard_seconds(spark, sf_dir: str) -> float:
    """Time the exact n-gram Jaccard pair generation on input that trips
    the DEFAULT_MAX_SHINGLE_DF guard: the corpus' shingles plus one
    synthetic boilerplate block shared by 1200 docs (> the 1000 cap).
    Unguarded, each of the ~8 boilerplate shingles alone would emit
    ~720k self-join rows (~5.7M total); the guard drops them before the
    join, so the timing demonstrates the df-capped plan stays linear on
    hot data — the mirror of dedup_minhash_hot_guarded for the exact
    path."""
    import time

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.dedup import (
        cap_shingle_df,
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.text import (
        doc_shingles as _doc_shingles,
    )

    btoks = "common boiler plate text repeated everywhere in this corpus".split()
    bsh = [" ".join(btoks[i : i + 3]) for i in range(len(btoks) - 2)]
    boiler = spark.range(1200).select(
        (F.lit(10**12) + F.col("id")).alias("doc_id"),
        F.explode(F.array(*[F.lit(s) for s in bsh])).alias("shingle"),
    )
    shingled = _doc_shingles(spark, sf_dir).unionByName(boiler)

    def _pairs():
        sh = cap_shingle_df(
            shingled.select(
                "doc_id", content_hash64(F.col("shingle")).alias("shingle_h")
            )
        ).localCheckpoint(eager=True)
        a, b = sh.alias("a"), sh.alias("b")
        return (
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

    _pairs().write.mode("overwrite").format("noop").save()
    t0 = time.time()
    _pairs().write.mode("overwrite").format("noop").save()
    return round(time.time() - t0, 3)


def _heavy_hitters_seconds(spark, sf_dir: str) -> float:
    """Steady-state timing of the MG-candidates + exact-re-count heavy
    hitter operator over the corpus token stream — the bounded-memory
    top-k whose per-partition state is O(capacity) however large the
    partition (operators/sketches.py)."""
    import time

    from evolution_data_warehouse_spark.queries import REGISTRY

    fn = REGISTRY["agg_heavy_hitters_mg"].fn
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    t0 = time.time()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return round(time.time() - t0, 3)


def _skew_seconds(spark) -> dict:
    """Time the salted-skew operators on ACTUALLY skewed data: 4M rows
    where one key holds half the table (~10 000× the median key's
    count), joined to a 10k-row dim with broadcast disabled (the
    broadcast-ineligible regime salted_join targets). Four lines:

    * join_unsalted vs join_salted — the salted fan-out's measured win
      on the hot key (r5 measured 1.5s vs 1.0s, salted wins even with
      AQE skew-join left on);
    * agg_plain vs agg_salted — the honest negative control: count is
      decomposable, map-side partial aggregation already collapses the
      hot key per input partition, so plain groupBy wins and the
      salted form's extra shuffle costs ~2×. Recorded so the registry's
      guidance ("salt joins and non-decomposable aggs; never
      decomposable ones") rests on numbers, not folklore.
    """
    import time

    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.skew import (
        salted_count,
        salted_join,
    )

    left = spark.range(4_000_000).select(
        F.when(F.col("id") < 2_000_000, F.lit(7).cast("long"))
        .otherwise((F.col("id") % 10_000).cast("long"))
        .alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    right = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    plain = left.join(right, "k").groupBy("k").agg(F.sum("w").alias("s"))
    salted = (
        salted_join(left, right, "k").groupBy("k").agg(F.sum("w").alias("s"))
    )

    out: dict[str, float] = {}

    def timed(label, df):
        df.write.mode("overwrite").format("noop").save()  # warm codegen
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        out[label] = round(time.time() - t0, 3)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        timed("skew_join_unsalted", plain)
        timed("skew_join_salted", salted)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    timed("skew_agg_plain", left.groupBy("k").agg(F.count("*").alias("n")))
    timed("skew_agg_salted", salted_count(left, "k"))
    return out


def _compaction_seconds(spark, sf_dir: str) -> dict:
    """Time the layout-maintenance write paths at the bench SF: a
    256-small-file lineitem landing zone compacted to 8 files, and the
    range-clustered rewrite. These are the file-ops-bound maintenance
    passes (r5's slowest sf0.01 contract entry) — at 100× the rewrite
    volume dominates, so the amortization argument in SCALE.md needs a
    measured per-SF cost."""
    import shutil
    import tempfile
    import time

    from evolution_data_warehouse_spark.warehouse.etl import (
        compact_small_files,
        write_clustered,
    )
    from evolution_data_warehouse_spark.warehouse.manifest import publish

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    tmp = tempfile.mkdtemp(prefix="bench_compact_")
    try:
        path = f"{tmp}/landing"
        publish(spark, path, li.repartition(256).write.mode("append").parquet)
        t0 = time.time()
        compact_small_files(spark, path, target_files=8)
        t_compact = round(time.time() - t0, 3)
        t0 = time.time()
        write_clustered(
            li, tmp, "clustered", cluster_by=("l_shipdate",), n_files=8
        )
        t_cluster = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return {
        "compact_256_to_8_files": t_compact,
        "write_clustered_8_files": t_cluster,
    }


def _sf1_timings(spark, registry) -> dict | None:
    """Run SF1_QUERIES against the local sf1 copy (generated on first
    use from sf0.1 — see tools/gen_sf1.py): one untimed warm-up run,
    then one timed run — the same steady-state methodology as the
    headline set. (A single cold run was tried through r8 and twice
    produced 2x-looking drift that idle warm re-measures reverted:
    sf1-only plans pay first-run codegen/file-listing that the headline
    plans do not. See BASELINE.md r8 note.) Disable with
    SPARK_GRAFT_SF1=0."""
    import time

    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.bench/sf1")
    try:
        if not os.path.exists(f"{sf1_dir}/_DONE"):
            from tools.gen_sf1 import generate

            generate(spark, dst_dir=sf1_dir)
        timings: dict[str, float] = {}
        for name in SF1_QUERIES:
            fn = registry[name].fn
            fn(spark, sf1_dir).write.mode("overwrite").format("noop").save()
            t0 = time.time()
            fn(spark, sf1_dir).write.mode("overwrite").format("noop").save()
            timings[name] = round(time.time() - t0, 3)
        return {
            "sf": 1.0,
            "queries": timings,
            "total": round(sum(timings.values()), 3),
            # maintenance passes at 10×: the rewrite-volume scaling leg
            # of the compaction-amortization argument in SCALE.md
            "extras": _compaction_seconds(spark, sf1_dir),
        }
    except Exception as ex:  # noqa: BLE001 — the smoke must not sink the bench
        return {"error": f"{type(ex).__name__}: {ex}"}


def _scaling_probe(spark, registry, sf1_ok: bool) -> dict | None:
    """Core-scaling self-report (r14 verdict item 5).

    The sf0.1 headline queries are fixed-overhead-bound (job scheduling
    + single-row-group scans), so the driver's low-core headline rerun
    carries no parallelism signal — BENCH_r14_c8's 8-core total BEAT
    the 32-core total. This probe puts the core-ratio evidence in the
    artifact itself: ONE compute-bound sf1 leg (mm_image_curation —
    mapInPandas codec work, embarrassingly parallel, no shuffle on the
    heavy path) timed warm on the main session at the full core count,
    then again on a fresh low-core session. Runs LAST because it stops
    the main session. Disable with SPARK_GRAFT_SCALING=0.

    Both measurements run on FRESH contexts (the main session is
    stopped first): the first probe version reused the main session for
    the high-core number and inherited the sf1 sweep's heap/GC state,
    reading 5.35 s where the leg's idle steady state is ~3.3 s and
    flattening the ratio to 1.98. Symmetric fresh contexts in the same
    JVM (warm-up run absorbs codegen) make the two numbers comparable.
    """
    import time

    if not sf1_ok or os.environ.get("SPARK_GRAFT_SCALING", "1") == "0":
        return None
    try:
        from evolution_data_warehouse_spark.session import (
            TIERED_JIT,
            get_spark,
            resolve_cpus,
        )

        leg = "mm_image_curation"
        sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/root/repo/.bench/sf1")
        hi = resolve_cpus()
        lo = max(2, hi // 8)
        fn = registry[leg].fn

        def timed(s) -> float:
            fn(s, sf1_dir).write.mode("overwrite").format("noop").save()
            runs = []
            for _ in range(2):
                t0 = time.time()
                fn(s, sf1_dir).write.mode("overwrite").format("noop").save()
                runs.append(time.time() - t0)
            return round(min(runs), 3)

        spark.stop()
        hi_spark = get_spark(
            app_name="bench-scaling-hi", master=f"local[{hi}]", extra_conf=TIERED_JIT
        )
        hi_sec = timed(hi_spark)
        hi_spark.stop()
        lo_spark = get_spark(
            app_name="bench-scaling-lo", master=f"local[{lo}]", extra_conf=TIERED_JIT
        )
        lo_sec = timed(lo_spark)
        lo_spark.stop()
        return {
            "leg": leg,
            "sf": 1.0,
            "cores_hi": hi,
            "sec_hi": hi_sec,
            "cores_lo": lo,
            "sec_lo": lo_sec,
            "speedup_hi_over_lo": round(lo_sec / hi_sec, 2) if hi_sec else None,
        }
    except Exception as ex:  # noqa: BLE001 — the probe must not sink the bench
        return {"error": f"{type(ex).__name__}: {ex}"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from evolution_data_warehouse_spark.session import (
        TIERED_JIT,
        get_spark,
        resolve_cpus as _resolve_cpus,
    )
    from evolution_data_warehouse_spark.queries import REGISTRY

    # warm steady state is what C2's code pays for (session.py, "JIT policy")
    spark = get_spark(app_name="bench", extra_conf=TIERED_JIT)

    # Warm the JVM, file listing, codegen and broadcast machinery outside
    # the timed region (steady-state throughput is what's being measured;
    # the one-time Janino/broadcast init otherwise lands on the first query).
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).cast("double"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    # One untimed warm-up run, then THREE timed runs per query; report
    # the MIN as the steady-state number and keep the first timed run
    # (= the pre-r14 "second of two" methodology) alongside it.  The
    # warm-up pays one-time whole-stage-codegen (Janino) compilation for
    # that plan shape — a fixed cost that amortizes to noise at real
    # data scale and would otherwise dominate these small-SF timings
    # (e.g. 12.1s cold vs 1.8s steady for the minhash pipeline at
    # sf0.1).  Measurement-bug fix, r14 (documented in
    # OPTIMIZATION_r14.md): on the slower r14-era host generation the
    # JVM's JIT converges over many executions, so run 2 alone still
    # contains warm-up (proc_scd2 measured [14.6, 3.7, 2.0, 3.1, 2.2,
    # 2.4, 2.4, 1.9, 1.6, 1.2, 1.1, 1.0] over 12 warm runs — run 2 is
    # 3.7x the floor), and a single timed run is exposed to the host's
    # documented contention bursts (join_inner_equi: 17.95 s in one
    # official run, 1.6 s in a quiet probe minutes later, same code).
    # min-of-3 is the same steady-state estimator every r14 A/B used;
    # the metric has always been NAMED steady-state runtime.  The old
    # methodology's numbers stay in the JSON line as queries_run2 /
    # value_run2 so cross-round comparison against r13-era artifacts
    # remains possible.
    timings: dict[str, float] = {}
    timings_run2: dict[str, float] = {}
    for name in HEADLINE:
        fn = REGISTRY[name].fn
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
        timings_run2[name] = round(runs[0], 3)

    total = round(sum(timings.values()), 3)
    total_run2 = round(sum(timings_run2.values()), 3)
    extras = {
        "dedup_minhash_hot_guarded": _hot_guard_seconds(spark, sf_dir),
        "shingle_join_hot_guarded": _shingle_guard_seconds(spark, sf_dir),
        "semantic_dedup_hot_guarded": _sem_guard_seconds(spark, sf_dir),
        "bpe_encode_corpus": _bpe_encode_seconds(spark, sf_dir),
        "heavy_hitters_mg": _heavy_hitters_seconds(spark, sf_dir),
    }
    extras.update(_skew_seconds(spark))
    extras.update(_compaction_seconds(spark, sf_dir))
    sf1 = _sf1_timings(spark, REGISTRY)
    # 1-min load average at the end of the run: a sentinel for machine
    # contention. With local[N] alone on the box this sits near N; a
    # value far above the core count means other workloads overlapped
    # the run and the timings measure contention, not the engine
    # (BENCH_r03's 2.5x "regression" was exactly this).
    try:
        load1 = round(os.getloadavg()[0], 1)
    except OSError:
        load1 = -1.0
    # one-line drift verdict vs the committed band (tools/check_bench.py
    # has the standalone form for past artifacts) — drift triage stops
    # costing a forensic session (r11 verdict item 7)
    try:
        from tools.check_bench import check_bench as _check_bench

        band_check = _check_bench(
            timings, (sf1 or {}).get("queries"), load1
        )
    except Exception as e:  # a broken band must never sink the bench
        band_check = {"verdict": "check-error", "err": str(e)[:200]}
    # core-scaling self-report LAST — it stops the main session
    scaling = _scaling_probe(
        spark, REGISTRY, sf1_ok=bool(sf1) and "error" not in (sf1 or {})
    )
    # Key order matters: the driver records only the LAST 2000 chars of
    # output (BENCH_r13.json lost the headline total this way — r13
    # verdict item 4).  Big blobs (queries/extras/sf1) go FIRST so the
    # headline summary — band verdict, load sentinel, and above all
    # `value` — lands at the end of the line, inside the recorded tail.
    print(
        json.dumps(
            {
                "queries": timings,
                "queries_run2": timings_run2,
                "extras": extras,
                "sf1": sf1,
                "band_check": band_check,
                "metric": "headline_query_steady_state_runtime",
                "unit": "sec",
                "sf": sf,
                "cpus": os.cpu_count(),
                "cpus_effective": _resolve_cpus(),
                "load_avg_1m": load1,
                "scaling": scaling,
                "value_run2": total_run2,
                "value": total,
            }
        )
    )


if __name__ == "__main__":
    main()
