"""Physical-plan regression net: the properties that make these
queries scale must survive refactors. Plans only — nothing executes."""

from __future__ import annotations

import pytest

from evolution_data_warehouse_spark.queries import REGISTRY

# Queries where a BroadcastNestedLoopJoin is the intended plan. The
# allowlist is NOT membership-only: each entry declares what its
# broadcast build side must look like, and
# test_bnl_allowlist_broadcast_side_is_bounded asserts it on EVERY
# BNL build subtree in the plan — so a future edit that broadcasts a
# non-scalar side cannot hide behind an allowlisted name.
#
# "scalar" = every build subtree must contain a zero-grouping-key
# aggregate (HashAggregate(keys=[]) — exactly one row by construction,
# the scalar-subquery pattern). Any other value is a literal plan
# fragment that must appear in the build subtree, naming the bounded
# side (a fixed-size dimension scan, a seeded local relation, or a
# bounded filtered projection).
_BNL_OK = {
    "join_cross": "FileScan parquet [r_name",  # region dim: 5 rows at any SF
    "sim_ann_bruteforce": "AS query_id",  # bounded query-set projection
    "udtf_rls_predicate": "scalar",
    "text_tfidf": "scalar",  # 1-row corpus-size aggregate
    "view_dashboard_twograin": "FileScan parquet [n_name",  # nation dim: 25
    "tpch_q22": "scalar",  # above-average-balance threshold
    "tpch_q11": "scalar",  # total stock value
    "emb_norm_outliers": "scalar",  # corpus norm stats
    "agg_sketch_union": "scalar",
    "agg_approx_sample_mean": "scalar",
    "geo_nearest_hub": "Scan ExistingRDD[hub",  # 5-row seeded hub table
    "agg_benford_firstdigit": "scalar",  # total count, 9-row left side
    "agg_rfm_segments": "scalar",  # anchor date over the user grain
    "agg_market_basket": "scalar",  # basket count into the pair stats
    "corpus_mix_temperature": "scalar",  # n_min into language thresholds
    "text_keywords_topk": "scalar",  # corpus size into the idf score
    "agg_pareto_deciles": "scalar",  # revenue total into the shares
    "corpus_token_drift": "scalar",  # half-totals into the L1 terms
    "graph_copurchase_triangles": "scalar",  # edge count beside the count
    "agg_cramers_v": "scalar",  # N / r / c into the chi-square cells
    "agg_theil_index": "scalar",  # total/count into the term scan
    "ts_weekday_seasonality": "scalar",  # total over the 7-row profile
    "event_cooccurrence_pmi": "scalar",  # basket count into the PMI
    "surv_kaplan_meier": "scalar",  # observation horizon over user spans
    "stats_ks_two_sample": "scalar",  # (n1, n2) totals into the CDF scan
    "proc_zorder_report": "scalar",  # grid min/max into the curve math
    "ts_revenue_anomaly_months": "scalar",  # moments into the z-scores
    "agg_heavy_hitters_mg": "scalar",  # n_total into the certificate
    "ts_cusum_drift": "scalar",  # total/day-count into the CUSUM terms
    "agg_kmv_overlap": "scalar",  # theta + p_common over <=2k sketch rows
    "decontaminate_semantic": "eval_id",  # ~25-row eval set; corpus streams
    "stats_bootstrap_ci": "scalar",  # point estimate x CI bounds
    "ts_acf_lag1": "scalar",  # series mean over the daily frame
    "text_bm25_topk": "scalar",  # (N, total_tokens) into the tf terms
    "sim_rrf_fusion": "scalar",  # same BM25 totals broadcast (lex leg)
    "chunk_bm25_topk": "scalar",  # 1-row (n_chunks, total_tokens)
    "corpus_dsir_weights": "scalar",  # (T_r, T_t) into the 64 ratios
    "graph_pagerank": "scalar",  # node count into the initial ranks
    "corpus_epoch_schedule": "scalar",  # 1-row source count into the plan
    "sim_ann_nprobe_sweep": "scalar",  # 1-row truth count x 2 sweep rows
    "sim_ann_frontier": "scalar",  # 1-row candidate count per leg
    "sim_ivf_balance_report": "scalar",  # 1-row corpus total
    "text_query_likelihood": "scalar",  # 1-row corpus token total
    "stats_permutation_test": "scalar",  # 1-row group sizes / observed diff
    "corpus_token_budget_plan": "scalar",  # 1-row weight total
    "graph_modularity": "scalar",  # 1-row edge count m
    "sim_lsh_recall_eval": "scalar",  # 1-row truth count x 2 radius rows
    "text_burstiness_dispersion": "scalar",  # 1-row document count
    "tok_vocab_coverage_curve": "scalar",  # 1-row corpus token total
    "er_blocking_eval": "scalar",  # 1-row retained/cost counts per leg
    "stream_lateness_policy_sweep": "scalar",  # 1-row max-ts watermark
    # every theil-sen broadcast side derives from the checkpointed
    # calendar-bounded daily/pairs frames (1-row day count, 1-row
    # order-statistic median, 1-row pair stats) — all scan the
    # checkpoint RDD, hence the ExistingRDD marker
    "ts_theil_sen_trend": "ExistingRDD",
    "ts_acf_multi_lag": "scalar",  # 1-row series mean
    "ts_seasonal_residual_anomaly": "scalar",  # 1-row residual moments
    # the class x value grid broadcasts the sensitive-cardinality
    # (~5-row) segment distribution, with the corpus total windowed in
    "quality_t_closeness": "HashAggregate(keys=[c_mktsegment",
    "fe_woe_encoding": "scalar",  # 1-row class totals into every category
    # 10-row decile frame x 1-row (n, p) totals; the corpus only ever
    # passes through the single score-keyed hash aggregate
    "text_quality_calibration": "scalar",
    "fe_quantile_binning": "scalar",  # same 10-row x 1-row fence shape
    "stats_chi2_independence": "scalar",  # 1-row grand total into cells
    "quality_psi_drift": "scalar",  # 1-row time span into the bucketing
    # the exact-comparison leg range-joins the ~30-row distinct-days
    # frame against events; the build side must be that day aggregate
    "agg_hll_sliding_distinct": "HashAggregate(keys=[day",
    # (sim_ann_recall_eval's ground-truth leg inherits
    # sim_ann_bruteforce's bounded query-set BNL, but that leg is
    # localCheckpoint-materialized inside the callable, so the
    # RETURNED plan is BNL-free and needs no allowlist entry)
}


def _bnl_build_subtrees(plan: str) -> list[str]:
    """Extract the build-side subtree under each BNL's
    `BroadcastExchange IdentityBroadcastMode` node (child lines are the
    ones indented deeper in the tree drawing)."""
    lines = plan.split("\n")
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" not in ln:
            continue
        depth = ln.find("BroadcastExchange")
        sub = [ln]
        for nxt in lines[i + 1:]:
            stripped = nxt.lstrip(" :+-")
            if not stripped or nxt.find(stripped[:1]) <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


_PLAN_CACHE: dict[str, str] = {}


def _plan(spark, sf_dir, name: str) -> str:
    # Several sweeps assert on the same query's plan; building it once
    # per session halves the suite's plan-construction cost (the
    # session and sf_dir are fixtures with session scope, so the key
    # is just the name).
    if name not in _PLAN_CACHE:
        df = REGISTRY[name].fn(spark, sf_dir)
        _PLAN_CACHE[name] = (
            df._jdf.queryExecution().executedPlan().toString()
        )
    return _PLAN_CACHE[name]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_row_python_udf(spark, sf_dir, name):
    # Built-ins or Arrow-batched Pandas ops only — BatchEvalPython is
    # the row-at-a-time serde path and must never appear.
    assert "BatchEvalPython" not in _plan(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(set(REGISTRY) - set(_BNL_OK)))
def test_no_accidental_nested_loop(spark, sf_dir, name):
    assert "BroadcastNestedLoopJoin" not in _plan(spark, sf_dir, name)


@pytest.mark.parametrize("name", sorted(_BNL_OK))
def test_bnl_allowlist_broadcast_side_is_bounded(spark, sf_dir, name):
    """An allowlisted name is a claim, not a pass: every BNL build
    subtree must match the declared bounded shape — a zero-key
    (1-row) aggregate for "scalar" entries, or the named bounded
    input otherwise. Also fails if the BNL disappeared entirely
    (stale allowlist entry)."""
    marker = _BNL_OK[name]
    subs = _bnl_build_subtrees(_plan(spark, sf_dir, name))
    assert subs, f"{name} is allowlisted but its plan has no BNL build"
    for sub in subs:
        if marker == "scalar":
            ok = "HashAggregate(keys=[]" in sub or "SortAggregate(key=[]" in sub
        else:
            ok = marker in sub
        assert ok, (
            f"{name}: BNL broadcast side no longer matches the declared "
            f"bounded shape ({marker!r}):\n{sub}"
        )


def test_flagship_star_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_inner_equi")
    assert plan.count("BroadcastHashJoin") == 4  # orders + 3 dims
    assert "SortMergeJoin" not in plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """Extract the build-side subtree under EVERY BroadcastExchange
    node (any mode — the BNL helper above restricts to identity
    broadcasts)."""
    lines = plan.split("\n")
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = ln.find("BroadcastExchange")
        sub = [ln]
        for nxt in lines[i + 1:]:
            stripped = nxt.lstrip(" :+-")
            if not stripped or nxt.find(stripped[:1]) <= depth:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


@pytest.mark.parametrize("name", ["tpch_q3", "tpch_q5", "join_inner_equi"])
def test_star_orientation_fact_never_broadcast(spark, sf_dir, name):
    """The star shapes must probe FROM the fact: lineitem may never sit
    under a BroadcastExchange (r14 verdict item 3 — the pre-r14 plans
    broadcast the filtered FACT off a size estimate, an impossible
    shape at 100 TB). Whether the dim branch broadcasts is left to the
    gated hint / AQE; this locks only the orientation."""
    subs = _broadcast_subtrees(_plan(spark, sf_dir, name))
    assert subs, f"{name}: expected at least one broadcast dim branch"
    for sub in subs:
        assert "lineitem" not in sub, (
            f"{name}: the lineitem fact is under a BroadcastExchange:\n{sub}"
        )


@pytest.mark.parametrize("name", ["tpch_q2", "tpch_q3", "tpch_q5"])
def test_scaling_dims_broadcast_only_through_gate(
    spark, sf_dir, name, monkeypatch
):
    """customer, supplier, orders and part grow with the scale factor,
    so no hint may broadcast them unconditionally: with the gate closed
    and size-based auto-broadcast off, none of them sits under a
    BroadcastExchange."""
    from evolution_data_warehouse_spark.queries import common

    monkeypatch.setattr(common, "BROADCAST_GATE_BYTES", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    for sub in _broadcast_subtrees(plan):
        for prefix in ("c_", "s_", "o_", "p_"):
            assert f"FileScan parquet [{prefix}" not in sub, (
                f"{name}: a scaling table is broadcast past the gate:\n{sub}"
            )


def test_spatial_grid_join_is_cell_keyed_broadcast(spark, sf_dir):
    """The radius join must go through the (cx, cy) grid-cell equi-join
    — BroadcastHashJoin on cell keys, never a nested-loop over the
    distance predicate (the plan difference between bounded candidates
    and all-pairs at scale)."""
    plan = _plan(spark, sf_dir, "join_spatial_grid")
    assert "BroadcastHashJoin [cx" in plan  # candidate join keyed on cells
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_sink_prunes_at_listing(spark, sf_dir):
    """The partition-column equality must land in PartitionFilters
    (directory-listing-time pruning), NOT DataFilters — a filter that
    degraded to row-level evaluation would read all N partitions."""
    import re

    plan = _plan(spark, sf_dir, "snk_partitioned_prune")
    flat = plan.replace("\n", "")
    m = re.search(r"PartitionFilters: \[[^\]]*\]", flat)
    assert m, plan
    assert "= 1-URGENT" in m.group(0)
    assert "DataFilters: []" in flat


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_threshold")
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThanOrEqual(c_acctbal,1000.0)" in plan.replace("\n", "")


def test_column_pruning_on_projection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "proj_select")
    # The scan must read exactly the three projected columns.
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>" in plan


def test_topn_avoids_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "win_topn_recent")
    assert "TakeOrderedAndProject" in plan


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    # rank<=k must push below the per-stratum sort (bounded per-
    # partition heaps) — a full per-stratum sort would not survive
    # billion-row strata.
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "sample_stratified_hash")


def test_hash_split_has_no_exchange(spark, sf_dir):
    # The split is a pure projection over the scan: any Exchange means
    # someone introduced a shuffle into a map-only operator.
    assert "Exchange" not in _plan(spark, sf_dir, "split_train_hash")


def test_minhash_bands_materialized_once(spark, sf_dir):
    # The guarded band table must be computed exactly once. r14
    # profiling showed AQE does NOT stage-reuse the guarded subtree
    # across the pair self-join's two sides (two duplicated 32-task
    # guard stages, ~5 s executorRunTime each at sf0.1), so
    # minhash_lsh_pairs eagerly checkpoints the bands: both self-join
    # sides must scan the materialized RDD, and no Window (the guard)
    # may remain in the query-side plan.
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "ExistingRDD" in plan
    assert "Window" not in plan


def test_minhash_guard_shares_pair_join_exchange(spark, sf_dir):
    # The hot-bucket guard (window count over (band, band_key)) must
    # reuse the pair self-join's shuffle, not add its own: both sides
    # of the self-join share the guarded subtree, so ReusedExchange
    # appears. Losing it re-created the r3 2.1x regression
    # (groupBy+join guard formulation). Asserted under the static
    # planner with bands_storage="none" (the un-materialized guard
    # formulation this lock protects) — the registry default
    # checkpoints the bands, see test_minhash_bands_materialized_once.
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from evolution_data_warehouse_spark.queries.text import (
        doc_shingles as _doc_shingles,
    )

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = minhash_lsh_pairs(
            _doc_shingles(spark, sf_dir), bands_storage="none"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan
    assert "Window" in plan


def test_chunk_spans_single_doc_shuffle_no_join(spark, sf_dir):
    # Retrieval chunking must be ONE shuffle partitioned by doc with
    # every window (running char offset, count, lead, partition max)
    # sharing it, and join-free: an earlier formulation equi-joined
    # chunk starts to chunk ends, which broadcast the corpus-sized
    # token-row relation — fine at test scale, fatal at 100 TB.
    plan = _plan(spark, sf_dir, "chunk_overlap_spans")
    assert plan.count("Exchange hashpartitioning(doc_id") == 1
    assert "rangepartitioning" not in plan.lower()
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_quality_calibration_single_corpus_aggregate(spark, sf_dir):
    # The calibration curve touches the corpus exactly once — the
    # score-keyed hash aggregate; deciles/fences/curve all derive from
    # the per-distinct-score frame (cardinality << docs). A naive
    # NTILE formulation would instead global-sort every document.
    plan = _plan(spark, sf_dir, "text_quality_calibration")
    assert "hashpartitioning(score_q" in plan
    assert "rangepartitioning(score_q" not in plan
    # every documents scan reads ONLY the score/label inputs (text,
    # lang) — never doc_id or a per-doc sort key
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        if "text" in m.group(1):
            assert set(m.group(1).split(",")) <= {
                "text:string",
                "lang:string",
            }, m.group(1)


def test_session_durations_single_user_shuffle(spark, sf_dir):
    # Gap-and-island sessionization: the lag window, island running
    # sum, and per-session aggregate must all ride ONE user-keyed
    # exchange — a second Exchange hashpartitioning means a stage
    # stopped sharing the partitioning.
    plan = _plan(spark, sf_dir, "view_session_durations")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "rangepartitioning" not in plan.lower()


def test_sentence_bins_single_doc_window(spark, sf_dir):
    # Sentence chunking: one doc-keyed shuffle feeding the running-sum
    # window; the bin aggregate reuses the doc partitioning (no second
    # corpus exchange keyed on doc alone is required, but there must
    # be no global sort anywhere).
    plan = _plan(spark, sf_dir, "chunk_sentence_bins")
    assert "hashpartitioning(doc_id" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "Join" not in plan


def test_pack_sequences_sorts_per_shard_not_globally(spark, sf_dir):
    # The running-sum window partitions by shard: the sort under it must
    # be a local (non-global) sort after a hash repartition on shard —
    # a global sort (Exchange rangepartitioning) would serialize the
    # corpus at scale.
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(shard" in plan


def test_bigram_topk_uses_window_group_limit(spark, sf_dir):
    # top-3 per prefix must push below the per-prefix sort, same
    # bounded-heap property as the stratified sample.
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "text_bigram_topk")


def test_cdc_apply_uses_window_group_limit(spark, sf_dir):
    # latest-op-per-key must compile to a per-partition top-1 heap —
    # a full sort of the change log would not survive at scale.
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "cdc_apply_log")


def test_quality_expectations_single_scan(spark, sf_dir):
    # N rules in ONE scan is the operator's whole point.
    assert _plan(spark, sf_dir, "quality_expectations").count("Scan parquet") == 1


def test_crawl_snapshot_dedup_is_anti_join(spark, sf_dir):
    # Cross-crawl dedup must drop already-seen (uri, digest) keys via
    # a LEFT ANTI join — a full/outer join materializing both crawls'
    # row product would not survive a petabyte archive.
    plan = _plan(spark, sf_dir, "dedup_crawl_snapshots")
    assert "LeftAnti" in plan
    assert "FullOuter" not in plan


def test_ivfpq_refine_joins_only_candidates(spark, sf_dir):
    # The refine stage's raw-vector join must build on the bounded
    # ADC shortlist (TakeOrderedAndProject feeding a BroadcastExchange)
    # — re-joining the probed lists would defeat the O(R·d) refine
    # cost claim.
    plan = _plan(spark, sf_dir, "sim_ivfpq_refine")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_frontier_rules_join_is_broadcast(spark, sf_dir):
    # The robots rule table is dimension-sized and must broadcast —
    # a shuffled join keyed on host would move the whole frontier for
    # a table of a few dozen rules.
    plan = _plan(spark, sf_dir, "web_frontier_build")
    assert "BroadcastHashJoin [host_key" in plan
    assert "SortMergeJoin [host_key" not in plan


def test_cross_substring_anchor_join_is_hash_keyed(spark, sf_dir):
    # The ExactSubstr pair join must be an equi-join bucketed on the
    # 60-bit window hash (_h) — an all-pairs/nested-loop plan over the
    # window relation would be O(n²) at corpus scale. The anchor guard
    # (window count over _h + filter) shuffles on the same key, so the
    # plan must hash-partition on _h and never range/cartesian.
    plan = _plan(spark, sf_dir, "dedup_substring_cross")
    assert "hashpartitioning(_h" in plan  # the guard's exchange on the key
    # equi-join keyed on the anchor hash — broadcast at toy SF,
    # sort-merge at scale; never a join without the _h key
    assert "HashJoin [_h" in plan or "SortMergeJoin [_h" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
