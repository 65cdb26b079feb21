"""Misc operator tests: as-of pandas path, multimodal stub gating,
security generation, datamart views, surrogate keys."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.asof import (
    asof_join,
    asof_join_pandas,
)
from evolution_data_warehouse_spark.operators.multimodal import decode_documents
from evolution_data_warehouse_spark.operators.security import (
    build_agencies,
    build_employees,
    build_zones,
)
from evolution_data_warehouse_spark.plans.datamarts import create_datamarts
from evolution_data_warehouse_spark.queries.common import t


def test_asof_pandas_matches_join_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    a = asof_join(
        purchases, views, on="user_id", left_ts="purchase_ts",
        right_ts="view_ts", left_key="purchase_id",
        right_cols=["view_id", "view_ts"], tie_breaker="view_id",
    )
    b = asof_join_pandas(
        purchases, views, on="user_id", left_ts="purchase_ts",
        right_ts="view_ts",
        out_schema="purchase_id long, user_id long, purchase_ts timestamp, "
        "view_id long, view_ts timestamp",
    )
    am = {r.purchase_id: r.view_ts for r in a.collect()}
    bm = {r.purchase_id: r.view_ts for r in b.collect()}
    # merge_asof picks the same latest-prior timestamp (ties may pick a
    # different id; timestamps must agree).
    assert am == bm


def test_multimodal_real_decode_dispatch():
    # JPEG decodes for real (operators/jpeg.py), so a truncated JPEG
    # fails as a malformed stream (ValueError), not as an unimplemented
    # format.
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_image_auto,
    )

    with pytest.raises(ValueError):
        decode_image_auto(b"\xff\xd8\xff\xe0JFIF")


def test_multimodal_fake_decode_schema(spark, sf_dir):
    out = decode_documents(t(spark, sf_dir, "documents"))
    assert set(out.columns) == {
        "doc_id", "n_bytes", "fake_width", "fake_height", "format",
    }
    row = out.first()
    assert 16 <= row.fake_width < 48 and row.format == "fake/png"


def test_security_generation(spark):
    communes = spark.createDataFrame(
        [
            ("59350", "Lille", "59", 236_000),
            ("59suburb", "Petit", "59", 900),
            ("62041", "Arras", "62", 42_000),
            ("80021", "Amiens", "80", 134_000),
        ],
        schema="commune_code string, commune_nom string, "
        "departement_code string, population long",
    )
    agencies = build_agencies(communes)
    assert agencies.count() == 3  # pop >= 10k only
    tiers = {r.agence_code: r.taille for r in agencies.collect()}
    assert tiers == {"59350": "GRANDE", "62041": "MOYENNE", "80021": "GRANDE"}

    employees = build_employees(agencies)
    roles = {r.role for r in employees.collect()}
    assert roles == {
        "directeur_regional", "directeur_departement", "directeur_agence",
    }
    # 1 regional + 3 dept + 3 agency directors
    assert employees.count() == 7

    zones = build_zones(employees)
    region_scope = zones.filter(
        F.col("login") == "direction.regionale"
    ).first()
    assert region_scope.scope is None  # sees everything
    assert zones.filter(F.col("scope") == "59").count() >= 2


def test_datamart_views(spark, sf_dir):
    names = create_datamarts(spark, sf_dir)
    assert len(names) == 6
    demo = spark.table("vm_demographie")
    assert demo.count() > 0
    board = spark.table("vm_tableau_bord")
    assert board.count() > 0
    assert "avg_balance" in board.columns


def test_surrogate_key_stability(spark, sf_dir):
    # win_surrogate_key must assign identical ids across runs.
    from evolution_data_warehouse_spark.queries import REGISTRY

    fn = REGISTRY["win_surrogate_key"].fn
    a = {r.segment: r.segment_id for r in fn(spark, sf_dir).collect()}
    b = {r.segment: r.segment_id for r in fn(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_connected_components_bounded_plan(spark, caplog):
    import logging

    from evolution_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    chain = [(i, i + 1) for i in range(1, 7)]
    edges = spark.createDataFrame(chain, "doc_a long, doc_b long")

    out = connected_components(nodes, edges)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {i: 1 for i in range(1, 8)}

    # Lineage must be truncated per iteration: the final plan reads the
    # checkpointed labels (one RDD scan, zero joins), not a stack of
    # max_iterations join+aggregate layers.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("LogicalRDD") == 1

    # Exhausting the iteration budget on a long-diameter component must
    # be surfaced, not silent.
    with caplog.at_level(
        logging.WARNING,
        logger="evolution_data_warehouse_spark.operators.dedup",
    ):
        connected_components(nodes, edges, max_iterations=1)
    assert any("fixpoint" in r.message for r in caplog.records)


@pytest.mark.slow
def test_connected_components_storage_bounded_long_loop(spark):
    # The per-iteration localCheckpoint lifecycle relies on
    # ContextCleaner GC (no explicit unpersist — see dedup.py): after a
    # long-diameter run, superseded label generations must actually be
    # reclaimed, not accumulate one cached RDD per iteration. A chain
    # of L nodes converges in ~L-1 min-label rounds, so L=55 exercises
    # 50+ checkpoint generations.
    import gc
    import time

    from evolution_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    L = 55
    nodes = spark.createDataFrame([(i,) for i in range(1, L + 1)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, L)], "doc_a long, doc_b long"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}

    out = connected_components(nodes, edges, max_iterations=L + 5)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {i: 1 for i in range(1, L + 1)}

    # Superseded generations are weakly referenced once the loop moves
    # on; a GC nudge lets ContextCleaner (async) unpersist them. Bound:
    # the live result + edge list + a straggler mid-cleanup.
    deadline = time.time() + 60
    live: set[int] = set()
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        live = {info.id() for info in jsc.getRDDStorageInfo()} - before
        if len(live) <= 4:
            break
        time.sleep(2)
    assert len(live) <= 4, (
        f"{len(live)} checkpoint RDD generations still cached after a "
        f"{L}-iteration run — localCheckpoint lifecycle is leaking"
    )


def test_connected_components_empty_and_null_ids(spark):
    from evolution_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "doc_id long")
    no_edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(empty, no_edges)
    assert out.columns == ["doc_id", "cluster_id"]
    assert out.count() == 0  # trivially converged, no iteration spin

    # All-NULL ids: the label sum is NULL over a non-empty set — the
    # probe cannot observe those labels, so it must fail loudly (SQL SUM
    # skips NULLs, so mixed-NULL sets still sum the non-NULL ids).
    all_null = spark.createDataFrame([(None,), (None,)], "doc_id long")
    with pytest.raises(ValueError, match="NULL"):
        connected_components(all_null, no_edges)

    # Interval dtypes must hit the numeric-id guard, not slip past a
    # string-prefix match on 'int'.
    iv = spark.sql(
        "SELECT INTERVAL '1' DAY AS doc_id"
    )
    with pytest.raises(ValueError, match="numeric"):
        connected_components(iv, no_edges)


def test_minhash_max_bucket_guards_degenerate_buckets(spark):
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    # 40 copies of one boilerplate text (one hot LSH bucket: 40*39/2
    # pairs) plus two genuinely similar docs that share their bucket
    # with nothing else.
    rows = [(i, "common boiler plate text repeated everywhere") for i in range(40)]
    rows += [
        (100, "a distinctive sentence about spark engines and oracles"),
        (101, "a distinctive sentence about spark engines and robots"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from pyspark.sql import functions as F

    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    shingles = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )

    unguarded = minhash_lsh_pairs(
        shingled, sig_storage="none", max_bucket=None
    ).count()
    guarded = minhash_lsh_pairs(
        shingled, sig_storage="none", max_bucket=10
    )
    got = {(r.doc_a, r.doc_b) for r in guarded.collect()}
    # hot bucket suppressed (exact-dedup path's job), similar pair kept
    assert (100, 101) in got
    assert len(got) == 1
    assert unguarded >= 40 * 39 // 2

    # The guard defaults ON (max_bucket=1000): a 40-doc bucket passes
    # the default threshold, so the default equals the unguarded count
    # here, while a degenerate 1001+-doc bucket would be dropped.
    import inspect

    from evolution_data_warehouse_spark.operators.dedup import hot_buckets

    sig = inspect.signature(minhash_lsh_pairs)
    assert sig.parameters["max_bucket"].default == 1000
    assert minhash_lsh_pairs(shingled, sig_storage="none").count() == unguarded

    # hot_buckets surfaces exactly what a given threshold would drop:
    # the 40-copy boilerplate bucket (across all 4 bands), nothing else.
    dropped = hot_buckets(shingled, max_bucket=10).collect()
    assert len(dropped) == 4  # one hot bucket per band
    assert all(r.bucket_n == 40 for r in dropped)
    assert hot_buckets(shingled, max_bucket=1000).count() == 0

    # Plan lock: the guard is a window count over the band key, NOT a
    # groupBy+join back onto the bands — same number of joins as the
    # unguarded plan (candidate self-join + 2 signature joins), plus a
    # Window. The groupBy+join formulation doubled the guarded subtree
    # on both sides of the self-join (~2.1x at sf0.1).
    def _njoins(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return sum(p.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))

    # (bands_storage="none" keeps the guard subtree visible in the
    # plan — the registry default checkpoints the bands, which hides
    # the Window behind a materialized RDD scan.)
    un = minhash_lsh_pairs(
        shingled, sig_storage="none", max_bucket=None, bands_storage="none"
    )
    gu = minhash_lsh_pairs(
        shingled, sig_storage="none", max_bucket=10, bands_storage="none"
    )
    assert _njoins(gu) == _njoins(un)
    assert "Window" in gu._jdf.queryExecution().executedPlan().toString()


def test_minhash_bands_checkpoint_output_identical(spark):
    # r14 optimization: the guarded band table is eagerly
    # localCheckpoint-ed before the pair self-join (AQE does not
    # stage-reuse the guarded subtree across the two sides; the
    # checkpoint halves the guard work). Materialization must be
    # invisible in the result: identical pair sets and est_jaccard
    # either way.
    from evolution_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six seven"),
        (4, "one two three four five six eight"),
        (5, "totally unrelated content goes here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = _word_shingles(docs)
    ckpt = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(
            shingled, sig_storage="none", bands_storage="checkpoint"
        ).collect()
    }
    plain = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(
            shingled, sig_storage="none", bands_storage="none"
        ).collect()
    }
    assert ckpt == plain
    assert len(ckpt) > 0


def _word_shingles(docs):
    """3-gram word shingles, same recipe as queries/text.py::doc_shingles."""
    from pyspark.sql import functions as F

    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    shingles = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def test_minhash_default_guard_trips_on_hot_data(spark):
    # The DEFAULT_MAX_BUCKET=1000 guard has unit coverage at small
    # thresholds; this runs it against data that actually exceeds the
    # default — 1150 byte-identical boilerplate docs in one LSH bucket —
    # and asserts the division of labor the guard assumes: the hot
    # bucket is excluded from the quadratic pair join AND fully
    # recovered by the linear exact-dedup path, so no duplicate
    # relationship is lost overall.
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        hot_buckets,
        minhash_lsh_pairs,
    )

    n_hot = DEFAULT_MAX_BUCKET + 150
    boiler = "common boiler plate text repeated everywhere in this corpus"
    rows = [(i, boiler) for i in range(n_hot)]
    rows += [
        (200_000, "a distinctive sentence about spark engines and oracles"),
        (200_001, "a distinctive sentence about spark engines and robots"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = _word_shingles(docs)

    # Guard on (default): the 1150-doc bucket (660k would-be pairs) is
    # suppressed; the genuine near-dup pair elsewhere survives.
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(shingled, sig_storage="none").collect()
    }
    assert got == {(200_000, 200_001)}

    # hot_buckets reports exactly what was dropped: one bucket per band,
    # each holding every boilerplate doc.
    dropped = hot_buckets(shingled).collect()
    assert len(dropped) == 4
    assert all(r.bucket_n == n_hot for r in dropped)

    # Exact-dedup path recovers the suppressed bucket in linear time:
    # one content-hash group holding all 1150 docs.
    exact = (
        docs.groupBy(F.md5(F.col("text")).alias("h"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("canonical"))
        .filter(F.col("n") > 1)
        .collect()
    )
    assert len(exact) == 1 and exact[0].n == n_hot and exact[0].canonical == 0

    # Union property: every doc in a duplicate relation is covered by
    # guarded-LSH pairs or the exact path; nothing fell through.
    lsh_docs = {d for pair in got for d in pair}
    exact_docs = set(range(n_hot))
    assert lsh_docs | exact_docs == set(range(n_hot)) | {200_000, 200_001}


def test_connected_components_nonconvergence_labels_incomplete(spark, caplog):
    # VERDICT r4: trip non-convergence deliberately — a path graph with
    # diameter far beyond max_iterations must (a) warn, (b) return
    # labels that are genuinely incomplete (min-label propagation moves
    # one hop per iteration, so distant nodes keep larger labels), and
    # (c) still label the near end correctly — partial progress, not
    # garbage.
    import logging

    from evolution_data_warehouse_spark.operators.dedup import (
        connected_components,
    )

    L = 26  # path 1-2-...-26, diameter 25
    nodes = spark.createDataFrame([(i,) for i in range(1, L + 1)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, L)], "doc_a long, doc_b long"
    )
    with caplog.at_level(
        logging.WARNING,
        logger="evolution_data_warehouse_spark.operators.dedup",
    ):
        out = connected_components(nodes, edges, max_iterations=3)
        labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert any("fixpoint" in r.message for r in caplog.records)
    # Incomplete: the true fixpoint is all-1; nodes beyond the 3-hop
    # horizon must still carry provisional (larger) labels.
    assert labels[1] == 1 and labels[4] == 1  # within the horizon
    incomplete = [n for n, lab in labels.items() if lab != 1]
    assert incomplete, "labels unexpectedly converged — fixture too small"
    assert all(labels[n] == 1 for n in range(1, 5))


def test_ivf_multiprobe_recall_monotone(spark, sf_dir):
    # VERDICT r4: sim_ann_ivf verifies plumbing; this verifies SEARCH
    # QUALITY — recall@10 against brute-force ground truth must not
    # decrease as n_probe grows (more inverted lists probed ⊇ fewer),
    # and single-probe must already find a meaningful fraction.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators import similarity as sim
    from evolution_data_warehouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        with_norm,
    )
    from evolution_data_warehouse_spark.queries.similarity import _KM_CENTROIDS

    K, N_QUERIES = 10, 20
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    truth = {}
    for r in brute_force_topk(queries, emb, K).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    e = with_norm(emb).select("vec_id", "_vec", "_norm")
    corpus_b = ivf_assign(e, _KM_CENTROIDS, n_probe=1)

    def ivf_topk(n_probe: int) -> dict[int, set[int]]:
        qb = ivf_assign(
            e.filter(F.col("vec_id") < N_QUERIES), _KM_CENTROIDS, n_probe=n_probe
        )
        cand = (
            qb.alias("qb")
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
                sim.cosine(
                    F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
                ),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        out = {}
        for r in (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= K)
            .collect()
        ):
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    def recall(found: dict[int, set[int]]) -> float:
        return sum(
            len(found.get(qid, set()) & hits) / len(hits)
            for qid, hits in truth.items()
        ) / len(truth)

    r1, r3 = recall(ivf_topk(1)), recall(ivf_topk(3))
    assert r3 >= r1, f"multi-probe lost recall: probe1={r1:.3f} probe3={r3:.3f}"
    assert r1 > 0.1, f"single-probe recall implausibly low: {r1:.3f}"
    # 3 of 4 lists probed must recover most of the truth set.
    assert r3 > 0.6, f"probe3 recall too low: {r3:.3f}"


@pytest.mark.slow
def test_kmeans_fit_properties(spark, sf_dir):
    # Distributed Lloyd's: deterministic across runs, inertia
    # non-increasing over iterations, every vector assigned, empty-
    # cluster fallback keeps the previous centroid.
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.similarity import (
        kmeans_fit,
        sq_l2,
        with_norm,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    c1, a1 = kmeans_fit(emb, k=4, iterations=5)
    c2, a2 = kmeans_fit(emb, k=4, iterations=5)
    assert c1 == c2  # bit-deterministic centroids
    assert {r.vec_id: r.cluster for r in a1.collect()} == {
        r.vec_id: r.cluster for r in a2.collect()
    }
    assert a1.count() == emb.count()
    assert a1.filter(F.col("cluster").isNull()).count() == 0
    assert {r.cluster for r in a1.select("cluster").distinct().collect()} <= set(
        range(4)
    )

    def inertia(centroids):
        vecs = with_norm(emb).select("_vec")
        d = F.array(*[sq_l2(F.col("_vec"), c) for c in centroids])
        return (
            vecs.select(F.array_min(d).alias("m"))
            .agg(F.sum("m"))
            .first()[0]
        )

    # more Lloyd iterations can only tighten (or hold) the objective
    c0, _ = kmeans_fit(emb, k=4, iterations=1)
    c5, _ = kmeans_fit(emb, k=4, iterations=5)
    assert inertia(c5) <= inertia(c0) + 1e-9

    # degenerate k > distinct vectors: empty clusters keep their init
    # centroid and nothing crashes
    tiny = emb.limit(2)
    ck, ak = kmeans_fit(tiny, k=4, iterations=3)
    assert len(ck) == 4 and ak.count() == 2


def test_mix_sample_rates_and_passthrough(spark):
    from evolution_data_warehouse_spark.operators.datapipe import (
        MIX_BUCKETS,
        mix_sample,
    )

    df = spark.createDataFrame(
        [(i, ["en", "fr", "xx"][i % 3]) for i in range(300)],
        "doc_id long, lang string",
    )
    out = mix_sample(df, rates={"en": 0.0, "fr": 1.0}).collect()
    langs = {r.lang for r in out}
    # rate 0.0 drops everything; rate 1.0 and the unlisted group keep all
    assert "en" not in langs
    assert sum(r.lang == "fr" for r in out) == 100
    assert sum(r.lang == "xx" for r in out) == 100
    assert all(0 <= r.mix_bucket < MIX_BUCKETS for r in out)

    # deterministic: same input, same kept set
    again = {r.doc_id for r in mix_sample(df, rates={"en": 0.0, "fr": 1.0}).collect()}
    assert again == {r.doc_id for r in out}

    with pytest.raises(ValueError, match="must be in"):
        mix_sample(df, rates={"en": 1.5})


def test_mix_sample_rate_is_approximately_honored(spark):
    from evolution_data_warehouse_spark.operators.datapipe import mix_sample

    df = spark.createDataFrame(
        [(i, "en") for i in range(2000)], "doc_id long, lang string"
    )
    kept = mix_sample(df, rates={"en": 0.4}).count()
    # md5 buckets are uniform: 2000 docs at rate 0.4 → 800 ± a loose band
    assert 700 <= kept <= 900


@pytest.mark.slow
def test_ivf_index_persistence_roundtrip(spark, sf_dir, tmp_path):
    from evolution_data_warehouse_spark.operators.similarity import (
        as_double,
        brute_force_topk,
        ivf_index_save,
        ivf_index_search,
        kmeans_fit,
    )

    emb = t(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb, k=8, iterations=5)
    path = str(tmp_path / "ivf_index")
    ivf_index_save(emb, centroids, path)

    # the layout IS the index: one directory per inverted list
    import glob

    dirs = glob.glob(f"{path}/lists/centroid_id=*")
    assert len(dirs) >= 2

    queries = emb.orderBy("vec_id").limit(5)
    got = ivf_index_search(spark, path, queries, k=3, n_probe=8)
    rows = got.collect()
    assert {r.query_id for r in rows} == {r.vec_id for r in queries.collect()}
    assert all(1 <= r.rank <= 3 for r in rows)

    # probing ALL lists must equal exact brute force
    exact = brute_force_topk(queries, emb, k=3)
    e = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    g = {(r.query_id, r.rank): r.neighbor_id for r in rows}
    assert g == e


def test_image_codecs_roundtrip_and_gates():
    """Real stdlib codecs: random-pixel round trips for BMP/PPM/PNG
    (PNG cycling all five filter types), a hand-crafted BMP byte
    fixture, CRC tamper detection, and the honest JPEG gate."""
    import numpy as np
    import pytest
    import struct
    import zlib

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_bmp,
        decode_image_auto,
        decode_png,
        decode_ppm,
        encode_bmp,
        encode_png,
        encode_ppm,
    )

    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (2, 3), (9, 17), (5, 4)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for enc, dec in [
            (encode_bmp, decode_bmp),
            (encode_ppm, decode_ppm),
            (encode_png, decode_png),
        ]:
            w2, h2, out = dec(enc(px))
            assert (w2, h2) == (w, h)
            assert np.array_equal(out, px)

    # RGBA PNG (color type 6) round trip; alpha excluded from sums
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    _, _, out = decode_png(encode_png(rgba))
    assert np.array_equal(out, rgba)
    feats = decode_image_auto(encode_png(rgba))
    assert feats["sum_r"] == int(rgba[:, :, 0].astype(np.int64).sum())

    # hand-crafted 2x1 24-bit BMP: row stride pads 6 pixel bytes to 8;
    # bottom-up + BGR means the byte order is exactly this
    pixels = b"\x01\x02\x03\x04\x05\x06"  # (B,G,R) x2 = RGB (3,2,1),(6,5,4)
    body = pixels + b"\x00\x00"
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(body), 0, 0, 0, 0)
    w2, h2, out = decode_bmp(hdr + info + body)
    assert (w2, h2) == (2, 1)
    assert out.tolist() == [[[3, 2, 1], [6, 5, 4]]]

    # PNG chunk CRC tampering must be detected, not silently decoded
    good = encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    idat_at = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))

    # baseline JPEG now decodes for real (see test_jpeg_codec_*), and
    # GIF dispatches to the real LZW decoder (a garbage body is a
    # truncation, not an unknown magic); unknown magics still refuse
    with pytest.raises(ValueError, match="truncated"):
        decode_image_auto(b"GIF89a....")
    with pytest.raises(ValueError, match="magic"):
        decode_image_auto(b"RIFX....")


def test_bmp_variants_and_16bit_ppm():
    """32-bit BGRA, 8-bit paletted, and top-down BMPs decode for real,
    as does maxval-65535 PPM — exact round-trips via the hermetic
    encoders, plus truncation/overrun ValueError contracts."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_bmp,
        decode_image_auto,
        decode_ppm,
        encode_bmp,
        encode_bmp8,
        encode_ppm,
    )

    rng = np.random.default_rng(23)
    for h, w in [(1, 1), (2, 3), (7, 5), (9, 17), (1, 40), (40, 1)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        px4 = rng.integers(0, 256, (h, w, 4), dtype=np.uint8)
        for td in (False, True):
            assert np.array_equal(decode_bmp(encode_bmp(px, top_down=td))[2], px)
            assert np.array_equal(decode_bmp(encode_bmp(px4, top_down=td))[2], px4)
        pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
        idx = rng.integers(0, 17, (h, w), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp8(idx, pal))[2], pal[idx])
        px16 = rng.integers(0, 65536, (h, w, 3), dtype=np.uint16)
        out = decode_ppm(encode_ppm(px16))[2]
        assert out.dtype == np.uint16 and np.array_equal(out, px16)

    # auto-dispatch sums the first three channels for every variant
    px4 = rng.integers(0, 256, (3, 4, 4), dtype=np.uint8)
    feats = decode_image_auto(encode_bmp(px4))
    assert feats["format"] == "bmp"
    assert feats["sum_g"] == int(px4[:, :, 1].astype(np.int64).sum())
    px16 = rng.integers(0, 65536, (3, 4, 3), dtype=np.uint16)
    feats = decode_image_auto(encode_ppm(px16))
    assert feats["sum_b"] == int(px16[:, :, 2].astype(np.int64).sum())

    with pytest.raises(ValueError, match="truncated BMP"):
        decode_bmp(encode_bmp(np.zeros((5, 5, 3), dtype=np.uint8))[:-20])
    with pytest.raises(ValueError, match="truncated PPM"):
        decode_ppm(encode_ppm(np.zeros((5, 5, 3), dtype=np.uint8))[:-10])
    # arbitrary-cut fuzz: only ValueError/NotImplementedError ever
    # escape a BMP or PPM decode (header cuts included)
    for data, dec in [
        (encode_bmp(rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)), decode_bmp),
        (encode_bmp8(idx, pal), decode_bmp),
        (encode_ppm(rng.integers(0, 65536, (7, 5, 3), dtype=np.uint16)), decode_ppm),
    ]:
        for cut in range(2, len(data), 3):
            with pytest.raises((ValueError, NotImplementedError)):
                dec(data[:cut])
    with pytest.raises(ValueError, match="outside palette"):
        pal3 = np.zeros((3, 3), dtype=np.uint8)
        decode_bmp(encode_bmp8(np.full((2, 2), 7, dtype=np.uint8), pal3))
    # flipping a 24-bit header to claim 4 bpp leaves no room for the
    # 16-entry palette before the pixel offset — caught, not decoded
    four_bit = bytearray(encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8)))
    four_bit[28:30] = (4).to_bytes(2, "little")
    with pytest.raises(ValueError, match="palette overruns"):
        decode_bmp(bytes(four_bit))


def test_bmp_sub8_and_rle():
    """1/4-bit paletted and RLE4/RLE8 BMPs decode for real: exact
    round-trips via the hermetic encoders (dims that exercise packing
    padding and runs that span the 255 cap), a hand-crafted delta
    escape, and the ValueError-only contract under arbitrary-cut and
    byte-flip fuzz."""
    import numpy as np
    import pytest
    import struct

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_bmp,
        decode_image_auto,
        encode_bmp_rle,
        encode_bmp_sub8,
    )

    rng = np.random.default_rng(31)
    for h, w in [(1, 1), (2, 3), (7, 5), (3, 33), (1, 300), (40, 1)]:
        pal2 = rng.integers(0, 256, (2, 3), dtype=np.uint8)
        pal16 = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        pal256 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
        idx1 = rng.integers(0, 2, (h, w), dtype=np.uint8)
        idx4 = rng.integers(0, 16, (h, w), dtype=np.uint8)
        idx8 = rng.integers(0, 256, (h, w), dtype=np.uint8)
        # runny variant so the RLE encoder hits encoded-run mode too
        runny = np.repeat(idx8[:, :: max(1, w // 4)], w, axis=1)[:, :w]
        assert np.array_equal(
            decode_bmp(encode_bmp_sub8(idx1, pal2, 1))[2], pal2[idx1]
        )
        assert np.array_equal(
            decode_bmp(encode_bmp_sub8(idx4, pal16, 4))[2], pal16[idx4]
        )
        assert np.array_equal(
            decode_bmp(encode_bmp_rle(idx8, pal256, 8))[2], pal256[idx8]
        )
        assert np.array_equal(
            decode_bmp(encode_bmp_rle(runny, pal256, 8))[2], pal256[runny]
        )
        assert np.array_equal(
            decode_bmp(encode_bmp_rle(idx4, pal16, 4))[2], pal16[idx4]
        )

    # auto-dispatch handles the new variants like any other BMP
    feats = decode_image_auto(encode_bmp_rle(idx4, pal16, 4))
    assert feats["format"] == "bmp"
    assert feats["sum_r"] == int(pal16[idx4][:, :, 0].astype(np.int64).sum())

    # hand-crafted RLE8 with a delta escape: 3x3, run of 2 at the
    # bottom-left, delta (0,2) skips up two rows, run of 1 there;
    # everything skipped stays palette index 0 per the convention
    pal = np.array([[9, 9, 9], [50, 60, 70], [200, 10, 20]], np.uint8)
    rle = bytes(
        [2, 1, 0, 2, 0, 2, 1, 2, 0, 0, 0, 1]
    )  # run 2x#1, delta(+0,+2), run 1x#2, EOL, EOB
    off = 14 + 40 + 4 * 3
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, 3, 3, 1, 8, 1, len(rle), 0, 0, 3, 0
    )
    quads = np.zeros((3, 4), np.uint8)
    quads[:, :3] = pal[:, ::-1]
    w2, h2, out = decode_bmp(hdr + info + quads.tobytes() + rle)
    expect = np.zeros((3, 3), np.int64)
    expect[2, 0] = expect[2, 1] = 1  # bottom row (storage row 0)
    expect[0, 2] = 2  # delta skipped to x=2, y=2 (storage) = top row
    assert np.array_equal(out, pal[expect])

    # a tiny payload claiming huge dimensions must fail BEFORE any
    # allocation — the quarantine contract is ValueError, not OOM
    bomb = bytearray(encode_bmp_rle(np.zeros((2, 2), np.uint8), pal2, 8))
    bomb[18:26] = struct.pack("<ii", 200_000, 200_000)
    with pytest.raises(ValueError, match="implausible BMP dimensions"):
        decode_bmp(bytes(bomb))
    # 16-bpp BI_RGB (default 555 masks) decodes for real now — the
    # late-r8 BI_BITFIELDS path closed this gate, so reinterpreting the
    # old RLE payload as raw 555 words is a well-formed decode
    sixteen = bytearray(encode_bmp_rle(np.zeros((2, 2), np.uint8), pal2, 8))
    sixteen[28:30] = (16).to_bytes(2, "little")
    sixteen[30:34] = (0).to_bytes(4, "little")
    w16, h16, px16 = decode_bmp(bytes(sixteen))
    assert (w16, h16) == (2, 2) and px16.shape == (2, 2, 3)

    # fuzz: cuts and byte flips only ever raise ValueError /
    # NotImplementedError — the mapInPandas quarantine contract
    corpora = [
        encode_bmp_sub8(idx1, pal2, 1),
        encode_bmp_sub8(idx4, pal16, 4),
        encode_bmp_rle(idx8, pal256, 8),
        encode_bmp_rle(idx4, pal16, 4),
    ]
    for data in corpora:
        for cut in range(2, len(data), 3):
            with pytest.raises((ValueError, NotImplementedError)):
                decode_bmp(data[:cut])
        for pos in range(0, len(data), 7):
            mutated = bytearray(data)
            mutated[pos] ^= 0xFF
            try:
                decode_bmp(bytes(mutated))
            except (ValueError, NotImplementedError):
                pass


def test_png_interlaced_and_16bit():
    """Adam7-interlaced and 16-bit PNG decode for real: exact
    round-trips across dims that exercise empty passes (w or h < the
    pass origin), bit-identity between interlaced and plain decode of
    the same pixels, and the ValueError contract on truncation at any
    byte boundary (never struct.error/IndexError)."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 17), (1, 40), (40, 1)]:
        for ch in (3, 4):
            px8 = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
            w2, h2, out = decode_png(encode_png(px8, interlace=1))
            assert (w2, h2) == (w, h)
            assert out.dtype == np.uint8 and np.array_equal(out, px8)
            px16 = rng.integers(0, 65536, (h, w, ch), dtype=np.uint16)
            for il in (0, 1):
                _, _, out = decode_png(
                    encode_png(px16, interlace=il, depth=16)
                )
                assert out.dtype == np.uint16 and np.array_equal(out, px16)

    px = rng.integers(0, 256, (13, 11, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_png(encode_png(px, interlace=1))[2],
        decode_png(encode_png(px))[2],
    )

    # every truncation either raises ValueError (never struct.error /
    # IndexError) or — only when the cut lands exactly at the end of the
    # complete IDAT chunk — decodes to the full image
    full = encode_png(px, interlace=1)
    for cut in range(8, len(full)):
        try:
            _, _, out = decode_png(full[:cut])
        except ValueError:
            continue
        assert np.array_equal(out, px), f"bad partial decode at cut={cut}"


def test_jpeg_codec_roundtrip_bounds():
    """Pure-numpy baseline JPEG: decode-of-encode reconstructs within
    tight bounds (quant=1 → only DCT rounding for 4:4:4; chroma
    subsampling adds bounded loss for 4:2:0), deterministic bytes,
    and honest errors on unsupported modes/truncation."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_image_auto,
    )

    rng = np.random.default_rng(7)
    # worst-case content (noise): DCT rounding bound
    for h, w in [(8, 8), (5, 7), (16, 24), (13, 21)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = encode_jpeg(px)
        w2, h2, out = decode_jpeg(data)
        assert (w2, h2) == (w, h)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 4
        # byte-determinism: same pixels → same stream
        assert encode_jpeg(px) == data

    # 4:2:0: smooth content, subsampling loss bounded
    for h, w in [(16, 16), (9, 13), (32, 24)]:
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = (np.arange(w)[None, :] * 7) % 256
        px[:, :, 1] = (np.arange(h)[:, None] * 5) % 256
        px[:, :, 2] = 77
        w2, h2, out = decode_jpeg(encode_jpeg(px, subsample=True))
        assert (w2, h2) == (w, h)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 10

    # dispatch integration: sums come from the real decode
    px = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    feats = decode_image_auto(encode_jpeg(px))
    assert feats["format"] == "jpeg"
    assert feats["width"] == 8 and feats["height"] == 8
    exp = px.reshape(-1, 3).astype(np.int64).sum(axis=0)
    for i, ch in enumerate(("sum_r", "sum_g", "sum_b")):
        assert abs(feats[ch] - int(exp[i])) <= 4 * 64

    # unsupported modes refuse plainly: flip SOF0 -> SOF9 (arithmetic).
    # SOF2 (progressive) decodes for real since r8 — see
    # test_jpeg_progressive_decodes_bit_identical_to_baseline.
    data = bytearray(encode_jpeg(px))
    sof_at = bytes(data).index(b"\xff\xc0")
    data[sof_at + 1] = 0xC9
    with pytest.raises(ValueError, match="SOF9"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOS|SOI|JPEG"):
        decode_jpeg(b"\xff\xd8\xff\xe0JFIF")


def test_decode_documents_real_matches_closed_form(spark, sf_dir):
    """The Spark pipeline (synthesize real bytes -> parse them back)
    reproduces the analytic channel sums for every format branch."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_documents_real,
    )

    docs = t(spark, sf_dir, "documents").limit(60)
    got = decode_documents_real(docs)
    d = F.col("doc_id")
    w, h = 4 + d % 13, 3 + d % 7
    bad = got.filter(
        (F.col("width") != w)
        | (F.col("height") != h)
        | (F.col("sum_r") != h * (w * (w - 1)) / 2)
        | (F.col("sum_g") != w * (h * (h - 1)) / 2)
        | (F.col("sum_b") != w * h * (d % 256))
    )
    assert bad.count() == 0
    assert got.select("format").distinct().count() == 3


def test_pca_fit_project_properties(spark, sf_dir):
    """PCA engine properties: orthonormal components, descending
    explained variance, reconstruction error shrinking with k, and
    agreement with a straight numpy PCA on the collected data."""
    import numpy as np

    from evolution_data_warehouse_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )

    emb = t(spark, sf_dir, "embeddings")
    comps, mean, ev = pca_fit(emb, k=8)
    assert comps.shape[0] == 8

    # orthonormal rows, variance sorted descending and non-negative
    gram = comps @ comps.T
    assert np.allclose(gram, np.eye(8), atol=1e-8)
    assert all(ev[i] >= ev[i + 1] - 1e-12 for i in range(7))
    assert ev[-1] >= -1e-10

    # matches numpy covariance eigendecomposition on the same data
    x = np.stack([r.embedding for r in emb.select("embedding").collect()])
    cov = np.cov(x.T, bias=True)
    ref = np.sort(np.linalg.eigvalsh(cov))[::-1][:8]
    assert np.allclose(ev, ref, rtol=1e-6)

    # distributed projection == local projection
    proj = pca_project(emb, comps, mean)
    rows = {r.vec_id: np.array(r.proj) for r in proj.collect()}
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    xl = {r.vec_id: np.array(r.embedding, dtype=np.float64)
          for r in emb.select("vec_id", "embedding").collect()}
    for vid in ids[:50]:
        assert np.allclose(rows[vid], (xl[vid] - mean) @ comps.T, atol=1e-8)

    # reconstruction error shrinks as k grows
    def recon_err(kk):
        c, m, _ = pca_fit(emb, k=kk)
        z = (x - m) @ c.T
        back = z @ c + m
        return float(((x - back) ** 2).sum())

    e2, e8 = recon_err(2), recon_err(8)
    assert e8 < e2


def test_png_bomb_guards():
    """Hostile-input guards (r8 ADVICE): a forged IHDR (huge or zero
    dims) and a zlib bomb must each raise ValueError BEFORE any large
    allocation — a MemoryError would escape decode_image_tolerant_row's
    (ValueError, NotImplementedError) quarantine net and kill the task.
    CRC-valid payloads are required because the chunk walk checks CRCs
    first (bit-flip fuzzing can never reach these paths)."""
    import struct
    import time
    import zlib

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_image_tolerant_row,
        decode_png,
    )

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(w, h, depth, ctype, interlace, idat_raw) -> bytes:
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        return (
            sig
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(idat_raw))
            + chunk(b"IEND", b"")
        )

    # ~100-byte payload claiming 60000x60000 RGBA interlaced: without
    # the pixel cap this allocates ~10 GiB before any stream check
    forged = png(60000, 60000, 8, 6, 1, b"\x00" * 16)
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="out of bounds"):
        decode_png(forged)
    assert time.monotonic() - t0 < 1.0
    for w, h in [(0, 4), (4, 0)]:
        with pytest.raises(ValueError, match="out of bounds"):
            decode_png(png(w, h, 8, 2, 0, b""))

    # legal 4x4 dims but the IDAT inflates to 10 MB (IHDR implies 52 B):
    # the capped decompressobj stops at expected+1 bytes and raises
    bomb = png(4, 4, 8, 2, 0, b"\x00" * 10_000_000)
    with pytest.raises(ValueError, match="beyond the IHDR-implied size"):
        decode_png(bomb)

    # a cleanly-cut zlib stream (valid prefix, no bomb) still ValueErrors
    short = png(4, 4, 8, 2, 0, b"\x00" * 40)  # 12 B short of 52
    with pytest.raises(ValueError, match="truncated|length mismatch"):
        decode_png(short)

    # the tolerant row path quarantines both hostile rows per-row
    # (columns: doc_id, status, format, width, height, sum_r, sum_g, sum_b)
    out = [r for d, p in [(1, forged), (2, bomb)] for r in decode_image_tolerant_row(d, p)]
    assert [r[1] for r in out] == ["error", "error"]
    assert all(r[3] is None for r in out)
    # and a legitimate image still decodes through the same net
    from evolution_data_warehouse_spark.operators.multimodal import encode_png

    ok = encode_png(np.full((2, 2, 3), 7, dtype=np.uint8))
    out2 = list(decode_image_tolerant_row(3, ok))
    assert [r[1] for r in out2] == ["ok"]
    assert out2[0][5] == 7 * 4


def test_png_text_chunks_roundtrip():
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_png,
        decode_png_text,
        encode_png,
    )

    px = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
    meta = {"title": "hello", "lang": "fr", "z key": "v=1"}
    data = encode_png(px, text=meta)
    assert decode_png_text(data) == meta
    # pixel decode is unaffected by the metadata chunks
    _, _, out = decode_png(data)
    assert np.array_equal(out, px)
    # a PNG without tEXt yields an empty dict
    assert decode_png_text(encode_png(px)) == {}
    # tampered tEXt CRC is rejected
    bad = bytearray(data)
    at = data.index(b"tEXt") + 5
    bad[at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_text(bytes(bad))


def test_pagerank_matches_power_iteration(spark):
    """PageRank on a small directed graph vs a numpy power-iteration
    oracle (same damping, same dangling redistribution), plus the
    structural properties: mass conserved, hubs outrank leaves."""
    import numpy as np

    from evolution_data_warehouse_spark.operators.dedup import pagerank

    # star (0 <- 1,2,3) plus a chain 3->4, node 5 dangling via 4->5
    edges = [(1, 0), (2, 0), (3, 0), (3, 4), (4, 5)]
    edf = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.id: r.rank
        for r in pagerank(
            edf, iterations=25, undirected=False
        ).collect()
    }

    n, d = 6, 0.85
    adj = {1: [0], 2: [0], 3: [0, 4], 4: [5]}
    r = np.full(n, 1.0 / n)
    for _ in range(25):
        incoming = np.zeros(n)
        dangling = 0.0
        for u in range(n):
            outs = adj.get(u, [])
            if not outs:
                dangling += r[u]
            for v in outs:
                incoming[v] += r[u] / len(outs)
        r = (1 - d) / n + d * (incoming + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the star hub outranks every leaf
    assert got[0] == max(got.values())


def test_pagerank_on_neardup_graph(spark, sf_dir):
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.dedup import pagerank
    from evolution_data_warehouse_spark.queries import REGISTRY

    pairs = REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    ranks = pagerank(pairs, iterations=5)
    rows = ranks.collect()
    assert len(rows) > 0
    assert all(r.rank > 0 for r in rows)
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-6


def test_minhash_recall_vs_exact_jaccard(spark):
    """Empirical banding-curve check: on the sf0.001 corpus, the
    MinHash-LSH candidate set must recover >=80% of the truly-similar
    pairs (exact Jaccard >= 0.8) — with 4 bands x 4 rows the analytic
    hit probability at j=0.8 is 1-(1-0.8^4)^4 ~ 0.88, and the fixed
    corpus + fixed hash family make the measured recall deterministic.
    The quality leg the plan-shape arguments can't give."""
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
        minhash_lsh_pairs,
    )
    from evolution_data_warehouse_spark.queries.text import (
        doc_shingles as _doc_shingles,
    )

    sf_dir = "/root/testdata/sf0.001"
    sh = (
        _doc_shingles(spark, sf_dir)
        .select("doc_id", content_hash64(F.col("shingle")).alias("h"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    exact = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "j",
            F.col("n_common")
            / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")),
        )
    )
    true_pairs = {
        (r.doc_a, r.doc_b)
        for r in exact.filter(F.col("j") >= 0.8).collect()
    }
    assert len(true_pairs) >= 5, "fixture should contain real near-dups"

    cand = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(_doc_shingles(spark, sf_dir))
        .select("doc_a", "doc_b")
        .collect()
    }
    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.8, (recall, len(true_pairs), len(cand))


def test_shingle_df_cap_guards_hot_shingles(spark):
    """The DEFAULT_MAX_SHINGLE_DF guard (r7): a shingle shared by more
    docs than the cap is dropped BEFORE the exact self-join, while
    rarer shingles keep pairing. Mirrors the minhash guard's division
    of labor — boilerplate belongs to the exact-dedup path."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.dedup import (
        cap_shingle_df,
        content_hash64,
    )

    # shingle 'hot' in 5 docs, 'rare' in 2 of them
    rows = [(i, "hot") for i in range(5)] + [(0, "rare"), (1, "rare")]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string").select(
        "doc_id", content_hash64(F.col("shingle")).alias("shingle_h")
    )

    def pairs(rel):
        a, b = rel.alias("a"), rel.alias("b")
        return {
            (r.da, r.db)
            for r in a.join(
                b,
                (F.col("a.shingle_h") == F.col("b.shingle_h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
            )
            .distinct()
            .collect()
        }

    # unguarded: the hot shingle alone emits C(5,2)=10 pairs
    assert len(pairs(sh)) == 10
    # cap=4: hot dropped, only the rare-shingle pair survives
    assert pairs(cap_shingle_df(sh, max_df=4)) == {(0, 1)}
    # cap=5: hot survives (<= is inclusive, like the minhash guard)
    assert len(pairs(cap_shingle_df(sh, max_df=5))) == 10


def test_jpeg_grayscale_single_component_decode():
    """The decoder's 1-component branch: a hand-assembled grayscale
    baseline JPEG (single Y scan, Annex K luma tables) decodes to
    identical values replicated across R=G=B."""
    import struct

    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    h = w = 8
    rng = np.random.default_rng(3)
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)

    dc = J._build_codes(J.DC_LUM_BITS, J.DC_LUM_VALS)
    ac = J._build_codes(J.AC_LUM_BITS, J.AC_LUM_VALS)
    bw = J._BitWriter()
    zz = J._fdct_quant(gray)
    J._encode_block(bw, zz, 0, dc, ac)
    bw.flush()

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    qtab = bytes([0]) + bytes(np.ones(64, dtype=np.uint8))
    sof = struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
    dht_dc = bytes([0x00]) + bytes(J.DC_LUM_BITS[1:]) + bytes(J.DC_LUM_VALS)
    dht_ac = bytes([0x10]) + bytes(J.AC_LUM_BITS[1:]) + bytes(J.AC_LUM_VALS)
    sos = struct.pack(">B", 1) + struct.pack(">BB", 1, 0x00) + struct.pack(
        ">BBB", 0, 63, 0
    )
    data = b"".join(
        [
            b"\xff\xd8",
            seg(0xFFDB, qtab),
            seg(0xFFC0, sof),
            seg(0xFFC4, dht_dc),
            seg(0xFFC4, dht_ac),
            seg(0xFFDA, sos),
            bytes(bw.out),
            b"\xff\xd9",
        ]
    )
    w2, h2, out = J.decode_jpeg(data)
    assert (w2, h2) == (w, h)
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    assert np.array_equal(out[:, :, 0], out[:, :, 2])
    assert np.abs(out[:, :, 0].astype(int) - gray.astype(int)).max() <= 2


def test_countmin_one_sided_error_full_vocabulary(spark):
    """Count-min invariants over EVERY item of a skewed stream (not
    just the top-k the oracle query probes): est >= exact always (the
    one-sided guarantee — a single undercount anywhere is a bug), and
    the mean overcount stays within a small multiple of N/width."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    rows = []
    for i in range(20):
        rows += [(f"hot{i:02d}",)] * (2000 // (i + 1))
    rows += [(f"tail{j}",) for j in range(2000)]
    df = spark.createDataFrame(rows, "item string").repartition(8)
    n_total = len(rows)

    cells = countmin_cells(df, "item", width=256, depth=4)
    exact = df.groupBy("item").agg(F.count("*").alias("exact_n"))
    est = countmin_estimate(cells, exact, "item", width=256, depth=4)
    got = est.select("item", "exact_n", "cm_est").collect()
    assert len(got) == exact.count()  # every item estimated
    overs = [r.cm_est - r.exact_n for r in got]
    assert min(overs) >= 0, "count-min undercounted — broken sketch"
    # expected overcount per row is N/w; min over 4 rows ≪ that. Allow 3x.
    assert sum(overs) / len(overs) <= 3 * n_total / 256


def test_heavy_hitters_mg_exact_and_certified(spark):
    """MG + exact re-count returns the exact tie-broken top-k on a
    skewed stream, and the in-plan certificate throws (instead of
    silently approximating) when capacity is hopeless."""
    import pytest
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    # zipf-ish: item_i appears ~N/(i+1) times, plus a long uniform tail
    rows = []
    for i in range(20):
        rows += [(f"hot{i:02d}",)] * (4000 // (i + 1))
    rows += [(f"tail{j}",) for j in range(3000)]
    df = spark.createDataFrame(rows, "item string").repartition(8)

    got = [
        (r.item, r.cnt)
        for r in heavy_hitters_exact(df, "item", k=10, capacity=512).collect()
    ]
    exact = [
        (r.item, r.cnt)
        for r in df.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "item")
        .limit(10)
        .collect()
    ]
    assert got == exact

    # capacity 4 over a 3000-item tail: the k-th candidate count cannot
    # clear n/m — the certificate must throw, not return garbage
    with pytest.raises(Exception, match="cannot certify"):
        heavy_hitters_exact(df, "item", k=10, capacity=4).collect()


def test_jpeg_zrl_long_zero_run_roundtrip():
    """A lone high-frequency coefficient after a 40+ zero run forces
    the encoder through ZRL (16-zero-run) codes — a path random
    fixtures almost never hit with quant=1; the decoder must place the
    coefficient at the exact zigzag index (roundtrip is bit-exact for
    this synthetic spectrum)."""
    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    flat = np.zeros(64)
    flat[J.ZIGZAG[45]] = 40.0  # zigzag index 45 → run of 44 zeros
    coef = flat.reshape(8, 8).copy()
    coef[0, 0] = 200.0
    block = J._C.T @ coef @ J._C + 128.0
    px = np.clip(np.floor(block + 0.5), 0, 255).astype(np.uint8)
    rgb = np.stack([px, px, px], axis=2)
    w, h, out = J.decode_jpeg(J.encode_jpeg(rgb))
    assert (w, h) == (8, 8)
    assert np.array_equal(out, rgb)  # bit-exact for this spectrum


def test_jpeg_16bit_quant_table_decode():
    """DQT with Pq=1 (16-bit entries) decodes identically to the 8-bit
    form carrying the same values — exercised by rewriting a real
    stream's quant segments, since no common encoder emits Pq=1."""
    import struct

    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    data = J.encode_jpeg(px)

    out = bytearray()
    pos = 0
    while pos < len(data):
        if data[pos] == 0xFF and data[pos + 1] == 0xDB:
            length = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
            body = data[pos + 4 : pos + 2 + length]
            tq = body[0] & 0x0F
            vals = np.frombuffer(body[1:65], dtype=np.uint8).astype(">u2")
            new_body = bytes([0x10 | tq]) + vals.tobytes()
            out += struct.pack(">HH", 0xFFDB, len(new_body) + 2) + new_body
            pos += 2 + length
        else:
            out.append(data[pos])
            pos += 1

    w, h, dec16 = J.decode_jpeg(bytes(out))
    _, _, dec8 = J.decode_jpeg(data)
    assert (w, h) == (8, 8)
    assert np.array_equal(dec16, dec8)


def _build_dri_jpeg():
    """Hand-assemble a 3-MCU baseline JPEG with DRI=1 (a restart marker
    and DC-prediction reset between every MCU). Returns (data, px, w, h)."""
    import struct

    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(8, 24, 3), dtype=np.uint8)
    h, w = px.shape[:2]
    rgb = px.astype(np.float64)
    y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    cb = (128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1]
          + 0.5 * rgb[:, :, 2])
    cr = (128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1]
          - 0.081312 * rgb[:, :, 2])
    planes = [
        np.clip(np.floor(p + 0.5), 0, 255).astype(np.float64)
        for p in (y, cb, cr)
    ]
    dc = [J._build_codes(J.DC_LUM_BITS, J.DC_LUM_VALS),
          J._build_codes(J.DC_CHR_BITS, J.DC_CHR_VALS)]
    ac = [J._build_codes(J.AC_LUM_BITS, J.AC_LUM_VALS),
          J._build_codes(J.AC_CHR_BITS, J.AC_CHR_VALS)]

    segments = []
    for mx in range(3):
        bw = J._BitWriter()
        pred = [0, 0, 0]  # DC prediction resets at each restart
        for ci, plane in enumerate(planes):
            tbl = 0 if ci == 0 else 1
            zz = J._fdct_quant(plane[0:8, mx * 8 : (mx + 1) * 8])
            pred[ci] = J._encode_block(bw, zz, pred[ci], dc[tbl], ac[tbl])
        bw.flush()
        segments.append(bytes(bw.out))

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    qtab = bytes([0]) + bytes(np.ones(64, dtype=np.uint8))
    qtab1 = bytes([1]) + bytes(np.ones(64, dtype=np.uint8))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += struct.pack(">BBB", cid, 0x11, tq)

    def dht(cls, tid, bits, vals):
        return bytes([cls << 4 | tid]) + bytes(bits[1:]) + bytes(vals)

    sos = struct.pack(">B", 3)
    for cid, tbl in ((1, 0), (2, 1), (3, 1)):
        sos += struct.pack(">BB", cid, tbl << 4 | tbl)
    sos += struct.pack(">BBB", 0, 63, 0)

    entropy = segments[0] + b"\xff\xd0" + segments[1] + b"\xff\xd1" + segments[2]
    data = b"".join(
        [
            b"\xff\xd8", seg(0xFFDB, qtab), seg(0xFFDB, qtab1),
            seg(0xFFC0, sof),
            seg(0xFFC4, dht(0, 0, J.DC_LUM_BITS, J.DC_LUM_VALS)),
            seg(0xFFC4, dht(0, 1, J.DC_CHR_BITS, J.DC_CHR_VALS)),
            seg(0xFFC4, dht(1, 0, J.AC_LUM_BITS, J.AC_LUM_VALS)),
            seg(0xFFC4, dht(1, 1, J.AC_CHR_BITS, J.AC_CHR_VALS)),
            seg(0xFFDD, struct.pack(">H", 1)),
            seg(0xFFDA, sos), entropy, b"\xff\xd9",
        ]
    )
    return data, px, w, h


def test_jpeg_restart_marker_decode():
    """DRI/RSTn streams: the hand-assembled 3-MCU image with DRI=1
    decodes within the DCT rounding bound — the interval path no stock
    fixture exercises."""
    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    data, px, w, h = _build_dri_jpeg()
    W, H, out = J.decode_jpeg(data)
    assert (W, H) == (w, h)
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 4


def test_jpeg_progressive_decodes_bit_identical_to_baseline():
    """Progressive (SOF2) carries the SAME coefficients as baseline,
    just re-ordered across scans — so decoding the progressive encode
    of an image must be BIT-IDENTICAL to decoding its baseline encode.
    The scan script exercises every progressive path: interleaved
    DC-first with successive approximation (Al=1), DC refinement bits,
    AC spectral bands with EOB runs and ZRL, and the AC refinement
    scan's insertion + correction-bit algorithm. Restart intervals
    (DRI/RSTn inside every scan) covered at ri=1 and ri=3."""
    import numpy as np

    from evolution_data_warehouse_spark.operators import jpeg as J

    rng = np.random.default_rng(11)
    for h, w in [(8, 8), (5, 7), (16, 24), (13, 21), (32, 32)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        wb, hb, ob = J.decode_jpeg(J.encode_jpeg(px))
        assert (wb, hb) == (w, h)
        for ri in (0, 1, 3):
            wp, hp, op = J.decode_jpeg(
                J.encode_jpeg_progressive(px, restart_interval=ri)
            )
            assert (wp, hp) == (w, h)
            assert np.array_equal(ob, op), f"ri={ri} {h}x{w}"
        assert np.abs(ob.astype(int) - px.astype(int)).max() <= 4
    # smooth gradient content too (long zero runs → deep EOB/ZRL paths)
    px = np.zeros((24, 40, 3), dtype=np.uint8)
    px[:, :, 0] = (np.arange(40)[None, :] * 6) % 256
    px[:, :, 1] = (np.arange(24)[:, None] * 9) % 256
    px[:, :, 2] = 130
    _, _, ob = J.decode_jpeg(J.encode_jpeg(px))
    _, _, op = J.decode_jpeg(J.encode_jpeg_progressive(px))
    assert np.array_equal(ob, op)


def test_jpeg_progressive_error_contract():
    """Corrupt progressive streams fail with ValueError, never
    IndexError: truncation mid-scan, a missing RSTn at an interval
    boundary, and a declared-but-absent scan."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators import jpeg as J

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    data = J.encode_jpeg_progressive(px)
    with pytest.raises(ValueError, match="truncated"):
        J.decode_jpeg(data[: int(len(data) * 0.6)])
    d2 = J.encode_jpeg_progressive(px, restart_interval=2)
    i = d2.find(b"\xff\xd0")
    assert i > 0
    with pytest.raises(ValueError, match="restart marker"):
        J.decode_jpeg(d2[:i] + b"\x41\x42" + d2[i + 2 :])


def test_jpeg_missing_restart_marker_raises_valueerror():
    """A DRI stream whose expected RSTn bytes are corrupt must fail the
    decode contract with ValueError — not scan forward discarding
    entropy bytes until an unrelated marker-like pair, and not walk off
    the buffer into IndexError (the r7 ADVICE finding on the proactive
    restart skip)."""
    import pytest

    from evolution_data_warehouse_spark.operators import jpeg as J

    data, _, _, _ = _build_dri_jpeg()
    assert data.count(b"\xff\xd0") == 1
    corrupt = data.replace(b"\xff\xd0", b"\x41\x42", 1)
    with pytest.raises(ValueError, match="restart marker"):
        J.decode_jpeg(corrupt)


def test_bpe_train_matches_reference_implementation(spark):
    """Distributed BPE training (operators/bpe.py) learns the
    BIT-IDENTICAL merge sequence of a pure-Python reference BPE on the
    same corpus — argmax tie-breaks, greedy left-to-right overlap
    handling, end-of-word sentinel and all — plus the early-stop rule
    and quote-safe symbol handling."""
    import collections

    from evolution_data_warehouse_spark.operators.bpe import EOW, bpe_train

    texts = [
        "the cat sat on the mat",
        "the thin cat ate the fat rat",
        "that thing on the mat is a cat",
        "low lower lowest newer newest",
        "it's a cat isn't it",
    ]

    def ref_bpe(texts, n):
        wc = collections.Counter()
        for t in texts:
            for w in t.lower().split():
                if w:
                    wc[w] += 1
        words = {tuple(list(w) + [EOW]): c for w, c in wc.items()}
        merges = []
        for rank in range(n):
            pc = collections.Counter()
            for syms, c in words.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += c
            if not pc:
                break
            (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            if cnt < 2:
                break
            merges.append((rank, a, b, cnt))
            new = {}
            for syms, c in words.items():
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                new[tuple(out)] = new.get(tuple(out), 0) + c
            words = new
        return merges

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = bpe_train(df, n_merges=15)
    assert got == ref_bpe(texts, 15)
    assert len(got) > 8  # the corpus genuinely supports that many merges

    # greedy overlap: merging (a, a) over 'aaaa' folds left-to-right
    df2 = spark.createDataFrame([("aaaa aaaa aaaa",)], "text string")
    m2 = bpe_train(df2, n_merges=3)
    assert m2[0][1:3] == ("a", "a") and m2[1][1:3] == ("aa", "aa")

    # early stop: every pair unique → no merge with cnt >= 2
    df3 = spark.createDataFrame([("abc",)], "text string")
    assert bpe_train(df3, n_merges=5) == []


def test_jpeg_truncation_fuzz_valueerror_contract():
    """EVERY truncation of a JPEG stream — baseline, 4:2:0, and
    progressive with and without restart intervals — fails with
    ValueError (never IndexError/struct.error), and no truncated
    progressive prefix is silently accepted with half-refined pixels
    (EOI is required as the integrity seal; a display decoder may
    render partial scans, a data pipeline must not)."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators import jpeg as J

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
    streams = {
        "baseline": J.encode_jpeg(px),
        "subsampled": J.encode_jpeg(px, subsample=True),
        "progressive": J.encode_jpeg_progressive(px),
        "progressive-ri2": J.encode_jpeg_progressive(px, restart_interval=2),
    }
    for label, data in streams.items():
        _, _, full = J.decode_jpeg(data)  # the intact stream decodes
        for cut in range(4, len(data), 3):
            try:
                _, _, out = J.decode_jpeg(data[:cut])
            except ValueError:
                continue
            # baseline tolerates a missing EOI only when the single
            # scan already decoded completely — pixels must match
            assert label in ("baseline", "subsampled"), (
                f"{label}: progressive prefix accepted at cut={cut}"
            )
            assert np.array_equal(out, full), f"{label} cut={cut}"
    with pytest.raises(ValueError, match="missing EOI"):
        J.decode_jpeg(J.encode_jpeg_progressive(px)[:-2])

    # single-byte corruption (not just truncation): flipping any byte
    # anywhere must yield ValueError or a successful decode — the
    # KeyError (undefined table id), ZeroDivisionError (zero sampling
    # factor), and OverflowError (runaway accumulator) shapes found by
    # this fuzz are all converted now
    for label, data in streams.items():
        data = bytes(data)
        for pos in range(0, len(data), 2):
            mut = bytearray(data)
            mut[pos] ^= 0x80
            try:
                J.decode_jpeg(bytes(mut))
            except ValueError:
                pass
    # a corrupt SOF declaring absurd dimensions is rejected BEFORE the
    # multi-gigabyte allocation it implies
    d = bytearray(J.encode_jpeg(px))
    i = d.find(b"\xff\xc0")
    d[i + 5 : i + 9] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="implausible"):
        J.decode_jpeg(bytes(d))


def test_avi_mjpeg_container():
    """AVI (RIFF) MJPEG mux/demux: byte-exact frame round-trip,
    geometry/fps header round-trip, stride sampling, JUNK-chunk
    tolerance, frame-count cross-check, and the ValueError-only
    contract under arbitrary-cut and byte-flip fuzz."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from evolution_data_warehouse_spark.operators.video import (
        encode_avi_mjpeg,
        parse_avi_mjpeg,
        sample_avi_frames,
    )

    rng = np.random.default_rng(11)
    frames = [
        encode_jpeg(rng.integers(0, 256, (16, 24, 3), dtype=np.uint8))
        for _ in range(7)
    ]
    avi = encode_avi_mjpeg(frames, 24, 16, fps=10)
    parsed = parse_avi_mjpeg(avi)
    assert (parsed["width"], parsed["height"], parsed["fps"]) == (24, 16, 10)
    assert parsed["frames"] == frames  # muxed bytes come back untouched
    assert [i for i, _ in sample_avi_frames(avi, 3)] == [0, 3, 6]
    # fps comes from strh dwRate/dwScale, so non-divisor rates
    # round-trip exactly (the avih µs/frame reciprocal would not)
    for odd_fps in (7, 1500, 999_983):
        parsed_fps = parse_avi_mjpeg(
            encode_avi_mjpeg(frames[:1], 24, 16, fps=odd_fps)
        )["fps"]
        assert parsed_fps == odd_fps
    w, h, _ = decode_jpeg(sample_avi_frames(avi, 3)[1][1])
    assert (w, h) == (24, 16)

    # a JUNK chunk between lists is skipped, not fatal
    junk = b"JUNK" + struct.pack("<I", 6) + b"ignore"
    at = avi.index(b"LIST", 12)
    patched = bytearray(avi[:at] + junk + avi[at:])
    patched[4:8] = struct.pack("<I", len(patched) - 8)
    assert parse_avi_mjpeg(bytes(patched))["frames"] == frames

    # header/payload mismatch is an error, not a shrug
    lied = bytearray(avi)
    avih_at = avi.index(b"avih") + 8
    lied[avih_at + 16 : avih_at + 20] = struct.pack("<I", 99)
    with pytest.raises(ValueError, match="frame-count mismatch"):
        parse_avi_mjpeg(bytes(lied))

    with pytest.raises(ValueError, match="RIFF"):
        parse_avi_mjpeg(b"RIFX" + avi[4:])
    with pytest.raises(ValueError):
        encode_avi_mjpeg([], 4, 4)
    with pytest.raises(ValueError):
        sample_avi_frames(avi, 0)

    # fuzz: cuts and flips only ever raise ValueError
    for cut in range(0, len(avi), 9):
        with pytest.raises(ValueError):
            parse_avi_mjpeg(avi[:cut])
    for pos in range(0, len(avi), 5):
        mutated = bytearray(avi)
        mutated[pos] ^= 0xFF
        try:
            parse_avi_mjpeg(bytes(mutated))
        except ValueError:
            pass


def test_kmv_overlap_accuracy_and_exact_degradation(spark):
    """KMV distinct-intersection sketch: estimates within the ~1/sqrt(k)
    error band on a synthetic 10k/10k split with known 5k overlap, and
    EXACT (not approximate) when both segments hold < k distinct keys."""
    from evolution_data_warehouse_spark.operators.sketches import kmv_overlap

    rows = [("A", i) for i in range(10_000)] + [
        ("B", i) for i in range(5_000, 15_000)
    ]
    df = spark.createDataFrame(rows, "seg string, key long")
    est = kmv_overlap(df, "seg", "key", "A", "B", k=256).collect()[0]
    assert est["n_kept_a"] == est["n_kept_b"] == 256
    for col, truth in [
        ("raw_est_a", 10_000),
        ("raw_est_b", 10_000),
        ("raw_est_intersection", 5_000),
    ]:
        assert abs(est[col] - truth) / truth < 0.2, (col, est[col])

    small = spark.createDataFrame(
        [("A", i) for i in range(20)] + [("B", i) for i in range(15, 35)],
        "seg string, key long",
    )
    exact = kmv_overlap(small, "seg", "key", "A", "B", k=256).collect()[0]
    assert exact["raw_est_a"] == 20.0 and exact["raw_est_b"] == 20.0
    assert exact["p_common"] == 5 and exact["raw_est_intersection"] == 5.0


def test_gif_codec_roundtrip_and_meta():
    """Real-LZW GIF round-trips bit-exactly across palette sizes (every
    root width 2..8), interlace, transparency, and comments; gif_meta
    reports container facts without pixel decode."""
    import numpy as np

    from evolution_data_warehouse_spark.operators.gif import (
        decode_gif,
        encode_gif,
        gif_meta,
    )

    rng = np.random.default_rng(20260815)
    for trial in range(40):
        h, w = int(rng.integers(1, 48)), int(rng.integers(1, 48))
        npal = int(rng.integers(2, 257))
        pal = rng.integers(0, 256, size=(npal, 3)).astype(np.uint8)
        idx = rng.integers(0, npal, size=(h, w)).astype(np.uint8)
        interlace = bool(rng.integers(0, 2))
        data = encode_gif(
            idx,
            pal,
            interlace=interlace,
            transparent=0 if trial % 3 == 0 else None,
            comment="c" * (trial % 7) if trial % 2 else None,
        )
        ww, hh, px = decode_gif(data)
        assert (ww, hh) == (w, h)
        assert np.array_equal(px, pal[idx]), f"trial {trial}"
        m = gif_meta(data)
        assert m["n_frames"] == 1
        assert m["interlaced"] == interlace
        assert m["transparent"] == (trial % 3 == 0)
        assert (m["version"] == "87a") == (
            trial % 3 != 0 and not trial % 2
        )


def test_gif_lzw_stress_paths():
    """The LZW paths random content rarely hits: KwKwK codes and width
    growth on repetitive content, the 4096-entry table-full clear, and
    the end-of-stream width boundary — the final data code installs no
    encoder entry, so the decoder's table crosses 2**width exactly at
    the EOI read (the desync a lag-one width rule writes one bit too
    narrow; found by the corpus sweep, kept as a regression)."""
    import numpy as np

    from evolution_data_warehouse_spark.operators.gif import (
        decode_gif,
        encode_gif,
    )

    # exact regression: 5x4 periodic frame over a 4-color palette whose
    # decoder table hits 16 == 2**4 on the very last install
    ii, jj = np.indices((4, 5))
    idx = ((ii * 7 + jj * 3 + 2) % 4).astype(np.uint8)
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    assert np.array_equal(decode_gif(encode_gif(idx, pal))[2], pal[idx])

    # KwKwK: aaa... runs force code == next_free immediately
    run = np.zeros((3, 50), dtype=np.uint8)
    pal2 = np.arange(6, dtype=np.uint8).reshape(2, 3)
    assert np.array_equal(decode_gif(encode_gif(run, pal2))[2], pal2[run])

    # table-full: > 4096 distinct sequences forces the clear-and-reset
    rep = (np.arange(512 * 1024, dtype=np.int64) % 64).astype(
        np.uint8
    ).reshape(512, 1024)
    pal64 = (np.arange(192, dtype=np.int64) % 256).astype(np.uint8).reshape(
        64, 3
    )
    assert np.array_equal(decode_gif(encode_gif(rep, pal64))[2], pal64[rep])


def test_gif_real_encoder_conformance():
    """Decode GIFs produced by REAL third-party encoders — the icons
    CPython ships in idlelib (public, stable fixtures) — covering
    interlaced and non-interlaced 89a streams with GCE transparency.
    This fences off complementary encoder/decoder bugs that hermetic
    round-trips cannot see."""
    import os

    import idlelib
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.gif import (
        decode_gif,
        gif_meta,
    )

    icons = os.path.join(os.path.dirname(idlelib.__file__), "Icons")
    if not os.path.isdir(icons):
        pytest.skip("idlelib Icons not present in this Python build")
    expected_sums = {  # decoded-RGB totals, pinned from first decode
        "idle_48.gif": 1009702,
        "folder.gif": 97545,  # interlaced
        "openfolder.gif": 95808,  # interlaced
    }
    n = 0
    for f in sorted(os.listdir(icons)):
        if not f.endswith(".gif"):
            continue
        data = open(os.path.join(icons, f), "rb").read()
        m = gif_meta(data)
        w, h, px = decode_gif(data)
        assert px.shape == (h, w, 3)
        assert m["n_frames"] == 1 and m["transparent"]
        if f in expected_sums:
            assert int(px.astype(np.int64).sum()) == expected_sums[f], f
        n += 1
    assert n >= 5
    meta_folder = gif_meta(
        open(os.path.join(icons, "folder.gif"), "rb").read()
    )
    assert meta_folder["interlaced"]


def test_gif_fuzz_valueerror_contract():
    """EVERY truncation either raises ValueError or — when the cut
    still contains the complete first frame — decodes to the exact
    intact pixels; gif_meta (which must walk to the trailer) raises on
    every proper prefix. Single-byte corruption anywhere yields
    ValueError or a successful decode, never any other exception."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.gif import (
        decode_gif,
        encode_gif,
        gif_meta,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(17, 3)).astype(np.uint8)
    idx = rng.integers(0, 17, size=(9, 11)).astype(np.uint8)
    for interlace in (False, True):
        data = encode_gif(
            idx, pal, interlace=interlace, transparent=3, comment="x"
        )
        _, _, full = decode_gif(data)
        for cut in range(0, len(data)):
            with pytest.raises(ValueError):
                gif_meta(data[:cut])
            try:
                _, _, out = decode_gif(data[:cut])
            except ValueError:
                continue
            assert np.array_equal(out, full), f"cut={cut}"
        for pos in range(len(data)):
            mut = bytearray(data)
            mut[pos] ^= 0xFF
            for fn in (decode_gif, gif_meta):
                try:
                    fn(bytes(mut))
                except (ValueError, NotImplementedError):
                    pass


def test_gif_guards():
    """Header forgery and stream abuse fail closed: dimension bombs are
    rejected BEFORE allocation, out-of-palette indices, zero sizes, bad
    signatures, and a non-literal first LZW code are all ValueError."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.gif import (
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    idx = np.zeros((2, 2), dtype=np.uint8)
    good = bytearray(encode_gif(idx, pal))
    desc = good.index(0x2C)
    forged = bytearray(good)
    forged[desc + 5 : desc + 9] = struct.pack("<HH", 60000, 60000)
    with pytest.raises(ValueError, match="implausible"):
        decode_gif(bytes(forged))
    zero = bytearray(good)
    zero[desc + 5 : desc + 9] = struct.pack("<HH", 0, 2)
    with pytest.raises(ValueError, match="zero-sized"):
        decode_gif(bytes(zero))
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"GIF90a" + bytes(good[6:]))

    # index 7 under a 4-entry color table: mcs=3 stream (roots 0..7)
    # against GCT size bits 0b001 (4 entries)
    lzw = _lzw_encode(3, bytes([7]))
    crafted = (
        b"GIF87a"
        + struct.pack("<HH", 1, 1)
        + bytes([0x81, 0, 0])
        + bytes(12)  # 4 RGB entries
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, 1, 1)
        + b"\x00"
        + bytes([3, len(lzw)])
        + lzw
        + b"\x00\x3b"
    )
    with pytest.raises(ValueError, match="outside color table"):
        decode_gif(crafted)

    # a first post-clear code that is not a literal root
    bad_first = bytes([0b10101100])  # width 3: clear(100), then 101=EOI+? -> 5
    crafted2 = (
        b"GIF87a"
        + struct.pack("<HH", 2, 1)
        + bytes([0x81, 0, 0])
        + bytes(12)
        + b"\x2c"
        + struct.pack("<HHHH", 0, 0, 2, 1)
        + b"\x00"
        + bytes([2, 2])
        + bytes([0b00110100, 0])  # clear=100 then 110=6 (undefined)
        + b"\x00\x3b"
    )
    with pytest.raises(ValueError):
        decode_gif(crafted2)

    with pytest.raises(ValueError, match="palette"):
        encode_gif(idx, np.zeros((1, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="outside palette"):
        encode_gif(np.full((2, 2), 9, dtype=np.uint8), pal)
    # the encoder enforces the same ValueError-only contract: no
    # undecodable zero-size output, no struct.error on >u16 dims
    with pytest.raises(ValueError, match="unencodable"):
        encode_gif(np.zeros((0, 5), dtype=np.uint8), pal)
    with pytest.raises(ValueError, match="unencodable"):
        encode_gif(np.zeros((70000, 1), dtype=np.uint8), pal)


def test_gif_local_palette_multiframe_and_offsets():
    """Real-web-GIF container shapes the hermetic encoder never emits:
    a file with NO global color table whose frames carry LOCAL color
    tables, a second (animation) frame with a left/top offset, and a
    frame with no palette anywhere (ValueError). decode_gif returns the
    FIRST frame resolved through its local table; gif_meta counts both
    frames without decoding."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.gif import (
        _lzw_encode,
        decode_gif,
        gif_meta,
    )

    def frame(w, h, idx_bytes, mcs, lct=None, left=0, top=0):
        out = b"\x2c" + struct.pack("<HHHH", left, top, w, h)
        if lct is not None:
            bits = (lct.shape[0] - 1).bit_length()
            out += bytes([0x80 | (bits - 1)]) + lct.tobytes()
        else:
            out += b"\x00"
        lzw = _lzw_encode(mcs, idx_bytes)
        return out + bytes([mcs, len(lzw)]) + lzw + b"\x00"

    lct1 = np.array(
        [[10, 20, 30], [40, 50, 60], [70, 80, 90], [100, 110, 120]],
        dtype=np.uint8,
    )
    lct2 = np.arange(12, dtype=np.uint8).reshape(4, 3)
    idx1 = bytes([0, 1, 2, 3, 2, 1])  # 3x2 first frame
    data = (
        b"GIF89a"
        + struct.pack("<HH", 3, 2)
        + bytes([0x00, 0, 0])  # no global color table
        + frame(3, 2, idx1, 2, lct=lct1)
        + frame(2, 2, bytes([3, 3, 3, 3]), 2, lct=lct2, left=1, top=0)
        + b"\x3b"
    )
    w, h, px = decode_gif(data)
    assert (w, h) == (3, 2)
    assert np.array_equal(
        px, lct1[np.frombuffer(idx1, dtype=np.uint8).reshape(2, 3)]
    )
    m = gif_meta(data)
    assert m["n_frames"] == 2 and m["n_palette"] == 0

    no_pal = (
        b"GIF87a"
        + struct.pack("<HH", 2, 1)
        + bytes([0x00, 0, 0])
        + frame(2, 1, bytes([0, 1]), 2)
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="no color table"):
        decode_gif(no_pal)


def test_png_paletted_and_gray_roundtrips():
    """The late-r8 PNG gates closed: paletted (color type 3) at depths
    1/2/4/8 — the dominant real-web-PNG shape — plus grayscale (0) at
    1/2/4/8/16 and gray+alpha (4) at 8/16, interlaced or not, all
    bit-exact round-trips through the hermetic encoders (every
    scanline filter exercised). Sub-8 gray expands by the spec's exact
    replication scale; invalid palettes and out-of-range indices are
    ValueError."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_png,
        encode_png_gray,
        encode_png_indexed,
    )

    rng = np.random.default_rng(20260815)
    for depth in (1, 2, 4, 8):
        for interlace in (0, 1):
            n = 1 << depth
            pal = rng.integers(0, 256, size=(n, 3)).astype(np.uint8)
            for h, w in [(1, 1), (3, 2), (9, 13)]:
                idx = rng.integers(0, n, size=(h, w)).astype(np.uint8)
                ww, hh, px = decode_png(
                    encode_png_indexed(idx, pal, depth=depth, interlace=interlace)
                )
                assert (ww, hh) == (w, h)
                assert np.array_equal(px, pal[idx]), (depth, interlace, h, w)
    for depth in (1, 2, 4, 8, 16):
        scale = 255 // ((1 << depth) - 1) if depth <= 8 else 1
        dt = np.uint16 if depth == 16 else np.uint8
        g = rng.integers(0, 1 << depth, size=(7, 5)).astype(dt)
        _, _, px = decode_png(encode_png_gray(g, depth=depth))
        base = (g.astype(np.uint16) * scale).astype(np.uint8) if depth <= 8 else g
        assert np.array_equal(px, np.repeat(base[:, :, None], 3, axis=2)), depth
    for depth in (8, 16):
        mx = (1 << depth) - 1
        dt = np.uint16 if depth == 16 else np.uint8
        g = rng.integers(0, mx + 1, size=(4, 6)).astype(dt)
        a = rng.integers(0, mx + 1, size=(4, 6)).astype(dt)
        _, _, px = decode_png(encode_png_gray(g, depth=depth, alpha=a))
        assert px.shape == (4, 6, 4)
        assert np.array_equal(px[:, :, 0], g) and np.array_equal(px[:, :, 3], a)

    # contract: paletted stream missing its PLTE / index past palette
    pal4 = np.arange(12, dtype=np.uint8).reshape(4, 3)
    good = encode_png_indexed(
        np.zeros((2, 2), np.uint8), pal4, depth=2
    )
    plte_at = good.index(b"PLTE")
    no_plte = good[: plte_at - 4] + good[plte_at - 4 + 12 + 12 :]
    with pytest.raises(ValueError):
        decode_png(no_plte)
    small_pal = encode_png_indexed(
        np.full((1, 1), 2, np.uint8), pal4[:3], depth=2
    )
    assert decode_png(small_pal)[2].tolist() == [[[6, 7, 8]]]
    with pytest.raises(ValueError, match="outside palette"):
        encode_png_indexed(np.full((1, 1), 3, np.uint8), pal4[:3], depth=2)

    # fuzz the new packed path: cuts and flips are ValueError-only
    data = encode_png_indexed(
        rng.integers(0, 16, size=(9, 7)).astype(np.uint8),
        rng.integers(0, 256, size=(16, 3)).astype(np.uint8),
        depth=4,
        interlace=1,
    )
    for cut in range(0, len(data), 3):
        with pytest.raises(ValueError):
            decode_png(data[:cut])
    for pos in range(8, len(data), 2):
        mut = bytearray(data)
        mut[pos] ^= 0xFF
        try:
            decode_png(bytes(mut))
        except (ValueError, NotImplementedError):
            pass


def test_bmp_bitfields_and_16bpp():
    """BI_BITFIELDS decodes with arbitrary channel masks (565, 555,
    custom widths, V4-header alpha) and 16-bpp BI_RGB defaults to 555 —
    verified against a closed-form numpy model on hand-built payloads."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_bmp,
    )

    def build(words, masks, bpp, hdr_size=40, compression=3, height_sign=1):
        h, w = words.shape
        nb = bpp // 8
        stride = (nb * w + 3) // 4 * 4
        n_masks = 4 if hdr_size >= 56 else 3
        offset = 14 + hdr_size + (4 * n_masks if hdr_size == 40 else 0)
        hdr = struct.pack(
            "<2sIHHI", b"BM", offset + stride * h, 0, 0, offset
        ) + struct.pack(
            "<IiiHHIIiiII",
            hdr_size, w, h * height_sign, 1, bpp, compression,
            stride * h, 2835, 2835, 0, 0,
        )
        hdr += struct.pack(f"<{n_masks}I", *(masks + [0] * n_masks)[:n_masks])
        if hdr_size > 40:  # in-header masks: pad the rest of the header
            hdr += bytes(offset - len(hdr))
        rows = np.zeros((h, stride), dtype=np.uint8)
        lab = words.astype("<u2" if bpp == 16 else "<u4").view(np.uint8)
        rows[:, : nb * w] = lab.reshape(h, nb * w)
        ordered = rows if height_sign < 0 else rows[::-1]
        return hdr + ordered.tobytes()

    def model(words, masks):
        chans = []
        for m in masks:
            if m == 0:
                continue
            shift = (m & -m).bit_length() - 1
            peak = m >> shift
            chans.append((((words & m) >> shift) * 255 // peak).astype(np.uint8))
        return np.stack(chans, axis=2)

    rng = np.random.default_rng(6)
    # 565 and 555 via explicit bitfields, top-down and bottom-up
    for masks in ([0xF800, 0x07E0, 0x001F], [0x7C00, 0x03E0, 0x001F]):
        words = rng.integers(0, 1 << 16, size=(5, 3)).astype(np.uint32)
        for sign in (1, -1):
            w, h, px = decode_bmp(build(words, masks, 16, height_sign=sign))
            assert (w, h) == (3, 5)
            assert np.array_equal(px, model(words, masks)), (masks, sign)
    # 32-bpp custom masks with alpha (V4 header, masks in-header)
    masks = [0x00FF0000, 0x0000FF00, 0x000000FF, 0xFF000000]
    words = rng.integers(0, 1 << 32, size=(4, 2), dtype=np.uint64).astype(np.uint32)
    w, h, px = decode_bmp(build(words, masks, 32, hdr_size=108))
    assert px.shape == (4, 2, 4)
    assert np.array_equal(px, model(words, masks))
    # 16-bpp BI_RGB defaults to 555
    words = rng.integers(0, 1 << 15, size=(2, 4)).astype(np.uint32)
    w, h, px = decode_bmp(build(words, [], 16, compression=0))
    assert np.array_equal(px, model(words, [0x7C00, 0x03E0, 0x001F]))
    # masks wider than 24 bits must not overflow the rescale (raw*255
    # wrapped in uint32 before the uint64 widening fix): a peak-value
    # 30-bit red channel is 255, not a wrapped residue
    wide = [0x3FFFFFFC, 0x00000002, 0x00000001]
    words = np.full((1, 1), 0xFFFFFFFF, dtype=np.uint32)
    _, _, px = decode_bmp(build(words, wide, 32))
    assert px.tolist() == [[[255, 255, 255]]]
    # zero mask is malformed, not a crash
    with pytest.raises(ValueError, match="zero channel mask"):
        decode_bmp(build(words, [0, 0x3E0, 0x1F], 16))


def test_real_file_cross_format_conformance():
    """CPython's imghdr test images — the SAME 16x16 picture really
    encoded by third-party tools in every format — decode through five
    fully independent paths, and the lossless trio (paletted PNG via
    DEFLATE+filters, 32-bpp BI_BITFIELDS BMP, raw P6 PPM) produces
    BIT-IDENTICAL per-channel sums. No hermetic round-trip can fake
    that agreement: it pins decoder correctness to real encoders. The
    images are vendored (tests/data/imghdr, PSF-licensed CPython test
    data) so the check survives Python 3.13's removal of imghdr."""
    import os

    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_image_auto,
    )

    d = os.path.join(os.path.dirname(__file__), "data", "imghdr")
    out = {}
    for f in (
        "python.png",
        "python.bmp",
        "python.ppm",
        "python.pgm",
        "python.pbm",
        "python.gif",
        "python.jpg",
        "python-raw.jpg",
    ):
        data = open(os.path.join(d, f), "rb").read()
        r = decode_image_auto(data)
        assert (r["width"], r["height"]) == (16, 16), f
        out[f] = (r["sum_r"], r["sum_g"], r["sum_b"])
    # lossless cross-format identity + pinned sums
    assert (
        out["python.png"] == out["python.bmp"] == out["python.ppm"]
        == (24683, 26085, 17950)
    )
    # the two JPEG variants carry the same scan data
    assert out["python.jpg"] == out["python-raw.jpg"]
    # grayscale conversions are channel-uniform
    assert len(set(out["python.pgm"])) == 1
    assert len(set(out["python.pbm"])) == 1


def test_wav_codec_roundtrip_and_real_file_conformance():
    """Real RIFF-PCM WAV decode: bit-exact round-trips at widths
    1/2/3/4 and 1-3 channels, and — the part hermetic round-trips
    cannot fake — CPython's pluck-pcm{8,16,24,32}.wav (real
    third-party encodes) decode byte-exactly against the stdlib `wave`
    module's independent parse, with 24-bit samples cross-checked by a
    pure-python int.from_bytes conversion and the 24/32-bit variants
    of the same sound agreeing after shift normalization."""
    import os
    import wave as wave_mod

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(20260815)
    for width in (1, 2, 3, 4):
        hi = (1 << (8 * width - 1)) - 1
        for ch in (1, 2, 3):
            s = rng.integers(-hi - 1, hi + 1, size=(37, ch)).astype(np.int64)
            out = decode_wav(encode_wav(s, 8000, width))
            assert (out["sample_width"], out["n_channels"]) == (width, ch)
            assert np.array_equal(out["samples"], s), (width, ch)

    d = os.path.join(
        os.path.dirname(os.__file__), "test", "audiodata"
    )
    if not os.path.isdir(d):
        pytest.skip("stdlib audio test data not present")
    decoded = {}
    for width in (1, 2, 3, 4):
        f = os.path.join(d, f"pluck-pcm{8 * width}.wav")
        mine = decode_wav(open(f, "rb").read())
        wv = wave_mod.open(f)
        assert mine["sample_rate"] == wv.getframerate()
        assert mine["samples"].shape == (
            wv.getnframes(),
            wv.getnchannels(),
        )
        frames = wv.readframes(wv.getnframes())
        if width == 1:
            exp = np.frombuffer(frames, dtype=np.uint8).astype(np.int32) - 128
        elif width == 3:
            exp = np.array(
                [
                    int.from_bytes(frames[i : i + 3], "little", signed=True)
                    for i in range(0, len(frames), 3)
                ],
                dtype=np.int32,
            )
        else:
            exp = np.frombuffer(
                frames, dtype="<i2" if width == 2 else "<i4"
            ).astype(np.int32)
        assert np.array_equal(mine["samples"].reshape(-1), exp), width
        decoded[width] = mine["samples"]
    # same source sound: the 24-bit variant is exactly the 32-bit one
    # truncated (the 8/16-bit conversions involved clamping upstream)
    assert np.array_equal(decoded[3], decoded[4] >> 8)


def test_wav_fuzz_and_guards():
    """WAV error contract: every truncation and byte flip is ValueError
    or a successful decode; forged data-chunk sizes are rejected before
    allocation; non-PCM format tags, bad block alignment, and ragged
    frame counts all fail closed."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(4)
    s = rng.integers(-(1 << 15), 1 << 15, size=(19, 2)).astype(np.int64)
    data = encode_wav(s, 11025, 2)
    full = decode_wav(data)["samples"]
    for cut in range(0, len(data)):
        try:
            out = decode_wav(data[:cut])["samples"]
        except ValueError:
            continue
        # a cut that keeps fmt+data whole decodes identically
        assert np.array_equal(out, full), f"cut={cut}"
    for pos in range(len(data)):
        mut = bytearray(data)
        mut[pos] ^= 0xFF
        try:
            decode_wav(bytes(mut))
        except ValueError:
            pass

    # format tag 3 (IEEE float) is a plain refusal
    alaw = bytearray(data)
    alaw[20:22] = struct.pack("<H", 3)
    with pytest.raises(ValueError, match="format tag"):
        decode_wav(bytes(alaw))
    # ragged data size: not a whole number of frames
    ragged = bytearray(data)
    at = bytes(ragged).index(b"data") + 4
    (size,) = struct.unpack_from("<I", ragged, at)
    struct.pack_into("<I", ragged, at, size - 1)
    with pytest.raises(ValueError):
        decode_wav(bytes(ragged[:-1]))
    # a forged giant data length is a truncation error, never an alloc
    bomb = bytearray(data)
    struct.pack_into("<I", bomb, at, 0x7FFFFFFF)
    with pytest.raises(ValueError):
        decode_wav(bytes(bomb))

    # stdlib-wave chunk semantics (review regressions): trailing
    # metadata beyond the RIFF extent is legal and ignored, and the
    # FIRST data chunk wins when a duplicate follows
    trailing = data + b"ID3\x03trailing-metadata"
    assert np.array_equal(decode_wav(trailing)["samples"], full)
    extra = np.arange(8, dtype=np.int64).reshape(4, 2) * 100
    extra_body = extra.astype("<i2").tobytes()
    dup = bytearray(data)
    dup += b"data" + struct.pack("<I", len(extra_body)) + extra_body
    struct.pack_into("<I", dup, 4, len(dup) - 8)  # grow the RIFF size
    assert np.array_equal(decode_wav(bytes(dup))["samples"], full)

    # encoder contract: ValueError (never struct.error) on bad rates,
    # and float samples are rejected instead of silently truncated
    for rate in (0, -5, 2**31):
        with pytest.raises(ValueError, match="rate"):
            encode_wav(s, rate, 4)
    with pytest.raises(ValueError, match="integers"):
        encode_wav(np.array([[0.5], [1.2]]), 8000, 2)


def test_wav_companded_codecs():
    """G.711 µ-law/A-law and IMA-ADPCM WAV decode (r9): the spec-built
    decode tables and both encoders are pinned by digest AND (while the
    stdlib still ships it, pre-PEP 594) cross-checked against audioop's
    independent C implementation over the full 16-bit sweep; the
    vendored real third-party µ-law encode (tests/data/audio/
    pluck-ulaw.au) decodes to pinned sample digests; companded WAV
    round-trips are value-exact on representable levels; IMA blocks
    re-initialize from their headers and honor the required fact chunk;
    truncation/flip fuzz stays inside the ValueError contract."""
    import hashlib
    import os
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.audio import (
        _ALAW_DEC,
        _ULAW_DEC,
        _ima_step,
        decode_wav,
        encode_wav_g711,
        encode_wav_ima,
        lin2alaw,
        lin2ulaw,
    )

    # 1) pinned table digests (permanent, audioop-independent)
    assert (
        hashlib.md5(_ULAW_DEC.astype("<i4").tobytes()).hexdigest()
        == "9489c6b15c6a97fd9fdb04fe203855ae"
    )
    assert (
        hashlib.md5(_ALAW_DEC.astype("<i4").tobytes()).hexdigest()
        == "f8f12d358a44d125f4ce5d609dde909a"
    )
    # 2) cross-check vs CPython's C implementation while it exists
    sweep = np.arange(-32768, 32768)
    try:
        import audioop  # noqa: F401  (removed in 3.13, PEP 594)
    except ImportError:
        audioop = None
    if audioop is not None:
        codes = bytes(range(256))
        assert np.array_equal(
            _ULAW_DEC,
            np.frombuffer(audioop.ulaw2lin(codes, 2), dtype="<i2"),
        )
        assert np.array_equal(
            _ALAW_DEC,
            np.frombuffer(audioop.alaw2lin(codes, 2), dtype="<i2"),
        )
        pcm = sweep.astype("<i2").tobytes()
        assert lin2ulaw(sweep).tobytes() == audioop.lin2ulaw(pcm, 2)
        assert lin2alaw(sweep).tobytes() == audioop.lin2alaw(pcm, 2)
        # IMA core loop vs audioop (which packs HIGH nibble first)
        rng0 = np.random.default_rng(3)
        nibbles = rng0.integers(0, 16, 128).tolist()
        pred = idx = 0
        mine = []
        for nb in nibbles:
            pred, idx = _ima_step(nb, pred, idx)
            mine.append(pred)
        packed = bytes(
            (nibbles[i] << 4) | nibbles[i + 1] for i in range(0, 128, 2)
        )
        ref = np.frombuffer(
            audioop.adpcm2lin(packed, 2, (0, 0))[0], dtype="<i2"
        ).tolist()
        assert mine == ref

    # 3) real third-party µ-law encode: the vendored pluck-ulaw.au
    au = open(
        os.path.join(os.path.dirname(__file__), "data", "audio",
                     "pluck-ulaw.au"),
        "rb",
    ).read()
    magic, off, size, enc, rate, ch = struct.unpack_from(">IIIIII", au, 0)
    assert (magic, enc, rate, ch) == (0x2E736E64, 1, 11025, 2)
    dec = _ULAW_DEC[np.frombuffer(au[off : off + size], dtype=np.uint8)]
    assert dec.shape == (6614,)
    assert (
        hashlib.md5(dec.astype("<i4").tobytes()).hexdigest()
        == "cd40be49a59e48fe597dec9412dfe2e1"
    )

    # 4) companded WAV round-trips: value-exact on representable levels
    rng = np.random.default_rng(7)
    for codec, table in [("ulaw", _ULAW_DEC), ("alaw", _ALAW_DEC)]:
        for nch in (1, 2):
            sig = table[rng.integers(0, 256, (200, nch))]
            out = decode_wav(encode_wav_g711(sig, 8000, codec))
            assert (out["format"], out["sample_width"]) == (codec, 2)
            assert np.array_equal(out["samples"], sig), codec

    # 5) IMA-ADPCM: shape, fact-chunk truncation to a non-block-multiple
    # frame count, bounded tracking error on a smooth signal, and
    # per-block header independence (decode of block k is unaffected by
    # corrupting block k+1's payload)
    for nch in (1, 2):
        tgrid = np.arange(600)[:, None]
        sig = (3000 * np.sin(tgrid / 20.0) + 500 * np.sin(tgrid / 3.0))
        sig = np.repeat(sig.astype(np.int64), nch, axis=1)
        wav = encode_wav_ima(sig, 8000)
        out = decode_wav(wav)
        assert out["format"] == "ima_adpcm"
        assert out["samples"].shape == sig.shape  # fact truncates padding
        assert int(np.abs(out["samples"] - sig).max()) < 2000

    # fact chunk is REQUIRED for ADPCM (padding makes length ambiguous)
    wav = encode_wav_ima(sig, 8000)
    at = wav.index(b"fact")
    nofact = wav[:at] + wav[at + 12 :]
    nofact = bytearray(nofact)
    struct.pack_into("<I", nofact, 4, len(nofact) - 8)
    with pytest.raises(ValueError, match="fact"):
        decode_wav(bytes(nofact))
    # forged step index > 88 fails closed
    bad = bytearray(wav)
    dstart = bytes(bad).index(b"data") + 8
    bad[dstart + 2] = 99
    with pytest.raises(ValueError, match="step index"):
        decode_wav(bytes(bad))
    # a rate whose derived byte-rate overflows the fmt field is a
    # ValueError, never struct.error (balign > spb makes brate > rate)
    with pytest.raises(ValueError, match="rate"):
        encode_wav_ima(
            np.zeros((10, 2), dtype=np.int64), 0xFFFFFFFF,
            frames_per_block=9,
        )

    # 6) truncation fuzz for both new families: ValueError or identical
    for data in (encode_wav_g711(dec.reshape(-1, 2), 11025, "ulaw"), wav):
        full = decode_wav(data)["samples"]
        for cut in range(0, len(data), 7):
            try:
                got = decode_wav(data[:cut])["samples"]
            except ValueError:
                continue
            assert np.array_equal(got, full), f"cut={cut}"


def test_charset_detect_and_decode():
    """Charset sniff ladder (sources/charset.py): BOMs win and are
    stripped; meta declarations (incl. the WHATWG iso-8859-1 →
    windows-1252 mapping) beat UTF-8 validation; strict-UTF-8 bare
    payloads detect as utf-8; arbitrary bytes NEVER raise (fallback
    decodes everything); an unknown meta-declared codec falls back
    instead of raising LookupError."""
    from evolution_data_warehouse_spark.sources.charset import (
        decode_payload,
        detect_charset,
    )

    assert decode_payload(b"\xef\xbb\xbfhi") == ("utf-8", "bom", "hi")
    assert decode_payload(b"\xff\xfeh\x00i\x00") == (
        "utf-16-le", "bom", "hi",
    )
    assert decode_payload(b"\xfe\xff\x00h\x00i") == (
        "utf-16-be", "bom", "hi",
    )
    cs, method, txt = decode_payload(
        b'<meta charset="ISO-8859-1">caf\xe9'
    )
    assert (cs, method) == ("windows-1252", "meta")
    assert txt.endswith("café")
    assert decode_payload("snow☃".encode("utf-8"))[:2] == (
        "utf-8", "utf8-valid",
    )
    # invalid UTF-8, no hints: fallback, and decoding cannot raise
    assert detect_charset(b"\xff\x00\xfe junk") == (
        "windows-1252", "fallback",
    )
    assert decode_payload(bytes(range(256)))[0] == "windows-1252"
    # meta-declared codec Python does not ship → fallback, not LookupError
    cs, method, _ = decode_payload(b'<meta charset="x-martian">abc')
    assert (cs, method) == ("windows-1252", "fallback")


def test_sitemap_parse_contract():
    """Sitemap protocol parsing (sources/sitemap.py): urlset and index
    round-trips, namespaceless real-world documents parse too, and the
    ValueError-only contract holds for malformed XML, wrong roots,
    missing <loc>, unexpected children, and the protocol's
    50,000-entry cap (checked without building 50k entries by
    asserting the guard path directly)."""
    import pytest

    from evolution_data_warehouse_spark.sources import sitemap as sm

    urls = [
        {"loc": "http://h/1", "lastmod": "2026-01-01", "priority": "0.9"},
        {"loc": "http://h/2"},
    ]
    parsed = sm.parse_sitemap(sm.build_sitemap(urls))
    assert parsed["kind"] == "urlset"
    assert [e["loc"] for e in parsed["entries"]] == ["http://h/1", "http://h/2"]
    assert parsed["entries"][0]["priority"] == "0.9"
    assert parsed["entries"][1]["lastmod"] is None

    idx = sm.parse_sitemap(
        sm.build_sitemap_index([{"loc": "http://h/s1.xml"}])
    )
    assert idx["kind"] == "index" and len(idx["entries"]) == 1

    # namespaceless (sloppy but common) documents parse identically
    bare = (
        b"<urlset><url><loc>http://h/x</loc>"
        b"<lastmod>2026-02-02</lastmod></url></urlset>"
    )
    got = sm.parse_sitemap(bare)
    assert got["entries"] == [
        {"loc": "http://h/x", "lastmod": "2026-02-02",
         "changefreq": None, "priority": None}
    ]

    for bad in (
        b"not xml at all",
        b"<rss><channel/></rss>",  # wrong root
        b"<urlset><url><lastmod>2026</lastmod></url></urlset>",  # no loc
        b"<urlset><banana/></urlset>",  # unexpected child
    ):
        with pytest.raises(ValueError):
            sm.parse_sitemap(bad)
    with pytest.raises(ValueError, match="requires loc"):
        sm.build_sitemap([{"lastmod": "2026"}])
    # the 50k cap: exercised at a patched threshold so the test stays fast
    orig = sm._MAX_ENTRIES
    sm._MAX_ENTRIES = 3
    try:
        with pytest.raises(ValueError, match="entry cap"):
            sm.parse_sitemap(
                sm.build_sitemap([{"loc": f"http://h/{i}"} for i in range(4)])
            )
    finally:
        sm._MAX_ENTRIES = orig


def test_robots_parsing_and_verdicts():
    """RFC 9309 semantics in operators/robots.py: group selection by
    longest user-agent token with '*' fallback and same-specificity
    merge; verdicts by longest matching pattern with Allow winning
    ties; '*' wildcards and '$' anchors; no match (or no rules) means
    allowed; comments/unknown fields ignored; an empty Disallow is
    ignored (allow-all)."""
    from evolution_data_warehouse_spark.operators.robots import (
        is_allowed,
        parse_robots_txt,
        robots_pattern_regex,
    )

    txt = "\n".join([
        "# corpus policy",
        "User-agent: GoogleBot",
        "Disallow: /g/",
        "",
        "User-agent: *",
        "Disallow: /all/",
        "Crawl-delay: 10",
        "",
        "User-agent: Engine",
        "User-agent: Other",
        "Allow: /private/stats$",
        "Disallow: /private/",
        "Disallow:",  # empty pattern: allow-all no-op per spec
        "",
        "User-agent: EngineBot",
        "Disallow: /deep/",
    ])
    # longest agent-token match: 'enginebot' (9) beats 'engine' (6)
    assert parse_robots_txt(txt, "EngineBot/1.0") == [(False, "/deep/")]
    # 'engine' group for a shorter product token; both agent lines head it
    assert parse_robots_txt(txt, "Engine/2") == [
        (True, "/private/stats$"),
        (False, "/private/"),
    ]
    assert parse_robots_txt(txt, "Other crawler") == [
        (True, "/private/stats$"),
        (False, "/private/"),
    ]
    # unmatched agent falls back to the '*' group
    assert parse_robots_txt(txt, "RandomBot") == [(False, "/all/")]
    # no groups at all → no rules → everything allowed
    assert parse_robots_txt("Sitemap: /s.xml", "x") == []
    # an ignored line BETWEEN User-agent lines does not split the group
    # (RFC 9309: unrecognized lines are ignored as if absent) — agent A
    # must share B's rules, not get an empty allow-all group
    split = "User-agent: A\nCrawl-delay: 5\nUser-agent: B\nDisallow: /x"
    assert parse_robots_txt(split, "A") == [(False, "/x")]
    assert parse_robots_txt(split, "B") == [(False, "/x")]
    # an EMPTY User-agent value is invalid (RFC 9309 §2.2.1) and must
    # be ignored as if absent — '' prefix-matches every agent with
    # len 0 > -1, so accepting it would let a malformed group beat the
    # '*' fallback for all crawlers
    empty_ua = "\n".join([
        "User-agent:",
        "Disallow: /malformed/",
        "",
        "User-agent: *",
        "Disallow: /all/",
    ])
    assert parse_robots_txt(empty_ua, "AnyBot") == [(False, "/all/")]
    # an empty-agent line inside a valid run is dropped, not a splitter
    mixed = "User-agent: A\nUser-agent:\nDisallow: /x"
    assert parse_robots_txt(mixed, "A") == [(False, "/x")]

    rules = parse_robots_txt(txt, "Engine/2")
    assert is_allowed(rules, "/private/stats") is True   # longest + $
    assert is_allowed(rules, "/private/stats2") is False  # $ anchor
    assert is_allowed(rules, "/private/doc") is False
    assert is_allowed(rules, "/public/x") is True         # no match
    # tie → Allow wins
    tie = [(False, "/public/page"), (True, "/public/page")]
    assert is_allowed(tie, "/public/page9") is True
    # wildcard
    wc = [(False, "/tmp/*/index.htm$")]
    assert is_allowed(wc, "/tmp/a/b/index.htm") is False
    assert is_allowed(wc, "/tmp/a/index.html") is True   # $ blocks suffix
    # regex translation escapes literals ('.' must not be a wildcard)
    assert robots_pattern_regex("/a.b") == "^/a\\.b"


def test_exif_parse_strip_contract():
    """EXIF (operators/exif.py): parse/strip round-trip on both TIFF
    byte orders, strip is exact byte surgery (equals the EXIF-free
    encode; pixels decode bit-identically), non-Exif APP1 segments are
    skipped not errored, and the ValueError-only quarantine contract
    holds under truncation at every boundary and byte flips across the
    header (forged entry counts/offsets fail closed, never
    struct.error/IndexError/MemoryError)."""
    import struct

    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.exif import (
        build_exif_jpeg,
        parse_exif,
        strip_exif,
    )
    from evolution_data_warehouse_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    px = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(6, 8, 3) % 200
    for bo in ("II", "MM"):
        j = build_exif_jpeg(
            px, make="Acme", model="X1", orientation=6,
            gps=(48.8566, -2.3522), byte_order=bo,
        )
        m = parse_exif(j)
        assert (m["make"], m["model"], m["byte_order"]) == ("Acme", "X1", bo)
        assert m["orientation"] == [6]
        assert m["gps"]["gps_lat"] == [(48, 1), (51, 1), (2376, 100)]
        assert m["gps"]["gps_lon_ref"] == "W"
        s = strip_exif(j)
        assert parse_exif(s)["has_exif"] is False
        assert s == encode_jpeg(px)
        assert np.array_equal(decode_jpeg(s)[2], decode_jpeg(j)[2])

    plain = encode_jpeg(px)
    assert parse_exif(plain) == {
        "has_exif": False, "byte_order": None, "gps": None,
    }
    assert strip_exif(plain) == plain
    # a non-Exif APP1 (e.g. XMP) is skipped by parse but removed by strip
    xmp = b"http://ns.adobe.com/xap/1.0/\x00hello"
    app1 = b"\xff\xe1" + struct.pack(">H", len(xmp) + 2) + xmp
    with_xmp = plain[:2] + app1 + plain[2:]
    assert parse_exif(with_xmp)["has_exif"] is False
    assert strip_exif(with_xmp) == plain

    # spec-legal 0xFF fill bytes between markers (ITU T.81 §B.1.1.2)
    # must be skipped, not read as a bogus segment length — real-world
    # encoders pad with them; both parse and strip stay correct
    j = build_exif_jpeg(px, make="Acme", gps=(1.5, -2.5))
    exif_at = j.index(b"Exif\x00\x00") - 4  # the 0xFF 0xE1 position
    filled = j[:exif_at] + b"\xff" * 3 + j[exif_at:]
    assert parse_exif(filled)["make"] == "Acme"
    assert parse_exif(strip_exif(filled))["has_exif"] is False
    # a trailing fill run with no marker is still a truncated header
    with pytest.raises(ValueError, match="truncated JPEG header"):
        parse_exif(j[:exif_at] + b"\xff" * 8)

    data = build_exif_jpeg(px, gps=(1.5, -2.5))
    for cut in range(2, min(len(data), 700)):
        try:
            parse_exif(data[:cut])
        except ValueError:
            pass
    for pos in range(4, min(len(data), 700)):
        mut = bytearray(data)
        mut[pos] ^= 0xFF
        try:
            parse_exif(bytes(mut))
        except ValueError:
            pass
    # forged IFD entry count far beyond the segment fails closed
    at = data.index(b"Exif\x00\x00") + 6 + 8  # IFD0 count position
    forged = bytearray(data)
    struct.pack_into("<H", forged, at, 0xFFFF)
    with pytest.raises(ValueError):
        parse_exif(bytes(forged))
    # review regressions: a header cut exactly at a segment boundary is
    # a ValueError, never a silent "clean, no EXIF" (PII-leak shape)
    with pytest.raises(ValueError, match="truncated JPEG header"):
        parse_exif(b"\xff\xd8")
    marker = data.index(b"Exif\x00\x00") - 4  # the 0xFF 0xE1 position
    (seglen,) = struct.unpack_from(">H", data, marker + 2)
    with pytest.raises(ValueError, match="truncated JPEG header"):
        parse_exif(data[: marker + 2 + seglen])  # cut AT the boundary
    # a GPS IFD pointer forged to type RATIONAL is ValueError, never a
    # TypeError escaping the quarantine net
    ptr_at = data.index(struct.pack("<HH", 0x8825, 4))
    forged = bytearray(data)
    struct.pack_into("<HH", forged, ptr_at, 0x8825, 5)
    with pytest.raises(ValueError, match="GPS IFD pointer"):
        parse_exif(bytes(forged))
    # oversized EXIF body is ValueError, never struct.error on the
    # 16-bit length field
    with pytest.raises(ValueError, match="too large"):
        build_exif_jpeg(px, make="x" * 65520)


def test_warc_build_parse_and_splittability():
    """WARC record framing round-trips in both layouts (plain and the
    Common Crawl member-per-record gzip); a prefix cut at a gzip member
    boundary yields the complete leading records (the splittability
    property that parallelizes crawl ingestion); every other truncation
    or corruption is ValueError; forged Content-Length fails before
    allocation."""
    import gzip
    import struct

    import pytest

    from evolution_data_warehouse_spark.sources.warc import (
        build_warc,
        parse_warc,
    )

    recs = [
        ("warcinfo", "", b"software: engine\r\n"),
        ("response", "http://example.com/a", b"hello world " * 40),
        ("response", "http://example.com/b", b""),
    ]
    for gz in (False, True):
        out = parse_warc(build_warc(recs, per_record_gzip=gz))
        assert [(r["type"], r["uri"], r["payload"]) for r in out] == recs
        assert out[2]["content_length"] == 0

    # splittability: the byte length of the first two members is a
    # legal file containing exactly those records
    first_two = build_warc(recs[:2], per_record_gzip=True)
    data = build_warc(recs, per_record_gzip=True)
    assert data[: len(first_two)] == first_two
    assert len(parse_warc(first_two)) == 2

    for payload in (data, build_warc(recs)):
        for cut in range(0, len(payload)):
            try:
                got = parse_warc(payload[:cut])
                assert len(got) < 3  # only member-boundary cuts succeed
            except ValueError:
                pass
        for pos in range(len(payload)):
            mut = bytearray(payload)
            mut[pos] ^= 0xFF
            try:
                parse_warc(bytes(mut))
            except ValueError:
                pass

    # forged Content-Length: rejected by the cap, not allocated
    big = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: " + str(
        1 << 40
    ).encode() + b"\r\n\r\n"
    with pytest.raises(ValueError, match="implausible"):
        parse_warc(big)
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n\r\n\r\n")

    # gzip bomb: the running inflate cap fires with ValueError during
    # chunked decompression — never a MemoryError-scale allocation
    bomb_gz = gzip.compress(b"\x00" * (1 << 20), compresslevel=9) * 512
    with pytest.raises(ValueError, match="inflated size exceeds cap"):
        parse_warc(bomb_gz)

    # builder contract: non-ASCII or CRLF header values are ValueError
    # (UnicodeEncodeError escape / header injection), never emitted
    for bad_uri in ("http://x/☃", "http://x/a\r\nWARC-Type: evil"):
        with pytest.raises(ValueError, match="single-line ASCII"):
            build_warc([("response", bad_uri, b"")])

    # duplicate headers: FIRST occurrence wins, so a forged trailing
    # Content-Length cannot reframe the record
    dup = (
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 2\r\n"
        b"WARC-Type: forged\r\nContent-Length: 9999\r\n\r\nhi\r\n\r\n"
    )
    rec = parse_warc(dup)
    assert len(rec) == 1 and rec[0]["type"] == "response"
    assert rec[0]["payload"] == b"hi"

    # member-count linearity smoke: thousands of tiny members parse
    # (the O(N^2) tail-copy shape would crawl here)
    many = build_warc(
        [("response", f"http://x/{i}", b"p") for i in range(4000)],
        per_record_gzip=True,
    )
    assert len(parse_warc(many)) == 4000

    # revisit extension: extra headers round-trip; the payload digest
    # is the Common Crawl sha1-base32 convention (pinned against the
    # public SHA-1 empty-string vector); a ':' in a header NAME is a
    # ValueError (header injection), never a silent bogus line
    from evolution_data_warehouse_spark.sources.warc import (
        payload_digest,
    )

    assert payload_digest(b"") == "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"
    rev = build_warc(
        [
            ("response", "http://x/a", b"body"),
            (
                "revisit",
                "http://x/a",
                b"",
                {
                    "WARC-Payload-Digest": payload_digest(b"body"),
                    "WARC-Refers-To-Target-URI": "http://x/a",
                },
            ),
        ],
        per_record_gzip=True,
    )
    r1, r2 = parse_warc(rev)
    assert r2["type"] == "revisit" and r2["payload"] == b""
    assert r2["headers"]["warc-payload-digest"] == payload_digest(
        r1["payload"]
    )
    assert r2["headers"]["warc-refers-to-target-uri"] == "http://x/a"
    with pytest.raises(ValueError, match="header name"):
        build_warc([("response", "http://x/a", b"", {"Bad: Name": "v"})])
    with pytest.raises(ValueError, match="single-line ASCII"):
        build_warc([("response", "http://x/a", b"", {"H": "a\r\nX: y"})])


def test_gopher_rules_model(spark):
    """Gopher quality rules (operators/gopher.py): every rule verified
    on crafted texts that trip it — bullet-started lines, ellipsis-
    ended lines, symbol density, non-alphabetic words, word-length
    extremes, stop-word occurrences — against hand-computed verdicts,
    on BOTH the Spark expressions and the DuckDB SQL twins (the twin
    builders must agree verbatim, including the prefix namespacing the
    funnel composition uses)."""
    import duckdb

    from evolution_data_warehouse_spark.operators.gopher import (
        gopher_flags,
        gopher_flags_sql,
        gopher_metrics,
        gopher_metrics_sql,
    )

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with zeal"] * 5
    )
    cases = [
        # (name, text, expected dict of rule -> bool)
        ("good", good, dict(r_word_count=True, r_mean_word_len=True,
                            r_symbol_ratio=True, r_bullet_lines=True,
                            r_ellipsis_lines=True, r_alpha_words=True,
                            r_stop_words=True, gopher_pass=True)),
        ("short", "the cat sat with me", dict(r_word_count=False,
                                              gopher_pass=False)),
        ("bullets", "\n".join(["- item one of the list"] * 10),
         dict(r_bullet_lines=False, gopher_pass=False)),
        ("ellipses", "\n".join(["the story continues..."] * 10),
         dict(r_ellipsis_lines=False, gopher_pass=False)),
        ("symbols", "# " * 40 + good, dict(r_symbol_ratio=False)),
        ("numeric", " ".join(["12345"] * 60),
         dict(r_alpha_words=False, r_stop_words=False,
              gopher_pass=False)),
        ("longwords", " ".join(["the"] * 2 + ["x" * 30] * 58),
         dict(r_mean_word_len=False, gopher_pass=False)),
        ("onestop", "the " + " ".join(["word"] * 60),
         dict(r_stop_words=False, gopher_pass=False)),
        ("twostop", "the rest of " + " ".join(["word"] * 60),
         dict(r_stop_words=True)),
    ]
    df = spark.createDataFrame(
        [(n, t_) for n, t_, _ in cases], "name string, text string"
    )
    m = gopher_metrics(F.col("text"))
    fl = gopher_flags(m)
    got = {
        r["name"]: r.asDict()
        for r in df.select(
            "name", *[c.alias(k) for k, c in fl.items()]
        ).collect()
    }
    for name, _, want in cases:
        for rule, exp in want.items():
            assert got[name][rule] == exp, (name, rule, got[name])

    # DuckDB twins agree rule-for-rule (prefixed, the funnel shape)
    con = duckdb.connect()
    msql = gopher_metrics_sql("text", prefix="g_")
    fsql = gopher_flags_sql(prefix="g_")
    mcols = ", ".join(f"{s} AS {k}" for k, s in msql.items())
    fcols = ", ".join(f"{s} AS {k}" for k, s in fsql.items())
    # bind parameters — repr() would embed newlines as literal '\n'
    values = ", ".join("(?, ?)" for _ in cases)
    params = [x for n, t_, _ in cases for x in (n, t_)]
    rows = con.execute(
        f"WITH raw(name, text) AS (VALUES {values}), "
        f"m AS (SELECT name, {mcols} FROM raw) "
        f"SELECT name, {fcols} FROM m",
        params,
    ).fetchall()
    cols = ["name"] + [f"g_{k}" for k in
                       ["r_word_count", "r_mean_word_len",
                        "r_symbol_ratio", "r_bullet_lines",
                        "r_ellipsis_lines", "r_alpha_words",
                        "r_stop_words", "gopher_pass"]]
    for row in rows:
        rec = dict(zip(cols, row))
        for rule in list(got[rec["name"]].keys()):
            if rule == "name":
                continue
            assert rec["g_" + rule] == got[rec["name"]][rule], (
                rec["name"], rule, rec, got[rec["name"]],
            )


def test_audio_fingerprint_and_spectrum():
    """audio_fp.py contracts: the 64-bit energy-profile fingerprint is
    exactly invariant to uniform amplitude scaling and to the PCM16
    WAV round-trip; the pinned block swap of the dedup fixture flips
    EXACTLY bits 0 and 56; spectrum32 finds an integer-bin tone with
    zero leakage; undersized inputs raise ValueError."""
    import numpy as np
    import pytest

    from evolution_data_warehouse_spark.operators.audio import (
        decode_wav,
        encode_wav,
    )
    from evolution_data_warehouse_spark.operators.audio_fp import (
        N_BUCKETS,
        N_FFT,
        audio_fingerprint64,
        dominant_bin,
        spectrum32,
    )

    rng = np.random.default_rng(7)
    amps = rng.integers(100, 5100, N_BUCKETS).astype(np.int64)
    for b, a in {0: 1000, 1: 2000, 2: 7500, 55: 7500, 56: 1000,
                 57: 2000, 58: 7500}.items():
        amps[b] = a
    sig = np.repeat(amps, 64)
    sig[1::2] *= -1
    fp = audio_fingerprint64(sig)
    # amplitude scaling: energies scale by s^2, comparisons unchanged
    assert audio_fingerprint64(sig * 3) == fp
    # PCM16 WAV round-trip is exact
    wav = encode_wav(sig[:, None], 16000, width=2)
    assert audio_fingerprint64(decode_wav(wav)["samples"]) == fp
    # the fixture's pinned swap flips exactly bits 0 and 56
    swapped = amps.copy()
    swapped[0], swapped[1] = swapped[1], swapped[0]
    swapped[56], swapped[57] = swapped[57], swapped[56]
    sig2 = np.repeat(swapped, 64)
    sig2[1::2] *= -1
    fp2 = audio_fingerprint64(sig2)
    assert bin((fp ^ fp2) & ((1 << 64) - 1)).count("1") == 2
    assert (fp ^ fp2) & 1 and (fp ^ fp2) >> 56 & 1

    # spectrum: an integer-bin tone dominates its bin in every frame
    k = 11
    n = np.arange(N_FFT * 4, dtype=np.float64)
    tone = np.floor(
        6000.0 * np.sin(2.0 * np.pi * k * n / N_FFT) + 0.5
    ).astype(np.int64)
    spec = spectrum32(tone)
    assert spec.shape == (4, 32)
    assert dominant_bin(spec) == k
    assert np.all(spec[:, 1:].argmax(axis=1) + 1 == k)

    with pytest.raises(ValueError, match="needs >="):
        spectrum32(tone[: N_FFT - 1])
    with pytest.raises(ValueError, match="needs >="):
        audio_fingerprint64(np.arange(N_BUCKETS - 1))

    # full-scale 32-bit PCM: the int64 cumsum would WRAP (x*x ~ 4.6e18
    # per sample) — the exact big-int path must keep the fingerprint
    # correct and scale-invariant (review finding). The same profile
    # rendered at 16-bit amplitude must hash identically, because the
    # energy COMPARISONS are what the fingerprint encodes.
    wide = (sig * (2**15)).astype(np.int64)  # amps up to ~2^31 range
    assert audio_fingerprint64(wide) == fp
    assert audio_fingerprint64(wide * 2) == fp


def test_semantic_dedup_grouped_path_matches_join_path(spark):
    """The r15 guarded fast path (numpy applyInPandas per slice) must be
    row-identical to the unguarded JVM pair-join formulation whenever no
    cluster exceeds the cap (slice count 1 → same pair set), including
    the edge inputs the numpy mirror handles explicitly: cent_cos ties
    (id tiebreak), a zero vector (NULL cosine — excluded), a vector
    with a NULL element (NULL dot — joins no pair), and a NaN element
    (Spark NaN ordering: largest, equal to itself)."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [
        # label 1: two identical vectors (tie in cent_cos, id tiebreak)
        # plus a near-duplicate and an outlier
        (1, 1, [1.0, 0.0, 0.0, 0.0]),
        (2, 1, [1.0, 0.0, 0.0, 0.0]),
        (3, 1, [0.999, 0.01, 0.0, 0.0]),
        (4, 1, [0.0, 1.0, 0.0, 0.0]),
        # label 2: zero vector (zero norm -> NULL cosine), NULL element,
        # NaN element, and two near-duplicates
        (5, 2, [0.0, 0.0, 0.0, 0.0]),
        (6, 2, [0.5, None, 0.5, 0.5]),
        (7, 2, [float("nan"), 1.0, 1.0, 1.0]),
        (8, 2, [0.1, 0.2, 0.3, 0.4]),
        (9, 2, [0.1, 0.2, 0.3, 0.41]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    fast = semantic_dedup(df, 0.95)  # guarded: applyInPandas path
    ref = semantic_dedup(df, 0.95, max_cluster=None)  # JVM join path
    assert fast.exceptAll(ref).count() == 0
    assert ref.exceptAll(fast).count() == 0
    # at least one removal must actually occur or the test is vacuous
    assert fast.filter(F.col("removed")).count() >= 2
    # oversize-cluster regime: the guard's sub-split may only UNDERCOUNT
    capped = semantic_dedup(df, 0.95, max_cluster=2)
    joined = (
        capped.select("vec_id", F.col("n_better_neighbors").alias("c"))
        .join(
            ref.select("vec_id", F.col("n_better_neighbors").alias("r")),
            "vec_id",
        )
    )
    assert joined.filter(F.col("c") > F.col("r")).count() == 0


def test_pq_batch_paths_match_expression_forms(spark):
    """The r15 numpy PQ paths (pq_assign_batch, pq_adc_scan) must be
    row-identical to the expression forms they replaced (pq_assign /
    pq_code_column + LUT element_at chain) — exact int64 either way,
    argmin ties to the first minimum. Synthetic vectors include exact
    centroid ties and negative components."""
    from pyspark.sql import functions as F

    from evolution_data_warehouse_spark.operators.similarity import (
        pq_adc_lut,
        pq_adc_scan,
        pq_assign,
        pq_assign_batch,
        pq_code_column,
        pq_quantize_codebooks,
    )

    books = [
        [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]],  # duplicate centroid: tie
        [[-1.0, 0.5], [0.25, -0.75], [1.0, 1.0]],
    ]
    coarse = [[0.0] * 4, [1.0] * 4, [-1.0] * 4]
    rows = [
        (1, [0.0, 0.0, -1.0, 0.5]),
        (2, [1.0, 1.0, 0.25, -0.75]),
        (3, [0.5, 0.5, 0.5, 0.5]),  # equidistant: first-min tiebreak
        (4, [-1.0, -1.0, 1.0, 1.0]),
        (5, [0.1234567, -0.7654321, 0.9999999, -0.0000001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = pq_assign_batch(df, books)
    ref = pq_assign(df, books)
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    query = [0.3, -0.2, 0.7, 0.1]
    lut = pq_adc_lut(books, query)
    probes = [0, 2]
    got2 = pq_adc_scan(df, coarse, books, lut, probes)
    coarse_q = pq_quantize_codebooks([coarse])[0]
    fine_q = pq_quantize_codebooks(books)
    probed = df.select(
        "vec_id",
        "embedding",
        pq_code_column(F.col("embedding"), coarse_q, 0).alias("list_id"),
    ).filter(F.col("list_id").isin(probes))
    adc = None
    for j in range(len(books)):
        code = pq_code_column(F.col("embedding"), fine_q[j], j * 2)
        aterm = F.element_at(
            F.array(*[F.lit(x).cast("bigint") for x in lut[j]]), code + 1
        )
        adc = aterm if adc is None else adc + aterm
    ref2 = probed.select(
        "vec_id", "list_id", adc.cast("bigint").alias("adc_dist")
    )
    assert got2.exceptAll(ref2).count() == 0
    assert ref2.exceptAll(got2).count() == 0
    assert got2.count() > 0  # pruning must leave rows or this is vacuous


# ---------------------------------------------------------------------------
# Dirty-input differential matrix for the Arrow map passes
# ---------------------------------------------------------------------------

# A 4-dim model: 2 PQ subspaces of 2 dims, 3 centroids each (book 0 has a
# duplicate centroid: argmin ties go to the first), a 3-list coarse
# quantizer, an orthogonal rotation with non-trivial fixed-point entries
# and 2 PCA components.
_MX_BOOKS = [
    [[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]],
    [[-1.0, 0.5], [0.25, -0.75], [1.0, 1.0]],
]
_MX_COARSE = [[0.0] * 4, [1.0] * 4, [-1.0] * 4]
_MX_PROBES = [0, 2]
_MX_ROT = [
    [0.6, 0.8, 0.0, 0.0],
    [-0.8, 0.6, 0.0, 0.0],
    [0.0, 0.0, 0.0, 1.0],
    [0.0, 0.0, -1.0, 0.0],
]
_MX_COMPS = [[0.5, 0.5, 0.5, 0.5], [0.5, -0.5, 0.5, -0.5]]
_MX_MEAN = [0.1, -0.1, 0.2, 0.0]
# clean rows: ±0.0, exact centroid hits and ties, negative components,
# and a duplicate id (row passes are per row, so both rows come out)
_MX_CLEAN = [
    (1, [0.0, 0.0, -1.0, 0.5]),
    (2, [-0.0, 1.0, 0.25, -0.75]),
    (3, [0.5, 0.5, 0.5, 0.5]),
    (3, [0.1234567, -0.7654321, 0.9999999, -0.0000001]),
    (4, [-1.0, -1.0, 1.0, 1.0]),
]
# each dirty case adds one row with id 9 that every vector pass rejects
_MX_DIRTY = {
    "null_vector": None,
    "null_element": [0.0, None, 0.0, 0.0],
    "nan": [0.0, float("nan"), 0.0, 0.0],
    "inf": [float("-inf"), 0.0, 0.0, 0.0],
    "ragged": [0.0, 0.0, 0.0],
}
_VECTOR_PASSES = (
    "pq_assign_batch",
    "pq_adc_scan",
    "opq_assign",
    "opq_rotated_energy",
    "pca_project",
)
# dirty text: NULL, empty, one token, doubled spaces, non-ASCII letters
# and an emoji, and a duplicate doc_id
_MX_TEXT = [
    (1, "été café été café été"),
    (2, None),
    (3, ""),
    (4, "solo"),
    (5, "a  b a  b"),
    (5, "x y x y x y 🙂 x y"),
    (6, "ß ß ß ß ß ß ß ß ß ß ß"),
]


def _fixed(v):
    import math

    return [math.floor(x * 1_000_000) for x in v]


def _first_min(dists):
    return dists.index(min(dists))


def _ref_codes(vq, books):
    dsub = len(books[0][0])
    return [
        _first_min(
            [
                sum((vq[j * dsub + i] - c[i]) ** 2 for i in range(dsub))
                for c in book
            ]
        )
        for j, book in enumerate(books)
    ]


def _vector_reference(name, rows):
    """Python closed forms of the vector passes, row by row."""
    import numpy as np

    from evolution_data_warehouse_spark.operators.similarity import (
        opq_quantize_rotation,
        pq_adc_lut,
        pq_quantize_codebooks,
    )

    qbooks = pq_quantize_codebooks(_MX_BOOKS)
    qrot = opq_quantize_rotation(_MX_ROT)
    out = []
    for vid, v in rows:
        vq = _fixed(v)
        z = [sum(r * x for r, x in zip(row, vq)) // 1_000_000 for row in qrot]
        if name == "pq_adc_scan":
            lid = _ref_codes(vq, pq_quantize_codebooks([_MX_COARSE]))[0]
            if lid in _MX_PROBES:
                lut = pq_adc_lut(_MX_BOOKS, [0.3, -0.2, 0.7, 0.1])
                codes = _ref_codes(vq, qbooks)
                out.append((vid, lid, sum(lut[j][c] for j, c in enumerate(codes))))
        elif name == "opq_assign":
            out.append((vid, *_ref_codes(z, qbooks)))
        elif name == "opq_rotated_energy":
            out.append((vid, sum(x * x for x in vq), sum(x * x for x in z[:2])))
        elif name == "pca_project":
            proj = (np.asarray(v) - np.asarray(_MX_MEAN)) @ np.asarray(_MX_COMPS).T
            out.append((vid, tuple(proj.tolist())))
    return sorted(out)


def _run_vector_pass(name, df):
    from evolution_data_warehouse_spark.operators import similarity as sim

    if name == "pq_assign_batch":
        return sim.pq_assign_batch(df, _MX_BOOKS)
    if name == "pq_adc_scan":
        lut = sim.pq_adc_lut(_MX_BOOKS, [0.3, -0.2, 0.7, 0.1])
        return sim.pq_adc_scan(df, _MX_COARSE, _MX_BOOKS, lut, _MX_PROBES)
    if name == "opq_assign":
        return sim.opq_assign(df, _MX_ROT, _MX_BOOKS)
    if name == "opq_rotated_energy":
        return sim.opq_rotated_energy(df, _MX_ROT, 2)
    return sim.pca_project(df, _MX_COMPS, _MX_MEAN)


def _row_pass_reference(name):
    """Closed forms of the row passes over _MX_TEXT, by plain counting."""
    out = []
    for doc_id, text in _MX_TEXT:
        toks = [] if text is None else text.split(" ")
        if len(toks) < 2:
            continue
        grams = {
            n: [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            for n in (2, 3)
        }
        if name == "bigram_counts":
            for g in sorted(set(grams[2])):
                out.append((doc_id, " ".join(g), grams[2].count(g)))
        else:
            cov = {n: [gs.count(g) * sum(map(len, g)) for g in set(gs)] for n, gs in grams.items()}
            dup = {
                n: sum(gs.count(g) * sum(map(len, g)) for g in set(gs) if gs.count(g) >= 2)
                for n, gs in grams.items()
            }
            out.append((doc_id, sum(map(len, toks)), max(cov[2], default=0), dup[3]))
    return sorted(out)


def _pca_reference(rows):
    """Eigenvalues (descending) and mean of the population covariance."""
    import numpy as np

    x = np.array([v for _, v in rows], dtype=np.float64)
    return np.sort(np.linalg.eigvalsh(np.cov(x.T, bias=True)))[::-1], x.mean(axis=0)


@pytest.mark.parametrize(
    "pass_name,case",
    [(p, c) for p in (*_VECTOR_PASSES, "pca_fit") for c in ("clean", *_MX_DIRTY)]
    + [("bigram_counts", "dirty_text"), ("repetition_ngram_stats", "dirty_text")]
    + [("map_rows_identity", "bigint_null"), ("heavy_hitters_exact", "null_items")],
)
def test_map_pass_dirty_input_matrix(spark, pass_name, case):
    """Every Arrow map pass on a fixed adversarial table (NULL rows and
    elements, NaN, ±inf, ±0.0, ragged vectors, duplicate ids, empty
    partitions, non-ASCII text, a 64-bit int next to a NULL, NULL
    items) either matches its reference — the pq_assign expression
    form for PQ, Python closed forms and numpy for the rest — or raises
    the documented ValueError naming the offending id. Vector passes
    keep the input's id type (INT here)."""
    from evolution_data_warehouse_spark.operators.arrow_map import (
        local_table,
        map_columns,
        map_rows,
    )
    from evolution_data_warehouse_spark.operators.gopher import (
        repetition_ngram_stats,
    )
    from evolution_data_warehouse_spark.operators.similarity import pca_fit, pq_assign
    from evolution_data_warehouse_spark.operators.sketches import (
        _mg_summarize,
        heavy_hitters_exact,
    )
    from evolution_data_warehouse_spark.queries.text import doc_bigram_counts

    if case == "bigint_null":
        # one batch holding both rows: fn must see the exact int, not a
        # float64 rounding of it
        x = local_table(spark, [(2**62 + 1,), (None,)], "x bigint").coalesce(1)
        got = map_rows(x, lambda v: [(v,)], "x bigint")
        assert sorted((tuple(r) for r in got.collect()), key=repr) == [
            (2**62 + 1,),
            (None,),
        ]
        return
    if case == "null_items":
        # a 6, b 5, NULL 4, c 1, d 1 in one batch: NULLs are not counted,
        # so capacity 3 trims at the 4th count (1) and keeps a and b
        items = [("a",)] * 6 + [("b",)] * 5 + [(None,)] * 4 + [("c",), ("d",)]
        src = local_table(spark, items, "item string").coalesce(1)
        summary = map_columns(src, _mg_summarize(3), "item string, lb long")
        assert sorted(tuple(r) for r in summary.collect()) == [("a", 5), ("b", 4)]
        got = heavy_hitters_exact(src.repartition(10), "item", k=1, capacity=3)
        assert [tuple(r) for r in got.collect()] == [("a", 6)]
        return
    if case == "dirty_text":
        # more partitions than rows: some partitions are empty
        docs = spark.createDataFrame(_MX_TEXT, "doc_id bigint, text string").repartition(10)
        if pass_name == "bigram_counts":
            got = doc_bigram_counts(docs)
        else:
            got = repetition_ngram_stats(docs, (2,), (3,))
        assert sorted(tuple(r) for r in got.collect()) == _row_pass_reference(pass_name)
        return

    rows = list(_MX_CLEAN)
    if case != "clean":
        rows.append((9, _MX_DIRTY[case]))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>").repartition(8)
    if pass_name == "pca_fit":
        import numpy as np

        if case != "clean":
            # a driver-side ValueError when the ragged vector sits alone
            # in its batch, a worker-side one otherwise
            with pytest.raises(Exception, match=r"vec_id 9: "):
                pca_fit(df, k=2)
            return
        comps, mean, ev = pca_fit(df, k=2)
        ref_ev, ref_mean = _pca_reference(_MX_CLEAN)
        assert np.allclose(ev, ref_ev[:2], atol=1e-12)
        assert np.allclose(mean, ref_mean, atol=1e-12)
        assert np.allclose(comps @ comps.T, np.eye(2), atol=1e-12)
        return
    got = _run_vector_pass(pass_name, df)
    assert dict(got.dtypes)["vec_id"] == "int"
    if case != "clean":
        with pytest.raises(Exception, match=r"ValueError: vec_id 9: "):
            got.collect()
        return
    if pass_name == "pq_assign_batch":
        ref = pq_assign(df, _MX_BOOKS)
        assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
        return
    rows_got = sorted(
        tuple(tuple(x) if isinstance(x, list) else x for x in r) for r in got.collect()
    )
    ref = _vector_reference(pass_name, _MX_CLEAN)
    if pass_name == "pca_project":
        import numpy as np

        assert [r[0] for r in rows_got] == [r[0] for r in ref]
        assert np.allclose([r[1] for r in rows_got], [r[1] for r in ref], atol=1e-12)
    else:
        assert rows_got == ref


def test_semantic_dedup_duplicate_id_in_one_slice(spark):
    """A vec_id that appears twice inside one cluster slice: the grouped
    numpy path never pairs the two rows (the join path's _ida != _idb),
    sums their counts into one row per id (the join path's groupBy),
    and so matches both the JVM join path and a brute-force count."""
    import math

    from evolution_data_warehouse_spark.operators.similarity import semantic_dedup

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [0.99, 0.1, 0.0]),
        (3, 0, [0.98, 0.15, 0.05]),
        (3, 0, [0.97, 0.2, 0.0]),
        (4, 0, [0.95, 0.0, 0.3]),
        (5, 1, [0.0, 1.0, 0.0]),
        (6, 1, [0.0, 0.98, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    tau = 0.9
    grouped = semantic_dedup(emb, tau, max_cluster=1000)
    joined = semantic_dedup(emb, tau, max_cluster=None)

    def key(df):
        return sorted((r.vec_id, r.label, r.n_better_neighbors) for r in df.collect())

    got = key(grouped)
    assert got == key(joined)

    # one output row per input row: the duplicate id does not fan out
    assert [r[0] for r in got].count(3) == 2

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    # brute force: float centroids (the engine's are fixed point, but no
    # two centroid cosines here are close enough for that to matter)
    cent = {}
    for lbl in {r[1] for r in rows}:
        members = [r[2] for r in rows if r[1] == lbl]
        cent[lbl] = [sum(m[i] for m in members) / len(members) for i in range(3)]
    ccs = [cos(v, cent[lbl]) for _, lbl, v in rows]
    brute = {}
    for i, (vid, lbl, v) in enumerate(rows):
        n = sum(
            1
            for j, (vj, lj, w) in enumerate(rows)
            if lj == lbl
            and vj != vid
            and cos(v, w) >= tau
            and (ccs[j] < ccs[i] or (ccs[j] == ccs[i] and vj < vid))
        )
        brute[vid] = brute.get(vid, 0) + n
    expect = sorted((vid, lbl, brute[vid]) for vid, lbl, _ in rows)
    assert got == expect
    assert brute[3] > 0  # the duplicate-id rows do have better neighbours
