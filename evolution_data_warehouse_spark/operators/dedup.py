"""Probabilistic near-duplicate detection: MinHash+LSH and SimHash.

Scale design (the reason these exist next to the exact n-gram Jaccard):
all-pairs similarity is O(n²); MinHash-LSH reduces it to one shuffle on
(band, band_key) — only documents sharing a band bucket are paired, so
the candidate set scales with the number of true near-dups, not n².
That is the 100 TB-shaped plan.

Cross-engine determinism: the base shingle/token hash is
``bigint(hex_prefix(md5(s)))`` — identical in Spark (conv) and DuckDB
(0x-cast) — and the K universal-hash functions (a·h+b mod p) use
literal coefficients from a fixed seed, so signatures are reproducible
anywhere (and oracle-checkable).
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.textops import (
    k_gram_windows as _k_gram_windows,
)

MERSENNE_P = 2147483647  # 2^31 - 1; keeps a·h+b within int64
N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SIMHASH_BITS = 16
# Hot-bucket guard default, shared with the DuckDB oracle
# (queries/llm_ops.py interpolates this constant into the oracle SQL so
# engine and oracle can never diverge silently).
DEFAULT_MAX_BUCKET = 1000
# Document-frequency cap for the exact shingle self-join family
# (dedup_ngram_jaccard / text_shingle_containment): a shingle shared by
# m documents emits m·(m-1)/2 join rows, so one super-frequent shingle
# (boilerplate header, license block) goes quadratic at corpus scale.
# Shingles with df > cap are dropped BEFORE the self-join — the standard
# "discard super-frequent shingles" step; documents pairing only through
# boilerplate belong to the exact-dedup path. Shared with the DuckDB
# oracles by interpolation, like DEFAULT_MAX_BUCKET.
DEFAULT_MAX_SHINGLE_DF = 1000

logger = logging.getLogger(__name__)

_rng = random.Random(20260813)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_P), _rng.randrange(0, MERSENNE_P))
    for _ in range(N_MINHASH)
]


def content_hash64(col: Column) -> Column:
    """60-bit content hash: bigint of the first 15 md5 hex chars.
    Matches DuckDB's CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def content_hash64_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def cap_shingle_df(
    hashed: DataFrame,
    hash_col: str = "shingle_h",
    max_df: int = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — the
    hot-key guard for the exact shingle self-join (see
    ``DEFAULT_MAX_SHINGLE_DF``). Input is the (id, hash) relation with
    one row per distinct shingle per document, so ``count(*)`` per hash
    IS the document frequency.

    Guard plan: window count over the hash + filter, NOT groupBy+join —
    the window shuffles on the same key the pair self-join hashes next,
    so both sides of the self-join share the guarded subtree and
    Spark's ReusedExchange computes that shuffle once (same argument as
    the minhash hot-bucket guard above, ~2.1x measured there)."""
    w = Window.partitionBy(hash_col)
    return (
        hashed.withColumn("_df", F.count("*").over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def minhash_signature(shingled: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, shingle) rows → one row per id with mh0..mh{K-1}.

    One hash-aggregate: all K permutation-mins computed in a single
    groupBy pass (map-side partial min, then one shuffle on id)."""
    hm = (content_hash64(F.col("shingle")) % MERSENNE_P).alias("_hm")
    h = shingled.select(F.col(id_col), hm)
    aggs = [
        F.min((F.lit(a) * F.col("_hm") + F.lit(b)) % MERSENNE_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return h.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Signature rows → (id, band, band_key) rows, one per band."""
    parts = []
    for b in range(N_BANDS):
        cols = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        parts.append(
            signatures.select(
                F.col(id_col),
                F.lit(b).alias("band"),
                F.concat_ws("|", *[F.col(c).cast("string") for c in cols]).alias(
                    "band_key"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cap_lsh_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket`` — the hot-bucket
    guard shared by every banded pipeline (batch, incremental, and the
    recall eval). Window-count + filter, NOT groupBy+join: the window
    shuffles on the same (band, band_key) the pair join hashes next,
    so both join sides reuse one exchange (~2.1x measured — see
    minhash_lsh_pairs). One implementation so the three call sites
    can never drift."""
    if max_bucket is None:
        return bands
    w = Window.partitionBy("band", "band_key")
    return (
        bands.withColumn("_bucket_n", F.count("*").over(w))
        .filter(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
    )


def materialize_bands(bands: DataFrame) -> DataFrame:
    """Eagerly materialize a guarded band table before a pair
    self-join. Under AQE, runtime stage-reuse does NOT fire across the
    two sides of the band self-join (profiled r14: both sides
    re-expanded the bands and re-ran the guard window), so every
    banded pipeline checkpoints the slim (id, band, band_key) table
    once instead. Shared so the call sites cannot drift from
    :func:`minhash_lsh_pairs`'s ``bands_storage="checkpoint"``."""
    return bands.localCheckpoint(eager=True)


def minhash_lsh_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    sig_storage: str = "cache",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    bands_storage: str = "checkpoint",
) -> DataFrame:
    """Candidate near-dup pairs + estimated Jaccard (fraction of equal
    minhashes). The pair join runs on (band, band_key) — the LSH bucket —
    never all-pairs.

    The signature table is reused three times (band expansion + both
    sides of the jaccard join); ``sig_storage`` picks its lifecycle:

    * ``"cache"`` (default, interactive/repeated use): pinned in the
      CacheManager, which dedupes identical plans — re-running the same
      dedup reuses one entry, it does not accumulate.
    * ``"checkpoint"`` (composition into longer pipelines): eager
      localCheckpoint — blocks are reclaimed when the result is
      dropped, nothing stays pinned.
    * ``"none"``: recompute per use (when the input is already
      materialized upstream).

    ``max_bucket`` guards against degenerate buckets: a band_key shared
    by m documents yields m·(m-1)/2 candidate pairs, so one hot bucket
    (boilerplate, empty-ish docs, near-constant shingle sets) turns the
    join quadratic at corpus scale. Buckets larger than ``max_bucket``
    are dropped from candidate generation — their members are
    near-identical and belong to the exact-dedup path (dedup_exact /
    content-hash groupBy), which handles them in linear time. The
    guard defaults ON (``DEFAULT_MAX_BUCKET`` = 1000): at 100 TB a
    single boilerplate bucket with 10⁶ members would otherwise emit
    5·10¹¹ pairs, so opt-out (``max_bucket=None``) is the special
    case, not the default. Use :func:`hot_buckets` to inspect what
    the guard would drop.

    Guard plan: a window count over (band, band_key) + filter — NOT a
    groupBy+join back onto the bands. The window shuffles on the same
    key the pair self-join hashes next, and because both sides of the
    self-join share the identical guarded subtree, Spark's
    ReusedExchange computes that shuffle once. The groupBy+join
    formulation added an extra aggregate + join that re-evaluated on
    both sides (~2.1× measured at sf0.1).

    ``bands_storage`` ("checkpoint" default, "none" to opt out):
    materialize the guarded band table once (eager localCheckpoint)
    before the pair self-join. Under the static planner the two join
    sides share the guard via ReusedExchange, but under AQE the
    runtime stage-reuse does NOT fire for this shape (profiled r14:
    two duplicated 32-task guard stages, ~5 s executorRunTime each at
    sf0.1) — both sides re-expanded bands and re-ran the window count.
    The checkpoint enforces compute-once by construction; r14 A/B at
    sf0.1 (warm, min of 4): 1.644 → 1.357 s with identical output.
    The table is slim (id, band, band_key — 4 rows/doc) and the
    checkpoint is per-invocation, so nothing persists across runs.
    """
    sig = minhash_signature(shingled, id_col)
    if sig_storage == "cache":
        sig = sig.cache()
    elif sig_storage == "checkpoint":
        sig = sig.localCheckpoint(eager=True)
    bands = cap_lsh_buckets(lsh_bands(sig, id_col), max_bucket)
    if bands_storage == "checkpoint":
        bands = bands.localCheckpoint(eager=True)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    eq_terms = sum(
        F.when(F.col(f"sa.mh{j}") == F.col(f"sb.mh{j}"), 1).otherwise(0)
        for j in range(N_MINHASH)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("doc_b") == F.col(f"sb.{id_col}"))
        .select(
            "doc_a",
            "doc_b",
            (eq_terms.cast("double") / F.lit(float(N_MINHASH))).alias("est_jaccard"),
        )
    )


def hot_buckets(
    shingled: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The LSH buckets :func:`minhash_lsh_pairs` would drop under
    ``max_bucket``: (band, band_key, bucket_n) for every bucket whose
    membership exceeds the guard. Use this to audit/report what the
    default-on guard excludes — at scale these rows are exactly the
    boilerplate clusters that belong on the exact-dedup path."""
    bands = lsh_bands(minhash_signature(shingled, id_col), id_col)
    return (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
    )


def simhash(tokens: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, token) rows → (id, simhash) with a 16-bit signature.

    bit_k = sign of Σ_tokens (2·((h>>k)&1) − 1); single hash-aggregate."""
    h = tokens.select(id_col, content_hash64(F.col("token")).alias("_h"))
    aggs = []
    for k in range(SIMHASH_BITS):
        bit = F.shiftright(F.col("_h"), k).bitwiseAND(F.lit(1))
        aggs.append(F.sum(bit * 2 - 1).alias(f"s{k}"))
    sums = h.groupBy(id_col).agg(*aggs)
    sig = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(2**k)).otherwise(F.lit(0))
        for k in range(SIMHASH_BITS)
    )
    return sums.select(F.col(id_col), sig.cast("int").alias("simhash"))


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc_id",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Minimum-label propagation over undirected edges: every node ends
    with the smallest id reachable from it — the canonical id of its
    duplicate cluster. Iterative join+aggregate to a fixpoint (bounded);
    the fixpoint is unique, so results are deterministic regardless of
    execution order. Each iteration is one shuffle on the node id —
    the alternating large-star/small-star shape that scales to
    billion-edge dedup graphs.
    """
    # The label-sum convergence probe below is only sound for numeric
    # node ids (the decimal cast of anything else is NULL, and a NULL
    # sum must never read as "converged").  Fail loudly for non-numeric
    # ids rather than silently mislabeling clusters.  The check is on
    # the DataType class, not a dtype-string prefix: a prefix match
    # would let e.g. 'interval day to second' slip past via 'int'.
    from pyspark.sql import types as T

    node_dt = nodes.schema[node_col].dataType
    if not isinstance(node_dt, (T.IntegralType, T.DecimalType)):
        raise ValueError(
            f"connected_components requires a numeric (integral/decimal) "
            f"node id column for its label-sum convergence probe; "
            f"{node_col!r} has type {node_dt.simpleString()}. Map ids to "
            f"bigint first (e.g. via a surrogate key or content_hash64)."
        )
    sym = (
        edges.select(F.col(src_col).alias("n"), F.col(dst_col).alias("m"))
        .unionByName(
            edges.select(F.col(dst_col).alias("n"), F.col(src_col).alias("m"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # localCheckpoint every iteration: truncates the logical plan (no
    # 20-deep join/agg lineage for Catalyst to re-analyze each round) and
    # materializes the labels exactly once.  Superseded generations are
    # reclaimed when ContextCleaner garbage-collects the checkpointed
    # RDDs (an explicit DataFrame.unpersist is a CacheManager no-op for
    # localCheckpoint blocks), so storage stays bounded over the loop
    # without explicit frees.
    labels = nodes.select(
        F.col(node_col).alias("n"), F.col(node_col).alias("label")
    ).localCheckpoint(eager=True)

    def _label_sum(df: DataFrame):
        # Min-label propagation is monotone non-increasing per node, so
        # an unchanged total label sum proves the fixpoint — a narrow
        # aggregate over the checkpointed labels instead of a join
        # against the previous generation. decimal(38,0) keeps the sum
        # exact at any id magnitude / node count.
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first().s

    prev_sum = _label_sum(labels)
    if prev_sum is None:
        # SUM over zero rows is NULL: an empty node set is trivially
        # converged — return instead of spinning max_iterations empty
        # join/checkpoint rounds toward a spurious warning. A NULL sum
        # over a NON-empty node set means NULL ids; fail loudly, the
        # probe cannot observe those labels.
        if labels.isEmpty():
            return labels.select(
                F.col("n").alias(node_col), F.col("label").alias("cluster_id")
            )
        raise ValueError(
            "connected_components: node id column contains NULLs — the "
            "label-sum convergence probe cannot track them. Drop or map "
            "NULL ids before clustering."
        )
    converged = False
    for _ in range(max_iterations):
        neighbor_labels = (
            sym.join(labels, sym.m == labels.n, "inner")
            .select(sym.n.alias("n"), F.col("label"))
        )
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("n")
            .agg(F.min("label").alias("label"))
        ).localCheckpoint(eager=True)
        cur_sum = _label_sum(new_labels)
        labels = new_labels
        # A NULL sum (empty node set aside, it means the probe could not
        # observe the labels) must not compare equal to a NULL prev_sum
        # and end the loop early.
        if cur_sum is not None and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A component whose diameter exceeds max_iterations would get
        # silently-wrong cluster ids; surface it instead.
        logger.warning(
            "connected_components: fixpoint not reached within %d "
            "iterations — cluster labels may be incomplete for "
            "long-diameter components",
            max_iterations,
        )
    return labels.select(F.col("n").alias(node_col), F.col("label").alias("cluster_id"))


def minhash_lsh_pairs_incremental(
    corpus_shingled: DataFrame,
    batch_shingled: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental near-dup: candidate pairs between a NEW batch and an
    EXISTING corpus only — the daily-ingest shape where the corpus is
    petabytes, the batch is small, and re-pairing the corpus against
    itself would redo yesterday's work.

    Both sides get signatures and band keys; the pair join runs
    corpus-bands × batch-bands on (band, band_key), so work scales with
    the BATCH's bucket matches, never corpus². The hot-bucket guard
    applies to the corpus side (where degenerate boilerplate buckets
    live); the batch side is assumed ingest-sized. At real scale the
    corpus signatures/bands are a stored table maintained alongside the
    corpus — here they are recomputed, which changes cost, not shape.
    """
    sig_c = minhash_signature(corpus_shingled, id_col).localCheckpoint(eager=True)
    bands_c = cap_lsh_buckets(
        lsh_bands(sig_c, id_col).select(
            F.col(id_col).alias("corpus_id"), "band", "band_key"
        ),
        max_bucket,
    )
    return minhash_pairs_against(
        sig_c, bands_c, batch_shingled, id_col=id_col
    )


def minhash_pairs_against(
    corpus_sigs: DataFrame,
    corpus_bands: DataFrame,
    batch_shingled: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs between a new batch and an EXISTING minhash
    index — the join core shared by :func:`minhash_lsh_pairs_incremental`
    (which builds the corpus side in-flight) and the streaming ingest
    (streaming/dedup_ingest.py, which reads the corpus side from the
    PERSISTED index a 100 TB deployment maintains next to the corpus).

    ``corpus_sigs``: (id_col, mh0..mh{K-1}); ``corpus_bands``:
    (corpus_id, band, band_key), already hot-bucket-guarded by the
    index builder. Returns (corpus_id, batch_id, est_jaccard)."""
    sig_b = minhash_signature(batch_shingled, id_col).localCheckpoint(eager=True)
    bands_b = lsh_bands(sig_b, id_col).select(
        F.col(id_col).alias("batch_id"), "band", "band_key"
    )
    cand = (
        corpus_bands.join(bands_b, ["band", "band_key"])
        .select("corpus_id", "batch_id")
        .distinct()
    )
    sa = corpus_sigs.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(N_MINHASH)],
    )
    sb = sig_b.select(
        F.col(id_col).alias("batch_id"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(N_MINHASH)],
    )
    eq = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(N_MINHASH)
    )
    return (
        cand.join(sa, "corpus_id")
        .join(sb, "batch_id")
        .select(
            "corpus_id",
            "batch_id",
            (eq.cast("double") / F.lit(float(N_MINHASH))).alias("est_jaccard"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    undirected: bool = True,
) -> DataFrame:
    """PageRank over the (near-dup / citation) graph — ranks hub
    documents inside duplicate clusters, the signal for choosing the
    canonical copy by connectivity instead of lowest-id.

    The scale shape next to :func:`connected_components`: per
    iteration, ONE join (ranks → out-edges) + ONE aggregate (incoming
    contributions per node), each shuffling on the node id; dangling
    mass is a 1-row aggregate broadcast back in. Lineage is cut every
    iteration with an eager localCheckpoint, so plan depth stays
    constant no matter how many iterations run (the iterative-join
    discipline a billion-edge graph needs). Convergence to the unique
    stationary point makes the result partitioning-independent up to
    float ulps; tests assert against a numpy power-iteration oracle.

    Uses the (1-d)/N + d·(…) normalization, so ranks sum to 1.
    """
    from pyspark.sql import functions as F

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    e = e.distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    out_edges = e.join(deg, "src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iterations):
        contribs = (
            out_edges.join(ranks, out_edges.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
            .groupBy("id")
            .agg(F.sum("contrib").alias("incoming"))
        )
        # dangling nodes (no out-edges) leak their rank — redistribute
        # it uniformly so total mass stays 1 (1-row broadcast)
        dangling = (
            ranks.join(deg, ranks.id == deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass"))
        )
        ranks = (
            nodes.join(contribs, "id", "left")
            .crossJoin(dangling)
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("incoming"), F.lit(0.0))
                        + F.col("mass") / n_nodes
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def window_spans(
    tokens: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    min_occurrences: int = 2,
) -> DataFrame:
    """Span-level exact-substring duplicate detection (the window-hash
    construction of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-shaped for a distributed engine: the
    paper's suffix array is a single-machine structure; hashed
    fixed-width windows give the same duplicated-span recall for spans
    >= w tokens with nothing but hash aggregates).

    Input: one row per document with a tokens array. Every w-token
    sliding window is hashed (content_hash64); a window is *duplicated*
    when its hash occurs >= ``min_occurrences`` times corpus-wide
    (cross-document or within-document). Each document's duplicated
    window positions are then merged into maximal spans by a
    gaps-and-islands pass, so the output says WHICH token ranges to cut,
    not merely which documents look alike (that is the doc-level
    families' job — dedup_ngram_jaccard / minhash).

    Returns one row per document that contains at least one duplicated
    span: (id, n_tokens, n_dup_windows, n_dup_spans, dup_tokens) — all
    integers, so the result is exactly reproducible on any engine.

    Scale: strictly linear — the corpus is never self-joined. Stages:
    (1) explode to one row per window (output ~w x corpus tokens, all
    map-side), (2) hash aggregate on the 60-bit window hash with
    map-side partial counts, (3) shuffle join positions<->duplicated
    hashes on the hash key, (4) per-document windows over the (tiny)
    duplicated subset only. The expensive relation after step 3 holds
    just the duplicated windows — on real corpora a few percent of all
    windows — so the island pass is a small sort per document.
    """
    n_tokens = F.size(F.col(tokens_col))
    wins = (
        tokens.filter(n_tokens >= w)
        .select(
            F.col(id_col),
            n_tokens.cast("long").alias("n_tokens"),
            F.posexplode(
                _k_gram_windows(F.col(tokens_col), w)
            ).alias("_p0", "_win"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("_p0") + 1).cast("long").alias("pos"),
            content_hash64(F.col("_win")).alias("_h"),
        )
    )
    dup = (
        wins.groupBy("_h")
        .agg(F.count("*").alias("_cnt"))
        .filter(F.col("_cnt") >= min_occurrences)
        .select("_h")
    )
    d = wins.join(dup, "_h").select(id_col, "n_tokens", "pos")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        d.withColumn("_prev_end", F.max(F.col("pos") + w - 1).over(w_prev))
        .withColumn(
            "_brk",
            F.when(
                F.col("_prev_end").isNull()
                | (F.col("pos") > F.col("_prev_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_brk").over(w_cum))
    )
    spans = isl.groupBy(id_col, "_island").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.count("*").alias("_n_windows"),
        F.min("pos").alias("_start"),
        (F.max("pos") + w - 1).alias("_end"),
    )
    return spans.groupBy(id_col).agg(
        F.first("n_tokens").cast("long").alias("n_tokens"),
        F.sum("_n_windows").cast("long").alias("n_dup_windows"),
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("_end") - F.col("_start") + 1)
        .cast("long")
        .alias("dup_tokens"),
    )


def cross_substring_spans(
    tokens: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    max_anchor_df: int = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """CROSS-document exact-substring dedup (the pairwise form of Lee
    et al. 2022's ExactSubstr): which document PAIRS share a verbatim
    token run of >= ``w`` tokens, where, and how long. ``window_spans``
    above answers the per-document question ("which of my token ranges
    are duplicated somewhere"); this answers the provenance question
    ("which other document do I share them with") that cross-snapshot /
    cross-dump curation needs.

    Distributed shape — anchor k-grams, never all-pairs:

    1. every w-token sliding window is 60-bit hashed (one map-side
       explode, same construction as ``window_spans``);
    2. the anchor-frequency guard drops window hashes occurring more
       than ``max_anchor_df`` times corpus-wide (boilerplate guard —
       one super-frequent window would emit O(df²) join rows; same
       rationale and same window-count+filter plan as
       ``cap_shingle_df``, so both sides of the next join reuse ONE
       exchange on the hash) and keeps only hashes occurring >= 2
       times (a unique window cannot match anything);
    3. the anchor join pairs window occurrences on the HASH KEY only
       (bucket-keyed equi-join — plan-locked by
       tests/test_plan_invariants.py), ordered ``doc_a < doc_b`` so
       each unordered pair appears once;
    4. within-pair span extension is pure per-pair window arithmetic:
       matches on the same alignment diagonal (pos_a - pos_b) with
       consecutive positions are one maximal shared run — a
       gaps-and-islands pass on (pair, diag), a run of m consecutive
       matched windows being a shared substring of m + w - 1 tokens.

    Output: one row per document pair that shares at least one
    >=w-token run — (doc_a, doc_b, n_shared_spans,
    longest_span_tokens, shared_tokens). All-integer, so exactly
    engine-reproducible (oracle-checked by dedup_substring_cross).

    Scale: the join fan-out is bounded by the anchor guard (a hash with
    df occurrences emits < df² rows, df <= max_anchor_df), and
    everything after the join is embarrassingly parallel per (doc_a,
    doc_b, diag) group. The reference has no substring-level operator
    at all (its dedup is row-level DISTINCT,
    transformation/nettoyage.py).
    """
    n_tokens = F.size(F.col(tokens_col))
    wins = (
        tokens.filter(n_tokens >= w)
        .select(
            F.col(id_col),
            F.posexplode(_k_gram_windows(F.col(tokens_col), w)).alias(
                "_p0", "_win"
            ),
        )
        .select(
            F.col(id_col).alias("_id"),
            (F.col("_p0") + 1).cast("long").alias("pos"),
            content_hash64(F.col("_win")).alias("_h"),
        )
    )
    guard = Window.partitionBy("_h")
    anchored = (
        wins.withColumn("_df", F.count("*").over(guard))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_anchor_df))
        .drop("_df")
    )
    a = anchored.select(
        F.col("_id").alias("doc_a"), F.col("pos").alias("pos_a"), "_h"
    )
    b = anchored.select(
        F.col("_id").alias("doc_b"), F.col("pos").alias("pos_b"), "_h"
    )
    matches = (
        a.join(b, "_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    run_w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    spans = (
        matches.withColumn(
            "_island", F.col("pos_a") - F.row_number().over(run_w)
        )
        .groupBy("doc_a", "doc_b", "diag", "_island")
        .agg(
            (F.max("pos_a") - F.min("pos_a") + F.lit(w))
            .cast("long")
            .alias("span_tokens")
        )
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias("n_shared_spans"),
        F.max("span_tokens").cast("long").alias("longest_span_tokens"),
        F.sum("span_tokens").cast("long").alias("shared_tokens"),
    )


def _coalesce_fixed_width_intervals(
    matched: DataFrame, pos_col: str, w: int, suffix: str
) -> DataFrame:
    """Coalesce DISTINCT fixed-width-``w`` intervals [pos, pos+w-1] per
    (doc_a, doc_b) into maximal intervals and aggregate coverage.

    Because every interval has the same width and rows are sorted by
    ``pos``, the running max of previous interval ends is simply
    lag(pos) + w - 1, so the island break is lag-based (no running-max
    window needed): a new maximal interval starts when
    pos > lag(pos) + w (the previous end + 1 < pos — adjacent intervals
    merge, matching window_spans' convention, which never changes the
    covered-token count for fixed-width inputs).
    """
    order_w = Window.partitionBy("doc_a", "doc_b").orderBy(pos_col)
    cum_w = (
        Window.partitionBy("doc_a", "doc_b")
        .orderBy(pos_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        matched.select("doc_a", "doc_b", pos_col)
        .distinct()
        .withColumn("_lag", F.lag(pos_col).over(order_w))
        .withColumn(
            "_brk",
            F.when(
                F.col("_lag").isNull()
                | (F.col(pos_col) > F.col("_lag") + w),
                1,
            ).otherwise(0),
        )
        .withColumn("_island", F.sum("_brk").over(cum_w))
    )
    spans = isl.groupBy("doc_a", "doc_b", "_island").agg(
        (F.max(pos_col) - F.min(pos_col) + F.lit(w))
        .cast("long")
        .alias("_cov")
    )
    return spans.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("long").alias(f"n_max_spans_{suffix}"),
        F.sum("_cov").cast("long").alias(f"covered_tokens_{suffix}"),
        F.max("_cov").cast("long").alias(f"longest_span_{suffix}"),
    )


def cross_substring_maximal(
    tokens: DataFrame,
    w: int = 5,
    id_col: str = "doc_id",
    tokens_col: str = "tk",
    max_anchor_df: int = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Maximal-coverage form of :func:`cross_substring_spans` (the
    interval-coalesced semantics of Lee et al. 2022's ExactSubstr —
    *how much of each document is verbatim-shared with the other*, not
    per-alignment run counts).

    ``cross_substring_spans`` reports one span per alignment DIAGONAL,
    so a token range that matches the partner document under two
    different alignments (e.g. the partner contains the run twice) is
    counted twice in ``shared_tokens``. Curation decisions (cut or
    keep a document) need the de-overlapped number: the union of
    matched token intervals per document side. This operator coalesces
    the matched fixed-width windows [pos, pos+w-1] into maximal
    intervals independently in doc_a's and doc_b's coordinate spaces —
    one DISTINCT + one lag-based gaps-and-islands window pass per side
    over the (small) matched subset, after the identical anchor-guarded
    hash join as the diagonal form.

    Output: one all-integer row per document pair —
    (doc_a, doc_b, n_max_spans_a, covered_tokens_a, longest_span_a,
    n_max_spans_b, covered_tokens_b, longest_span_b) — with
    covered_tokens_* <= the diagonal form's shared_tokens (equality
    exactly when no two alignments overlap; property-tested).

    Scale: identical join fan-out bound as ``cross_substring_spans``
    (anchor df guard); the coalesce passes are per-pair sorts over
    matched anchors only. The reference has no substring-level dedup
    (row-level DISTINCT only, transformation/nettoyage.py).
    """
    n_tokens = F.size(F.col(tokens_col))
    wins = (
        tokens.filter(n_tokens >= w)
        .select(
            F.col(id_col),
            F.posexplode(_k_gram_windows(F.col(tokens_col), w)).alias(
                "_p0", "_win"
            ),
        )
        .select(
            F.col(id_col).alias("_id"),
            (F.col("_p0") + 1).cast("long").alias("pos"),
            content_hash64(F.col("_win")).alias("_h"),
        )
    )
    guard = Window.partitionBy("_h")
    anchored = (
        wins.withColumn("_df", F.count("*").over(guard))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_anchor_df))
        .drop("_df")
    )
    a = anchored.select(
        F.col("_id").alias("doc_a"), F.col("pos").alias("pos_a"), "_h"
    )
    b = anchored.select(
        F.col("_id").alias("doc_b"), F.col("pos").alias("pos_b"), "_h"
    )
    matches = (
        a.join(b, "_h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b")
        # both coalesce passes re-read the join output; materialize it
        # once so the anchor join does not execute twice
        .localCheckpoint(eager=True)
    )
    cov_a = _coalesce_fixed_width_intervals(matches, "pos_a", w, "a")
    cov_b = _coalesce_fixed_width_intervals(matches, "pos_b", w, "b")
    return cov_a.join(cov_b, ["doc_a", "doc_b"])
