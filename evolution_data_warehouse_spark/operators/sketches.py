"""Bounded-memory sketches: Misra-Gries heavy hitters (+ exact
re-count), count-min frequency cells, and KMV distinct/intersection.

The two-pass exact top-k pattern for corpora whose key cardinality is
too large to groupBy comfortably but whose heavy hitters are what the
user actually wants (trending tokens, hot URLs, dominant entities):

1. **Candidate pass** — each Arrow batch runs a Misra-Gries summary
   of capacity m (classic streaming frequent-items; Misra & Gries
   1982). A batch holding n_b items guarantees every item with local
   frequency > n_b/m is retained, and the retained lower-bound counts
   undercount by at most n_b/m. Summing the per-batch summaries
   preserves the guarantee globally: any item with TOTAL frequency
   > n_total/m appears in the merged candidate set. Per-batch state
   is O(m) regardless of partition size — the property that makes
   this run on 100 TB where a full groupBy would shuffle the whole
   key space.
2. **Exact pass** — re-count ONLY the candidates (broadcast semi-join
   against the raw stream), then take the tie-broken top-k of exact
   counts.

The result is EXACT (not approximate) whenever the guarantee
`exact_count(k-th item) > n_total/m` holds — the operator verifies
that inequality from its own outputs and raises if m was chosen too
small, so a silent wrong answer is impossible. With m >= a few
thousand and any remotely Zipfian key distribution the guarantee
holds by orders of magnitude.

Implemented as an Arrow-batched map_columns pass (no row-at-a-time
Python); the candidate set is candidate-cardinality (<= m rows per
Arrow batch before the map-side-combined merge aggregate), so
everything after the first linear scan works on candidates only.

This is new capability relative to the reference (its pandas ETL
value_counts entire columns in memory); it is the distributed form of
the same report.
"""

from __future__ import annotations

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import map_columns

DEFAULT_CAPACITY = 2048


def _mg_summarize(capacity: int):
    """map_columns fn: one (item string) Arrow batch → its Misra-Gries
    summary as (item, lb) rows, lb = the retained lower-bound count.
    NULL items are not counted.

    Vectorized via the MG MERGE theorem (Agarwal et al., "Mergeable
    Summaries"): the batch is exactly counted with C-speed
    ``value_counts`` (an error-0 summary) and trimmed to capacity by
    subtracting the (capacity+1)-th largest count and dropping
    non-positives — which preserves the n/m undercount bound exactly
    like per-item decrements, while touching Python only once per batch
    instead of once per row."""

    def fn(batch):
        summary = pc.value_counts(batch["item"].drop_null())
        items, counts = summary.field("values"), summary.field("counts").to_numpy()
        thresh = np.sort(counts)[-capacity - 1] if len(counts) > capacity else 0
        keep = counts > thresh
        return {"item": pc.filter(items, keep), "lb": counts[keep] - thresh}

    return fn


def heavy_hitters_exact(
    items: DataFrame,
    item_col: Column | str,
    k: int,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Exact tie-broken top-k of ``item_col`` via MG candidates + exact
    re-count. Returns (item, cnt) with cnt exact. Raises RuntimeError
    if the MG guarantee cannot certify exactness (capacity too small
    for the distribution) — never silently approximate.
    """
    col = F.col(item_col) if isinstance(item_col, str) else item_col
    src = items.select(col.cast("string").alias("item"))
    summaries = map_columns(src, _mg_summarize(capacity), "item string, lb long")
    candidates = summaries.groupBy("item").agg(F.sum("lb").alias("lb"))
    # exact pass: count only candidate items. The candidate union is at
    # most capacity x partitions rows and is never rank-truncated: a
    # truncation beyond the MG merge theorem's trim could drop a true
    # heavy hitter in a way the final certificate cannot detect.
    exact = (
        src.join(candidates.select("item"), "item")
        .groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "item")
        .limit(k)
    )
    # In-plan exactness certificate: the MG merge guarantees every item
    # with total count > n/m is a candidate, so if EVERY returned row
    # has cnt·m > n, no true top-k item can have been evicted (it would
    # have out-counted a returned row and hence been a candidate too).
    # assert_true throws at runtime if the certificate fails — the
    # operator is never silently approximate. (A result with fewer
    # than k rows means candidate cardinality < k; callers comparing
    # against exact top-k see the row-count difference.)
    # The assert rides in a filter (assert_true yields NULL on success,
    # so isNull keeps every row) — a projected-then-dropped column
    # would be pruned away by Catalyst and never evaluated.
    n_total = src.agg(F.count("*").alias("n_total"))
    return (
        exact.crossJoin(n_total)
        .filter(
            F.assert_true(
                F.col("cnt") * capacity > F.col("n_total"),
                F.lit(
                    f"MG capacity {capacity} cannot certify exact "
                    f"top-{k}: raise capacity"
                ),
            ).isNull()
        )
        .select("item", "cnt")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (point-frequency estimation in fixed memory)
# ---------------------------------------------------------------------------
#
# The third bounded-memory sketch family beside Misra-Gries (top-k) and
# HLL (cardinality): point-frequency estimates with one-sided error
# (Cormode & Muthukrishnan 2005). Build is ONE linear scan hash-
# aggregated into a fixed d x w cell grid — map-side combinable, so
# executor state is d*w counters no matter how many distinct items the
# stream holds. est(x) = min over rows r of cell[r][h_r(x)] >= true
# count always; the expected overcount is N/w per row, and taking the
# min across d independent rows drives the error to N/w with
# probability 1 - (1/2)^d. Hashing is md5-derived (content_hash64) so
# Spark and any external re-implementation agree bucket-for-bucket.


def _cm_keys(col: str, width: int, depth: int):
    """The d per-item (row, bucket) keys as one explodable array — the
    SINGLE definition of the sketch's hashing scheme, shared by build
    and probe so they can never disagree bucket-for-bucket (the SQL
    twin lives beside the oracle query that needs standalone SQL)."""
    from evolution_data_warehouse_spark.operators.dedup import content_hash64

    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("long").alias("r"),
                    (
                        content_hash64(F.concat(F.lit(f"{r}:"), F.col(col)))
                        % width
                    ).alias("b"),
                )
                for r in range(depth)
            ]
        )
    )


def countmin_cells(
    items: DataFrame, col: str = "item", width: int = 512, depth: int = 4
) -> DataFrame:
    """One row per non-empty sketch cell: (r, b, cnt). The d-way
    per-item explode happens before the aggregate, so the shuffle
    carries at most d*w rows per map partition."""
    return (
        items.select(_cm_keys(col, width, depth).alias("rb"))
        .select("rb.r", "rb.b")
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )


def countmin_estimate(
    cells: DataFrame,
    probes: DataFrame,
    col: str = "item",
    width: int = 512,
    depth: int = 4,
) -> DataFrame:
    """Estimate the frequency of every row of ``probes[col]``:
    probes x d bucket keys, broadcast-joined against the (<= d*w row)
    cell table, min across rows → ``cm_est``. Missing cells cannot
    occur for items that were in the build stream (their own
    contribution created the cell)."""
    keyed = probes.select(
        "*", _cm_keys(col, width, depth).alias("rb")
    ).select(*probes.columns, "rb.r", "rb.b")
    return (
        keyed.join(F.broadcast(cells), ["r", "b"])
        .groupBy(*probes.columns)
        .agg(F.min("cnt").cast("long").alias("cm_est"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch + set-intersection estimate
# ---------------------------------------------------------------------------
#
# Bar-Yossef et al. 2002 / Beyer et al. 2007 ("distinct sampling"):
# keep the k smallest hash values of a set; the k-th minimum hash
# estimates the distinct count ((k-1)/theta), and — the property HLL
# lacks — two sketches INTERSECT: common hashes below the shared
# threshold estimate |A INTERSECT B| without ever joining the raw sets.
# Hashes come from dedup.content_hash64 (60-bit md5 prefix), so the
# whole estimator is bit-deterministic and DuckDB-mirrorable.

KMV_SPACE = 1 << 60  # content_hash64 range: 15 hex chars = 60 bits


def kmv_sketch(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Per-group KMV sketch: the k smallest distinct 60-bit key hashes
    as rows (seg, hv, rn). The rank filter compiles to Spark's
    WindowGroupLimit, so each map task keeps only its local top-k per
    group before the shuffle — O(k) state per (group, partition), the
    shape that survives a 100 TB build. Groups with fewer than k
    distinct keys keep everything (the sketch is then exact)."""
    from pyspark.sql import Window

    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64,
    )

    hashed = (
        df.select(
            F.col(group_col).alias("seg"),
            content_hash64(
                F.concat(F.lit("kmv:"), F.col(key_col).cast("string"))
            ).alias("hv"),
        )
        # NULL keys hash to NULL; Spark's NULLS-FIRST window order
        # would let one occupy a sketch slot (and diverge from a
        # NULLS-LAST engine) — a NULL key is no distinct value, drop it
        .filter(F.col("hv").isNotNull())
        .distinct()  # KMV state is a SET of hashes: collisions merge
    )
    w = Window.partitionBy("seg").orderBy("hv")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def kmv_overlap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    seg_a: str,
    seg_b: str,
    k: int = 256,
) -> DataFrame:
    """One-row distinct-overlap estimate between two segments from
    their KMV sketches: per-segment distinct estimates ((k-1)/theta)
    and the intersection estimate (common sketch hashes below the
    shared threshold, scaled by it). A segment with fewer than k
    distinct keys gets an EXACT distinct count (its theta degrades to
    the full hash space); the intersection is exact only when BOTH
    segments are below k.
    Everything after the sketch build is model-sized (<= 2k rows);
    the scalar threshold rides a 1-row broadcast cross join."""
    m_int = F.lit(KMV_SPACE)
    m_dbl = F.lit(float(KMV_SPACE))  # 2^60: exact as a double
    # The sketch feeds three subtrees (stats, side A, side B). Kept
    # declarative (no checkpoint) so the WindowGroupLimit build shows
    # in the plan and AQE can reuse the identical distinct exchange at
    # runtime; at a real corpus scale you would persist the <=2k-row
    # sketch once instead.
    sk = kmv_sketch(
        df.filter(F.col(group_col).isin([seg_a, seg_b])),
        group_col, key_col, k,
    )
    stats = sk.groupBy("seg").agg(
        F.count("*").alias("n_kept"), F.max("hv").alias("kth")
    )

    def side(tag: str, seg: str) -> list:
        n = F.max(F.when(F.col("seg") == seg, F.col("n_kept")))
        kth = F.max(F.when(F.col("seg") == seg, F.col("kth")))
        return [
            n.alias(f"n_kept_{tag}"),
            kth.alias(f"kth_{tag}"),
        ]

    row = stats.agg(*(side("a", seg_a) + side("b", seg_b)))
    theta = F.least(
        F.when(F.col("n_kept_a") < k, m_int).otherwise(F.col("kth_a")),
        F.when(F.col("n_kept_b") < k, m_int).otherwise(F.col("kth_b")),
    ).alias("theta")
    row = row.select("*", theta)

    common = (
        sk.filter(F.col("seg") == seg_a).select("hv")
        .join(sk.filter(F.col("seg") == seg_b).select("hv"), "hv")
        .crossJoin(row.select("theta"))
        .filter(F.col("hv") < F.col("theta"))
        .agg(F.count("*").alias("p_common"))
    )

    def est_distinct(tag: str):
        n = F.col(f"n_kept_{tag}")
        kth = F.col(f"kth_{tag}")
        return F.when(n < k, n.cast("double")).otherwise(
            F.lit(float(k - 1)) * m_dbl / kth.cast("double")
        )

    est_inter = (
        F.col("p_common").cast("double") * m_dbl
        / F.col("theta").cast("double")
    )
    return row.crossJoin(common).select(
        F.lit(k).cast("int").alias("k"),
        F.col("n_kept_a").cast("long").alias("n_kept_a"),
        F.col("n_kept_b").cast("long").alias("n_kept_b"),
        est_distinct("a").alias("raw_est_a"),
        est_distinct("b").alias("raw_est_b"),
        F.col("p_common").cast("long").alias("p_common"),
        est_inter.alias("raw_est_intersection"),
    )
