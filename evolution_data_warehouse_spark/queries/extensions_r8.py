"""Round-8 query batch: new operator families only (per the r7 review's
consolidation guidance) — progressive-JPEG decode evidence, spatial
grid-bucketed radius join, inferential statistics (two-proportion
z-test), a privacy audit (k-anonymity), survival analysis
(Kaplan-Meier), and real video demux (AVI-MJPEG container → sampled
frame decode) — plus nothing that duplicates an already-proven shape.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (integer arithmetic wherever possible,
fixed-point quantization before any float aggregation, closed-form
double expressions only over identical integer operands, tie-broken
ordering, no native round()).

Reference parity note: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
has no spatial/survival/inference operators — these extend the engine's
surface the way its BI deployment would grow next; media decode remains
the multimodal suite's domain (analytics/etl treats media as opaque
blobs; see operators/jpeg.py module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    fpq,
    fpq_sql,
    register,
    t,
)

# ---------------------------------------------------------------------------
# Progressive (SOF2) JPEG decode — driver-level evidence for the r8 codec
# ---------------------------------------------------------------------------

_MM_PROG_ORACLE = """
SELECT doc_id,
       'jpeg-progressive' AS format,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CAST(doc_id % 3 AS INT) AS restart_interval,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_progressive",
    _MM_PROG_ORACLE,
    doc="REAL progressive (SOF2) JPEG decode, pure numpy "
    "(operators/jpeg.py): spectral-selection + successive-approximation "
    "scans — DC first/refine, AC bands with EOB runs and ZRL, the AC "
    "refinement correction-bit algorithm, and per-scan DRI/RSTn restart "
    "intervals (doc_id % 3: 0 disables them). Progressive re-orders the "
    "SAME coefficients a baseline stream carries, so the check is the "
    "strongest possible: the decoded progressive pixels must be "
    "BIT-IDENTICAL to decoding the baseline encode of the same image — "
    "any divergence anywhere in the multi-scan path breaks the hash. "
    "One narrow mapInPandas stage, Arrow-batched, no shuffle; "
    "embarrassingly parallel at any corpus size.",
)
def mm_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
            encode_jpeg_progressive,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 4 + d % 13, 3 + d % 7
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
                px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
                px[:, :, 2] = d % 256
                ri = d % 3
                _, _, base = decode_jpeg(encode_jpeg(px))
                ww, hh, prog = decode_jpeg(
                    encode_jpeg_progressive(px, restart_interval=ri)
                )
                rows.append(
                    {
                        "doc_id": d,
                        "format": "jpeg-progressive",
                        "width": np.int32(ww),
                        "height": np.int32(hh),
                        "restart_interval": np.int32(ri),
                        "exact_match": bool(np.array_equal(base, prog)),
                    }
                )
            yield pd.DataFrame(rows)

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "restart_interval int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# Spatial radius join via grid bucketing (never all-pairs)
# ---------------------------------------------------------------------------
#
# Points live on a planar integer grid in milli-degrees (closed-form
# from the keys, so both engines synthesize identical coordinates and
# the distance test is EXACT BIGINT arithmetic — no trig, no float
# boundary flips). The join strategy is the part that matters at scale:
# each point keys into one grid cell of side R; each hub probes its
# 3x3 cell neighbourhood. Candidate pairs are bounded by cell
# occupancy — the all-pairs cross join this shape invites is never
# formed. Swap haversine into the exact-distance predicate and the
# plan is the standard geo radius join.

_SPATIAL_R_MD = 2000  # radius = cell side, milli-degrees

_SPATIAL_ORACLE = f"""
WITH pts AS (
    SELECT c_custkey,
           (CAST(c_custkey AS BIGINT) * 7919) % 120000 AS lat_md,
           (CAST(c_custkey AS BIGINT) * 104729) % 340000 AS lon_md
    FROM customer
),
hubs AS (
    SELECT n_nationkey, n_name,
           (n_nationkey * 9973) % 120000 AS hlat_md,
           (n_nationkey * 31337) % 340000 AS hlon_md
    FROM nation
)
SELECT n_nationkey, n_name,
       CAST(COUNT(c_custkey) AS BIGINT) AS n_within,
       CAST(MIN(CASE WHEN c_custkey IS NOT NULL THEN
            (lat_md - hlat_md) * (lat_md - hlat_md)
            + (lon_md - hlon_md) * (lon_md - hlon_md) END) AS BIGINT)
           AS min_d2
FROM hubs LEFT JOIN pts
  ON (lat_md - hlat_md) * (lat_md - hlat_md)
     + (lon_md - hlon_md) * (lon_md - hlon_md)
     <= {_SPATIAL_R_MD} * {_SPATIAL_R_MD}
GROUP BY n_nationkey, n_name
"""


@register(
    "join_spatial_grid",
    _SPATIAL_ORACLE,
    doc="Radius join: customers within R of each hub, joined through "
    "grid cells of side R — each point lands in ONE cell, each hub "
    "probes its 3x3 neighbourhood (a superset of the R-ball), and the "
    "exact integer distance predicate prunes the candidates. The "
    "oracle states the same result as a plain cross join; the Spark "
    "plan never forms it — candidate pairs are bounded by cell "
    "occupancy, the scale difference between 'works' and 'melts' on a "
    "planetary point set. Hub cells broadcast; counts and min-d² are "
    "exact BIGINTs.",
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    R = _SPATIAL_R_MD
    # cast to long BEFORE multiplying: c_custkey * 104729 overflows int32
    # past ~20k customers (sf>=1); DuckDB's INTEGER multiply would error
    # there too, so the oracle carries the same cast.
    ck = F.col("c_custkey").cast("long")
    pts = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((ck * 7919) % 120000).alias("lat_md"),
        ((ck * 104729) % 340000).alias("lon_md"),
    ).withColumn("cx", F.expr(f"lat_md div {R}")).withColumn(
        "cy", F.expr(f"lon_md div {R}")
    )
    hubs = t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        ((F.col("n_nationkey") * 9973) % 120000).alias("hlat_md"),
        ((F.col("n_nationkey") * 31337) % 340000).alias("hlon_md"),
    )
    probes = hubs.select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dx"),
    ).select(
        "*",
        F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])).alias("dy"),
    ).select(
        "n_nationkey", "n_name", "hlat_md", "hlon_md",
        (F.expr(f"hlat_md div {R}") + F.col("dx")).alias("cx"),
        (F.expr(f"hlon_md div {R}") + F.col("dy")).alias("cy"),
    )
    d2 = (
        (F.col("lat_md") - F.col("hlat_md"))
        * (F.col("lat_md") - F.col("hlat_md"))
        + (F.col("lon_md") - F.col("hlon_md"))
        * (F.col("lon_md") - F.col("hlon_md"))
    )
    hits = (
        pts.join(probes, ["cx", "cy"])
        .filter(d2 <= F.lit(R * R))
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("*").alias("n_within"),
            F.min(d2).cast("long").alias("min_d2"),
        )
    )
    # hubs with zero matches must still appear (LEFT JOIN semantics)
    return (
        hubs.select("n_nationkey", "n_name")
        .join(hits, ["n_nationkey", "n_name"], "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce(F.col("n_within"), F.lit(0)).cast("long").alias(
                "n_within"
            ),
            F.col("min_d2").cast("long").alias("min_d2"),
        )
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

_ABTEST_CONV_MIN = 95  # "converted" = made a purchase of at least this value
                       # (a bare any-purchase definition saturates: every
                       # synthetic user buys eventually, making p=1 and the
                       # pooled variance 0)

_ABTEST_ORACLE = f"""
WITH assign AS (
    SELECT user_id,
           user_id % 2 AS variant,
           MAX(CASE WHEN event_type = 'purchase'
                     AND value >= {_ABTEST_CONV_MIN} THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id
),
arms AS (
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(converted) AS BIGINT) AS x
    FROM assign GROUP BY variant
),
wide AS (
    SELECT
        MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
        MAX(CASE WHEN variant = 0 THEN x END) AS x_a,
        MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
        MAX(CASE WHEN variant = 1 THEN x END) AS x_b
    FROM arms
)
SELECT n_a, x_a, n_b, x_b,
       {fpq_sql('CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b', 9)}
           AS lift,
       CASE WHEN x_a + x_b = 0 OR x_a + x_b = n_a + n_b THEN NULL
       ELSE {fpq_sql(
        '(CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)'
        ' / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))'
        '        * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))'
        '        * (1.0 / n_a + 1.0 / n_b))', 9)}
       END AS zscore
FROM wide
"""


@register(
    "stats_ab_test",
    _ABTEST_ORACLE,
    doc="Two-proportion z-test on a deterministic 50/50 user split "
    "(user_id parity = the variant assignment a real experiment would "
    "hash): per-arm users and converters are exact integer aggregates, "
    "the pooled-variance z statistic is ONE closed-form double "
    "expression over those four integers (IEEE ops on identical "
    "operands are engine-identical; sqrt is correctly rounded), "
    "fixed-point quantized for the hash. The inferential-statistics "
    "readout every experimentation warehouse serves; user-cardinality "
    "aggregate then a 4-integer reduction — nothing scales with event "
    "volume past the first map-side combine.",
)
def stats_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") >= _ABTEST_CONV_MIN),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select((F.col("user_id") % 2).alias("variant"), "converted")
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").cast("long").alias("x")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    pa = F.col("x_a").cast("double") / F.col("n_a")
    pb = F.col("x_b").cast("double") / F.col("n_b")
    pp = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(
        pp * (1 - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    x_tot = F.col("x_a") + F.col("x_b")
    n_tot = F.col("n_a") + F.col("n_b")
    # guard the degenerate arms (p in {0,1} makes the pooled variance 0);
    # the ANSI session would otherwise raise DIVIDE_BY_ZERO
    zscore = F.when(
        (x_tot == 0) | (x_tot == n_tot), F.lit(None).cast("double")
    ).otherwise(fpq((pa - pb) / se, 9))
    return wide.select(
        "n_a", "x_a", "n_b", "x_b",
        fpq(pa - pb, 9).alias("lift"),
        zscore.alias("zscore"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy risk on quasi-identifiers)
# ---------------------------------------------------------------------------

_K_ANON_K = 5

_K_ANON_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
    FROM customer
),
g AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS k
    FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT c_nationkey, c_mktsegment, bal_bucket, CAST(k AS BIGINT) AS k
FROM g WHERE k < {_K_ANON_K}
"""


@register(
    "quality_k_anonymity",
    _K_ANON_ORACLE,
    doc="k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, account-balance bucket): every equivalence class "
    "smaller than k=5 is a re-identification risk the privacy review "
    "must see before the table ships. One hash aggregate at "
    "quasi-identifier cardinality, map-side combinable; the filter "
    "keeps only the risky classes, so output is small even when the "
    "input is not. The audit the PII scan suite (pii_scan_report, "
    "text_redact) does not cover: PII you created by grouping, not "
    "PII in the values.",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count("*").alias("k")
    )
    return g.filter(F.col("k") < _K_ANON_K)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (user retention with censoring)
# ---------------------------------------------------------------------------

_KM_ORACLE = f"""
WITH spans AS (
    SELECT user_id,
           MIN(CAST(ts AS DATE)) AS first_day,
           MAX(CAST(ts AS DATE)) AS last_day
    FROM events GROUP BY user_id
),
horizon AS (SELECT MAX(last_day) AS obs_end FROM spans),
lives AS (
    SELECT user_id,
           CAST(last_day - first_day AS BIGINT) AS t,
           CASE WHEN last_day < obs_end - 7 THEN 1 ELSE 0 END AS died
    FROM spans CROSS JOIN horizon
),
by_t AS (
    SELECT t,
           CAST(SUM(died) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS ending
    FROM lives GROUP BY t
),
risk AS (
    SELECT t, d,
           CAST(SUM(ending) OVER (
               ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW
           ) AS BIGINT) AS n_risk
    FROM by_t
),
terms AS (
    SELECT t, d, n_risk,
           CASE WHEN d > 0 AND d < n_risk THEN
               CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                          * 1e12 + 0.5) AS BIGINT)
           ELSE 0 END AS logterm_fp,
           CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS extinct
    FROM risk
),
curve AS (
    SELECT t, d, n_risk,
           CAST(SUM(logterm_fp) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumlog_fp,
           CAST(SUM(extinct) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_extinct
    FROM terms
)
SELECT t, d, n_risk,
       CASE WHEN n_extinct > 0 THEN CAST(0.0 AS DOUBLE)
       ELSE {fpq_sql('exp(CAST(cumlog_fp AS DOUBLE) / 1e12)', 9)}
       END AS survival
FROM curve WHERE d > 0
"""


@register(
    "surv_kaplan_meier",
    _KM_ORACLE,
    doc="Kaplan-Meier survival estimate of user lifetime (days between "
    "first and last event), right-censored at the observation horizon "
    "minus 7 days — the retention curve with the statistics done "
    "properly (censored users leave the risk set without counting as "
    "churn). The product-limit estimator is computed in log space with "
    "each ln(1 - d/n) term fixed-point quantized BEFORE the running "
    "sum (the agg_entropy rule), so the float product is order-"
    "independent; the risk set is a reverse cumulative count, one "
    "window over day-cardinality data. If the risk set ever dies out "
    "entirely the curve pins to exactly 0 from that point on.",
)
def surv_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    spans = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
    )
    horizon = spans.agg(F.max("last_day").alias("obs_end"))
    lives = spans.crossJoin(horizon).select(
        F.datediff("last_day", "first_day").cast("long").alias("t"),
        F.when(
            F.col("last_day") < F.date_sub(F.col("obs_end"), 7), 1
        ).otherwise(0).alias("died"),
    )
    by_t = lives.groupBy("t").agg(
        F.sum("died").cast("long").alias("d"),
        F.count("*").alias("ending"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = by_t.select(
        "t", "d", F.sum("ending").over(w_desc).cast("long").alias("n_risk")
    )
    logterm = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.floor(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk")
            )
            * F.lit(1e12)
            + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0))
    extinct = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.select(
        "t", "d", "n_risk",
        logterm.alias("logterm_fp"), extinct.alias("extinct"),
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = terms.select(
        "t", "d", "n_risk",
        F.sum("logterm_fp").over(w_asc).cast("long").alias("cumlog_fp"),
        F.sum("extinct").over(w_asc).cast("long").alias("n_extinct"),
    )
    survival = F.when(
        F.col("n_extinct") > 0, F.lit(0.0).cast("double")
    ).otherwise(fpq(F.exp(F.col("cumlog_fp").cast("double") / F.lit(1e12)), 9))
    return curve.filter(F.col("d") > 0).select(
        "t", "d", "n_risk", survival.alias("survival")
    )


# ---------------------------------------------------------------------------
# Count-min sketch (frequency estimation with bounded memory)
# ---------------------------------------------------------------------------

_CM_W = 512  # buckets per row
_CM_D = 4  # hash rows
_CM_K = 15  # verification probes (exact top-k tokens)


def _cm_bucket_sql(row: str, item: str) -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    return (
        f"{content_hash64_sql(f'CAST({row} AS VARCHAR) || :colon: || {item}')}"
        f" % {_CM_W}"
    ).replace(":colon:", "':'")


_CM_ORACLE = f"""
WITH toks AS (
    SELECT unnest(str_split(lower(text), ' ')) AS item FROM documents
),
tf AS (
    SELECT item, COUNT(*) AS exact_n FROM toks WHERE item <> ''
    GROUP BY item
),
topk AS (SELECT item, exact_n FROM tf ORDER BY exact_n DESC, item LIMIT {_CM_K}),
rows_ AS (SELECT unnest(range(0, {_CM_D})) AS r),
cells AS (
    SELECT r, {_cm_bucket_sql('r', 'item')} AS b, COUNT(*) AS cnt
    FROM toks CROSS JOIN rows_ WHERE item <> ''
    GROUP BY 1, 2
),
probes AS (
    SELECT t.item, t.exact_n, r.r, {_cm_bucket_sql('r.r', 't.item')} AS b
    FROM topk t CROSS JOIN rows_ r
)
SELECT p.item, p.exact_n,
       CAST(MIN(c.cnt) AS BIGINT) AS cm_est,
       CAST(MIN(c.cnt) AS BIGINT) - p.exact_n AS overcount
FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
GROUP BY p.item, p.exact_n
"""


@register(
    "agg_countmin_sketch",
    _CM_ORACLE,
    doc=f"Count-min sketch over document tokens: {_CM_D} md5-derived "
    f"hash rows x {_CM_W} buckets, built in ONE linear scan as a "
    "hash aggregate whose state is the fixed d*w cell grid — map-side "
    "combinable, so executor memory is constant no matter how many "
    "distinct tokens the corpus has (the property HLL gives "
    "cardinality and Misra-Gries gives top-k, here for point "
    "frequency). Estimates read min over rows of the probed cells; "
    f"the exact top-{_CM_K} token counts verify the one-sided error "
    "bound live: overcount >= 0 always, and smallness is the "
    "epsilon*N guarantee. Sketch and probes are broadcast-sized; "
    "nothing after the scan scales with corpus size.",
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("item"))
        .filter(F.col("item") != "")
    )
    tf = toks.groupBy("item").agg(F.count("*").alias("exact_n"))
    topk = tf.orderBy(F.col("exact_n").desc(), "item").limit(_CM_K)
    cells = countmin_cells(toks, "item", width=_CM_W, depth=_CM_D)
    est = countmin_estimate(cells, topk, "item", width=_CM_W, depth=_CM_D)
    return est.select(
        "item",
        "exact_n",
        "cm_est",
        (F.col("cm_est") - F.col("exact_n")).alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U test (rank-based two-sample inference)
# ---------------------------------------------------------------------------
#
# Compares the `value` distribution of click vs view events without any
# normality assumption. Values quantize to exact integer cents, ranks
# come from ONE window pass over the distinct-cents aggregate (average
# ranks for ties, carried in doubled integer space so nothing is ever
# fractional until the final closed-form), and the z statistic uses the
# tie-corrected variance — every input to the double math is an exact
# BIGINT both engines agree on. Rank-sum products accumulate in
# DECIMAL(38,0) (exact; int64 would overflow near 1e19 at extreme
# scale, and ANSI Spark would error loudly rather than wrap).

_MWU_ORACLE = f"""
WITH g AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
    FROM events WHERE event_type IN ('click', 'view')
),
byv AS (
    SELECT cents, CAST(SUM(is1) AS BIGINT) AS c1, COUNT(*) AS ct
    FROM g GROUP BY cents
),
w AS (
    SELECT cents, c1, ct,
           COALESCE(SUM(ct) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING
           ), 0) AS cb
    FROM byv
),
a AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(ct - c1) AS BIGINT) AS n2,
           CAST(SUM(CAST(c1 AS DECIMAL(38,0)) * (2 * cb + ct + 1))
                AS BIGINT) AS r1_x2,
           CAST(SUM(CAST(ct AS DECIMAL(38,0)) * ct * ct - ct)
                AS BIGINT) AS tie_term
    FROM w
)
SELECT n1, n2,
       CAST((r1_x2 - n1 * (n1 + 1)) AS DOUBLE) / 2 AS u1,
       {fpq_sql(
        '(CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2'
        ' - CAST(n1 AS DOUBLE) * n2 / 2)'
        ' / sqrt(CAST(n1 AS DOUBLE) * n2 / 12'
        '        * (n1 + n2 + 1'
        '           - CAST(tie_term AS DOUBLE)'
        '             / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))', 9)}
           AS zscore
FROM a
"""


@register(
    "stats_mannwhitney_u",
    _MWU_ORACLE,
    doc="Mann-Whitney U test of click vs view purchase values: the "
    "nonparametric location test (no normality assumed) every "
    "experimentation readout needs when the metric is skewed. Ranks "
    "with average-tie handling are computed over the DISTINCT-cents "
    "aggregate (one window at distinct-value cardinality, not row "
    "cardinality — at 100 TB the row count never enters a window), "
    "doubled so tie-averages stay integers; U and the tie-corrected "
    "z are closed-form doubles over four exact BIGINTs.",
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is1"
            ),
        )
    )
    byv = g.groupBy("cents").agg(
        F.sum("is1").cast("long").alias("c1"), F.count("*").alias("ct")
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w = byv.select(
        "cents", "c1", "ct",
        F.coalesce(F.sum("ct").over(w_cum), F.lit(0)).alias("cb"),
    )
    a = w.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).cast("long").alias("n2"),
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("cb") + F.col("ct") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
        F.sum(
            F.col("ct").cast("decimal(38,0)") * F.col("ct") * F.col("ct")
            - F.col("ct")
        )
        .cast("long")
        .alias("tie_term"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    n = F.col("n1") + F.col("n2")
    u1 = (F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)).cast(
        "double"
    ) / 2
    sigma = F.sqrt(
        n1d * n2d / 12
        * (
            (n + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return a.select(
        "n1", "n2",
        u1.alias("u1"),
        fpq((u1 - n1d * n2d / 2) / sigma, 9).alias("zscore"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (distribution drift test)
# ---------------------------------------------------------------------------

_KS_ORACLE = f"""
WITH g AS (
    SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
    FROM events WHERE event_type IN ('click', 'view')
),
byv AS (
    SELECT cents, CAST(SUM(is1) AS BIGINT) AS c1, COUNT(*) AS ct
    FROM g GROUP BY cents
),
tot AS (
    SELECT CAST(SUM(c1) AS BIGINT) AS n1,
           CAST(SUM(ct - c1) AS BIGINT) AS n2
    FROM byv
),
cum AS (
    SELECT CAST(SUM(c1) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f1,
           CAST(SUM(ct - c1) OVER (
               ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS f2
    FROM byv
)
SELECT n1, n2,
       CAST(MAX(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
       {fpq_sql(
        'CAST(MAX(abs(f1 * n2 - f2 * n1)) AS DOUBLE)'
        ' / (CAST(n1 AS DOUBLE) * n2)', 9)} AS d_stat
FROM cum CROSS JOIN tot
GROUP BY n1, n2
"""


@register(
    "stats_ks_two_sample",
    _KS_ORACLE,
    doc="Two-sample Kolmogorov-Smirnov statistic between click and "
    "view value distributions: D = max |F1 - F2| over the empirical "
    "CDFs. The maximized quantity is the EXACT integer "
    "|F1*n2 - F2*n1| (cross-multiplied to avoid comparing derived "
    "doubles), so the argmax is engine-identical; only the final "
    "normalization is floating point. CDFs come from one cumulative "
    "window over the distinct-cents aggregate — distribution drift "
    "testing at scan cost, the continuous-valued complement to the "
    "token-level L1 drift of corpus_token_drift.",
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .select(
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias(
                "is1"
            ),
        )
    )
    byv = g.groupBy("cents").agg(
        F.sum("is1").cast("long").alias("c1"), F.count("*").alias("ct")
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = byv.select(
        F.sum("c1").over(w_cum).cast("long").alias("f1"),
        F.sum(F.col("ct") - F.col("c1")).over(w_cum).cast("long").alias(
            "f2"
        ),
    )
    tot = byv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("ct") - F.col("c1")).cast("long").alias("n2"),
    )
    d_abs = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        cum.join(tot)
        .groupBy("n1", "n2")
        .agg(
            F.max(d_abs).cast("long").alias("d_num"),
            fpq(
                F.max(d_abs).cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                9,
            ).alias("d_stat"),
        )
    )


# ---------------------------------------------------------------------------
# Population Stability Index (ML feature-drift monitoring)
# ---------------------------------------------------------------------------

_PSI_BIN_W = 40000  # order-price bin width; LEAST caps into 10 bins
_PSI_CUT = "DATE '1995-01-01'"  # baseline = orders before, current = after

_PSI_ORACLE = f"""
WITH b AS (
    SELECT CASE WHEN o_orderdate < {_PSI_CUT} THEN 0 ELSE 1 END AS half,
           LEAST(CAST(floor(o_totalprice / {_PSI_BIN_W}) AS BIGINT), 9)
               AS bin
    FROM orders
),
c AS (
    SELECT bin,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cur
    FROM b GROUP BY bin
),
tot AS (
    SELECT bin, n_base, n_cur,
           CAST(SUM(n_base + 1) OVER () AS BIGINT) AS nb_tot,
           CAST(SUM(n_cur + 1) OVER () AS BIGINT) AS nc_tot
    FROM c
),
terms AS (
    SELECT bin, n_base, n_cur,
           CAST(floor(
               (CAST(n_base + 1 AS DOUBLE) / nb_tot
                - CAST(n_cur + 1 AS DOUBLE) / nc_tot)
               * ln(CAST(n_base + 1 AS DOUBLE) * nc_tot
                    / (CAST(n_cur + 1 AS DOUBLE) * nb_tot))
               * 1e12 + 0.5) AS BIGINT) AS term_fp
    FROM tot
)
SELECT bin, n_base, n_cur,
       {fpq_sql('CAST(term_fp AS DOUBLE) / 1e12', 9)} AS psi_term,
       {fpq_sql('CAST(SUM(term_fp) OVER () AS DOUBLE) / 1e12', 9)}
           AS psi_total
FROM terms
"""


@register(
    "drift_psi",
    _PSI_ORACLE,
    doc="Population Stability Index of the order-price distribution, "
    "pre-1995 baseline vs current — the standard production-ML gate "
    "for 'has this feature drifted enough to retrain' (PSI > 0.2 = "
    "act). Ten fixed price bins, add-one smoothing so empty bins "
    "stay finite, each (p-q)*ln(p/q) term fixed-point quantized "
    "BEFORE the total (the agg_entropy rule: float sums only over "
    "already-quantized integers, so summation order cannot matter). "
    "One hash aggregate at bin cardinality plus a 10-row window — "
    "scan-bound at any scale.",
)
def drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderdate") < F.lit("1995-01-01").cast("date"), 0)
        .otherwise(1)
        .alias("half"),
        F.least(
            F.floor(F.col("o_totalprice") / _PSI_BIN_W).cast("long"),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_base"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_cur"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = c.select(
        "bin", "n_base", "n_cur",
        F.sum(F.col("n_base") + 1).over(w_all).cast("long").alias("nb_tot"),
        F.sum(F.col("n_cur") + 1).over(w_all).cast("long").alias("nc_tot"),
    )
    pb = (F.col("n_base") + 1).cast("double") / F.col("nb_tot")
    pc = (F.col("n_cur") + 1).cast("double") / F.col("nc_tot")
    lr = F.log(
        (F.col("n_base") + 1).cast("double") * F.col("nc_tot")
        / ((F.col("n_cur") + 1).cast("double") * F.col("nb_tot"))
    )
    terms = tot.select(
        "bin", "n_base", "n_cur",
        F.floor((pb - pc) * lr * F.lit(1e12) + F.lit(0.5))
        .cast("long")
        .alias("term_fp"),
    )
    return terms.select(
        "bin", "n_base", "n_cur",
        fpq(F.col("term_fp").cast("double") / F.lit(1e12), 9).alias(
            "psi_term"
        ),
        fpq(
            F.sum("term_fp").over(w_all).cast("double") / F.lit(1e12), 9
        ).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# Adam7-interlaced 16-bit PNG decode — driver-level evidence for the r8
# extension of the PNG codec (operators/multimodal.py)
# ---------------------------------------------------------------------------

_MM_ADAM7_ORACLE = """
SELECT doc_id,
       'png-adam7-16bit' AS format,
       CAST(1 + doc_id % 19 AS INT) AS width,
       CAST(1 + doc_id % 11 AS INT) AS height,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_interlaced",
    _MM_ADAM7_ORACLE,
    doc="REAL Adam7-interlaced 16-bit PNG decode (multimodal.py): "
    "seven sub-images unfiltered independently and scattered into the "
    "full-resolution lattice, 16-bit samples rejoined from big-endian "
    "byte pairs after unfiltering. Dims 1..19 x 1..11 sweep every "
    "empty-pass combination (passes vanish when a dimension is smaller "
    "than the pass origin — the classic off-by-one nest). exact_match "
    "asserts the decoded grid is BIT-IDENTICAL to the synthesized "
    "uint16 pixels. One mapInPandas stage, no shuffle, embarrassingly "
    "parallel.",
)
def mm_decode_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.multimodal import (
            decode_png,
            encode_png,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 1 + d % 19, 1 + d % 11
                yy, xx = np.mgrid[0:h, 0:w]
                px = np.stack(
                    [
                        (xx * 257 + d) % 65536,
                        (yy * 4099 + d * 31) % 65536,
                        (xx * yy * 7 + d * 101) % 65536,
                    ],
                    axis=2,
                ).astype(np.uint16)
                ww, hh, out = decode_png(
                    encode_png(px, interlace=1, depth=16)
                )
                rows.append(
                    {
                        "doc_id": d,
                        "format": "png-adam7-16bit",
                        "width": np.int32(ww),
                        "height": np.int32(hh),
                        "exact_match": bool(np.array_equal(out, px)),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "exact_match boolean",
    )


# ---------------------------------------------------------------------------
# BPE subword segmentation with a pinned learned merge table
# ---------------------------------------------------------------------------
#
# The APPLY side of tokenizer training: operators/bpe.py learns merges
# as an iterative Spark job (argmax recursion — engine+tests with a
# pure-Python reference oracle, like PageRank); this query applies a
# PINNED merge list learned from this corpus (bpe_train, n_merges=12)
# and reports the top subwords. Segmentation is expressed as ordered
# delimiter-string replaces — scan-replace has identical non-
# overlapping left-to-right semantics in Spark and DuckDB, so the
# oracle is exact. Replaces run at VOCABULARY cardinality (words are
# aggregated first, counts multiplied back), the 100 TB shape: corpus
# size enters one hash aggregate, nothing else.

_BPE_MERGES = [
    ("e", "r"), ("e", "▁"), ("n", "▁"), ("er", "▁"),
    ("o", "w"), ("ow", "▁"), ("o", "r"), ("s", "t"),
    ("h", "▁"), ("a", "t"), ("l", "u"), ("i", "n"),
]
_BPE_TOPK = 30


def _bpe_seg_sql() -> str:
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_sql,
    )

    s = bpe_segment_sql("w", _BPE_MERGES)
    return f"""
WITH words AS (
    SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(str_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> '' GROUP BY w
),
seg AS (SELECT {s} AS s, n FROM words),
subs AS (
    SELECT unnest(str_split(s, ' ')) AS subword, n FROM seg
)
SELECT subword, CAST(SUM(n) AS BIGINT) AS cnt
FROM subs WHERE subword <> ''
GROUP BY subword
ORDER BY cnt DESC, subword
LIMIT {_BPE_TOPK}
"""


@register(
    "tok_bpe_segment",
    _bpe_seg_sql(),
    doc="BPE subword segmentation of the corpus under a pinned "
    "12-merge table learned by operators/bpe.py (the iterative "
    "trainer itself is engine+tests against a pure-Python reference "
    "— its argmax recursion is not one SQL query). Words aggregate "
    "to vocabulary cardinality FIRST; the ordered merge replaces and "
    "subword explode run over distinct words with counts multiplied "
    "back, so the corpus is touched exactly once. Top subwords "
    "tie-broken (cnt DESC, subword) for a stable hash.",
)
def tok_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    from evolution_data_warehouse_spark.operators.bpe import (
        bpe_segment_expr,
    )

    s = bpe_segment_expr(F.col("w"), _BPE_MERGES)
    subs = (
        words.select(s.alias("s"), "n")
        .select(F.explode(F.split(F.col("s"), " ")).alias("subword"), "n")
        .filter(F.col("subword") != "")
    )
    return (
        subs.groupBy("subword")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "subword")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# Fault-tolerant image decode with deliberate corruption (quarantine path)
# ---------------------------------------------------------------------------

_MM_TOL_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'error' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS VARCHAR)
            ELSE CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                 ELSE 'png' END END AS format,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(4 + doc_id % 13 AS INT) END AS width,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS INT)
            ELSE CAST(3 + doc_id % 7 AS INT) END AS height,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((3 + doc_id % 7) * ((4 + doc_id % 13)
                 * (3 + doc_id % 13)) // 2 AS BIGINT) END AS sum_r,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((4 + doc_id % 13) * ((3 + doc_id % 7)
                 * (2 + doc_id % 7)) // 2 AS BIGINT) END AS sum_g,
       CASE WHEN doc_id % 4 = 0 THEN CAST(NULL AS BIGINT)
            ELSE CAST((4 + doc_id % 13) * (3 + doc_id % 7)
                 * (doc_id % 256) AS BIGINT) END AS sum_b
FROM documents
"""


@register(
    "mm_decode_tolerant",
    _MM_TOL_ORACLE,
    doc="Fault-tolerant image decode — the quarantine path a 100 TB "
    "media corpus REQUIRES: every 4th payload is deliberately "
    "truncated to half its bytes, and the per-row try in "
    "decode_image_tolerant_batch (multimodal.py) turns each broken "
    "object into status='error' with NULL features instead of a task "
    "failure that would kill the job after retries. Healthy rows "
    "decode to the same closed-form channel sums mm_decode_real "
    "verifies; the hardened ValueError fuzz contract is what makes "
    "the narrow except clause sound (a genuine code bug still fails "
    "loudly). Same two narrow mapInPandas stages, no shuffle.",
)
def mm_decode_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.multimodal import (
        decode_documents_tolerant,
    )

    return decode_documents_tolerant(t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Real video demux: AVI (RIFF) MJPEG container → sampled-frame decode
# ---------------------------------------------------------------------------

_MM_VIDEO_ORACLE = """
SELECT doc_id,
       CAST(2 + doc_id % 5 AS INT) AS n_frames,
       CAST((2 + doc_id % 5 + 1) // 2 AS INT) AS n_sampled,
       CAST(8 + doc_id % 9 AS INT) AS width,
       CAST(8 + doc_id % 5 AS INT) AS height,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_video_frames",
    _MM_VIDEO_ORACLE,
    doc="REAL video demux (operators/video.py): each document becomes "
    "an AVI-MJPEG container (RIFF hdrl/avih/strh/strf + word-aligned "
    "00dc movi chunks + idx1), demuxed back and frame-sampled at "
    "stride 2. exact_match asserts the strong contract end-to-end: "
    "every sampled frame's bytes come back untouched from the movi "
    "walk (byte equality — which makes its decode trivially identical "
    "to the standalone JPEG's), ONE decode per sampled frame "
    "(operators/jpeg.py) confirms the geometry, and the avih/strh "
    "header round-trips exactly. "
    "The scale shape is the point: demux is a cheap byte walk, the "
    "expensive JPEG decode runs ONLY on sampled frames — one narrow "
    "mapInPandas stage, Arrow-batched, zero shuffle, embarrassingly "
    "parallel across a 100 TB corpus.",
)
def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_mux_sample(batches):
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )
        from evolution_data_warehouse_spark.operators.video import (
            encode_avi_mjpeg,
            parse_avi_mjpeg,
        )

        # Fixture-synthesis cache: frame pixels depend only on
        # (w, h, k, d % 256) — ≤ 9·5·6·256 = 69,120 distinct JPEGs
        # (k ranges over 0..5 since n_frames = 2 + d % 5 ≤ 6)
        # versus one encode per (doc, frame). Caching the synthesis
        # (NOT the mux/demux/decode under test) is the same
        # per-batch-frame-cache discipline that fixed
        # mm_video_curation in r10; profiled r11: encode was 68% of
        # the leg, and a task-lifetime cache converts most of it to
        # dict hits once the (d%9, d%5, d%256) cycle wraps.
        frame_cache: dict[tuple[int, int, int, int], bytes] = {}

        def synth_frame(w: int, h: int, k: int, blue: int) -> bytes:
            key = (w, h, k, blue)
            got = frame_cache.get(key)
            if got is None:
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
                px[:, :, 1] = (k * 16) % 256
                px[:, :, 2] = blue
                got = frame_cache[key] = encode_jpeg(px)
            return got

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n_frames = 2 + d % 5
                w, h = 8 + d % 9, 8 + d % 5
                jpegs = [
                    synth_frame(w, h, k, d % 256) for k in range(n_frames)
                ]
                avi = encode_avi_mjpeg(jpegs, w, h, fps=12)
                parsed = parse_avi_mjpeg(avi)  # one demux, sampled below
                sampled = list(enumerate(parsed["frames"]))[::2]
                ok = (
                    parsed["width"] == w
                    and parsed["height"] == h
                    and parsed["fps"] == 12
                    and len(parsed["frames"]) == n_frames
                )
                for idx, frame in sampled:
                    # byte equality first — once the demuxed bytes ARE
                    # the muxed JPEG, ONE decode pins the pixel claim
                    ok = ok and frame == jpegs[idx]
                    fw, fh, _fpx = decode_jpeg(frame)
                    ok = ok and (fw, fh) == (w, h)
                rows.append(
                    {
                        "doc_id": d,
                        "n_frames": np.int32(n_frames),
                        "n_sampled": np.int32(len(sampled)),
                        "width": np.int32(w),
                        "height": np.int32(h),
                        "exact_match": bool(ok),
                    }
                )
            yield pd.DataFrame(rows)

    ids = cpu_repartition(t(spark, sf_dir, "documents").select("doc_id"))
    return ids.mapInPandas(
        synth_mux_sample,
        "doc_id long, n_frames int, n_sampled int, width int, "
        "height int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# KMV distinct-intersection sketch (segment-overlap cardinality)
# ---------------------------------------------------------------------------
#
# The set operation HLL cannot do: estimate |A INTERSECT B| distinct
# keys from two bounded sketches (k minimum 60-bit md5 hashes per
# segment — operators/sketches.py::kmv_overlap). Deterministic by
# construction (content_hash64 on both engines), so the ESTIMATOR
# itself is oracle-checked, not just row counts.

_KMV_K = 256
_KMV_SEG_A = "1-URGENT"
_KMV_SEG_B = "2-HIGH"
from evolution_data_warehouse_spark.operators.dedup import (  # noqa: E402
    content_hash64_sql as _ch64_sql,
)
from evolution_data_warehouse_spark.operators.sketches import (  # noqa: E402
    KMV_SPACE as _KMV_M,
)

_KMV_M_DBL = repr(float(_KMV_M))
# Same hash expression the Spark side gets from content_hash64 — one
# definition in operators/dedup.py, mirrored here through its _sql twin
# so a future hash-width change cannot desynchronize the oracle.
_KMV_HV_SQL = _ch64_sql("'kmv:' || CAST(o_custkey AS VARCHAR)")

_KMV_ORACLE = f"""
WITH pts AS (
    SELECT DISTINCT o_orderpriority AS seg,
           {_KMV_HV_SQL} AS hv
    FROM orders
    WHERE o_orderpriority IN ('{_KMV_SEG_A}', '{_KMV_SEG_B}')
),
sk AS (
    SELECT seg, hv FROM (
        SELECT seg, hv,
               row_number() OVER (PARTITION BY seg ORDER BY hv) AS rn
        FROM pts
    ) WHERE rn <= {_KMV_K}
),
st AS (
    SELECT
        MAX(CASE WHEN seg = '{_KMV_SEG_A}' THEN n_kept END) AS n_kept_a,
        MAX(CASE WHEN seg = '{_KMV_SEG_A}' THEN kth END) AS kth_a,
        MAX(CASE WHEN seg = '{_KMV_SEG_B}' THEN n_kept END) AS n_kept_b,
        MAX(CASE WHEN seg = '{_KMV_SEG_B}' THEN kth END) AS kth_b
    FROM (
        SELECT seg, COUNT(*) AS n_kept, MAX(hv) AS kth FROM sk GROUP BY seg
    )
),
th AS (
    SELECT *,
           LEAST(
               CASE WHEN n_kept_a < {_KMV_K} THEN {_KMV_M} ELSE kth_a END,
               CASE WHEN n_kept_b < {_KMV_K} THEN {_KMV_M} ELSE kth_b END
           ) AS theta
    FROM st
),
p AS (
    SELECT COUNT(*) AS p_common
    FROM (SELECT hv FROM sk WHERE seg = '{_KMV_SEG_A}') a
    JOIN (SELECT hv FROM sk WHERE seg = '{_KMV_SEG_B}') b USING (hv)
    CROSS JOIN th
    WHERE hv < theta
)
SELECT CAST({_KMV_K} AS INT) AS k,
       CAST(n_kept_a AS BIGINT) AS n_kept_a,
       CAST(n_kept_b AS BIGINT) AS n_kept_b,
       {fpq_sql(
           f"CASE WHEN n_kept_a < {_KMV_K} THEN CAST(n_kept_a AS DOUBLE) "
           f"ELSE {float(_KMV_K - 1)!r} * {_KMV_M_DBL} "
           f"/ CAST(kth_a AS DOUBLE) END", 4)} AS est_distinct_a,
       {fpq_sql(
           f"CASE WHEN n_kept_b < {_KMV_K} THEN CAST(n_kept_b AS DOUBLE) "
           f"ELSE {float(_KMV_K - 1)!r} * {_KMV_M_DBL} "
           f"/ CAST(kth_b AS DOUBLE) END", 4)} AS est_distinct_b,
       CAST(p_common AS BIGINT) AS p_common,
       {fpq_sql(
           f"CAST(p_common AS DOUBLE) * {_KMV_M_DBL} "
           f"/ CAST(theta AS DOUBLE)", 4)} AS est_intersection
FROM th CROSS JOIN p
"""


@register(
    "agg_kmv_overlap",
    _KMV_ORACLE,
    doc="KMV (k-minimum-values) distinct sketch with the set operation "
    "HLL lacks: |A INTERSECT B| between two order-priority segments, "
    "estimated from 256 minimum 60-bit md5 hashes per segment "
    "(Bar-Yossef 2002 / Beyer 2007; operators/sketches.py::"
    "kmv_overlap). The rank filter compiles to WindowGroupLimit, so "
    "every map task ships at most k rows per segment — O(k) sketch "
    "state at any corpus size; everything past the build is "
    "model-sized (<= 2k rows) with the scalar threshold on a 1-row "
    "broadcast. A below-k segment gets its EXACT distinct count (the "
    "intersection is exact only when both sides are below k). "
    "Hashing is content_hash64 on both engines, so the "
    "estimator itself hash-matches the oracle, not just counts.",
)
def agg_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.sketches import (
        kmv_overlap,
    )

    raw = kmv_overlap(
        t(spark, sf_dir, "orders"),
        "o_orderpriority", "o_custkey",
        _KMV_SEG_A, _KMV_SEG_B, _KMV_K,
    )
    return raw.select(
        "k", "n_kept_a", "n_kept_b",
        fpq(F.col("raw_est_a"), 4).alias("est_distinct_a"),
        fpq(F.col("raw_est_b"), 4).alias("est_distinct_b"),
        "p_common",
        fpq(F.col("raw_est_intersection"), 4).alias("est_intersection"),
    )


# ---------------------------------------------------------------------------
# span-level exact-substring dedup (Lee et al. 2022, window-hash shape)
# ---------------------------------------------------------------------------

_SPAN_W = 5

_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents),
wins AS (
    SELECT doc_id, len(tk) AS n_tokens, CAST(i AS BIGINT) AS pos,
           {_ch64_sql(f"array_to_string(tk[i:i+{_SPAN_W - 1}], ' ')")} AS h
    FROM toks, LATERAL unnest(range(1, len(tk) - {_SPAN_W} + 2)) t(i)
    WHERE len(tk) >= {_SPAN_W}
),
dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
d AS (SELECT w.doc_id, w.n_tokens, w.pos FROM wins w JOIN dup USING (h)),
isl0 AS (
    SELECT doc_id, n_tokens, pos,
           MAX(pos + {_SPAN_W} - 1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM d
),
isl AS (
    SELECT doc_id, n_tokens, pos,
           SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM isl0
),
spans AS (
    SELECT doc_id, ANY_VALUE(n_tokens) AS n_tokens, island,
           COUNT(*) AS n_windows,
           MIN(pos) AS span_start,
           MAX(pos) + {_SPAN_W} - 1 AS span_end
    FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(ANY_VALUE(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_windows) AS BIGINT) AS n_dup_windows,
       CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
       CAST(SUM(span_end - span_start + 1) AS BIGINT) AS dup_tokens
FROM spans GROUP BY doc_id
"""


@register(
    "dedup_substring_spans",
    _SPAN_ORACLE,
    doc="Span-level exact-substring dedup (the window-hash reshaping of "
    "Lee et al. 2022's suffix-array method; operators/dedup.py::"
    "window_spans): every 5-token sliding window is 60-bit-hashed, a "
    "window duplicated >= 2 times corpus-wide marks its positions, and "
    "a per-document gaps-and-islands pass merges overlapping windows "
    "into maximal spans — the output says WHICH token ranges to cut "
    "(doc-level Jaccard/minhash only say which docs look alike). "
    "All-integer output, so exactly engine-reproducible. Strictly "
    "linear: explode -> hash aggregate -> join back on the hash — the "
    "corpus is never self-joined, and the island sort runs only over "
    "the duplicated windows (a few percent of all windows on real "
    "corpora). The reference has no substring-level operator at all "
    "(its dedup is row-level DISTINCT, transformation/nettoyage.py).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import window_spans

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("tk")
    )
    return window_spans(docs, w=_SPAN_W)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup over the embedding column
# ---------------------------------------------------------------------------

_SEM_TAU = 0.25  # epsilon-neighborhood threshold, calibrated to the
# synthetic corpus (near-random vectors: within-label cosine tops out
# ~0.47, so 0.25 marks the top ~2% of pairs as semantic duplicates;
# real-embedding deployments run 0.9+)

_SEM_DIM = 64


def _sem_oracle() -> str:
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )
    from evolution_data_warehouse_spark.operators.similarity import (
        DEFAULT_MAX_CLUSTER,
    )

    cap = DEFAULT_MAX_CLUSTER
    sub_hash = content_hash64_sql("CAST(cc.vec_id AS VARCHAR)")
    csum = ", ".join(
        f"CAST(SUM(CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1e12) AS "
        f"BIGINT)) AS BIGINT) AS c{i}"
        for i in range(1, _SEM_DIM + 1)
    )
    vnorm = " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE) * CAST(embedding[{i}] AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    cnorm = " + ".join(
        f"CAST(c.c{i} AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    dot_vc = " + ".join(
        f"CAST(e.embedding[{i}] AS DOUBLE) * CAST(c.c{i} AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    dot_ab = " + ".join(
        f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
        for i in range(1, _SEM_DIM + 1)
    )
    return f"""
WITH cent AS (SELECT label, {csum} FROM embeddings GROUP BY label),
e AS (SELECT vec_id, label, embedding, sqrt({vnorm}) AS norm
      FROM embeddings),
cc AS (
    SELECT e.vec_id, e.label, e.embedding, e.norm,
           ({dot_vc}) / NULLIF(e.norm * sqrt({cnorm}), 0.0) AS cc
    FROM e JOIN cent c ON e.label = c.label
),
cnt AS (SELECT label, COUNT(*) AS cl_n FROM cc GROUP BY label),
-- the engine's default-on cluster-size guard, modeled exactly: above
-- DEFAULT_MAX_CLUSTER members a cluster sub-splits by the md5-based
-- content hash of the id into ceil(n/cap) slices, and only same-slice
-- pairs are compared (operators/similarity.py::semantic_dedup)
g AS (
    SELECT cc.*,
           {sub_hash} % ((cnt.cl_n + {cap - 1}) // {cap}) AS sub
    FROM cc JOIN cnt ON cc.label = cnt.label
),
nb AS (
    SELECT a.vec_id,
           COUNT(*) FILTER (WHERE (b.cc < a.cc)
               OR (b.cc = a.cc AND b.vec_id < a.vec_id)) AS n_better
    FROM g a JOIN g b ON a.label = b.label AND a.sub = b.sub
        AND a.vec_id <> b.vec_id
    WHERE ({dot_ab}) / NULLIF(a.norm * b.norm, 0.0) >= {_SEM_TAU}
    GROUP BY a.vec_id
)
SELECT c.vec_id, c.label,
       {fpq_sql('c.cc', 9)} AS cent_cos,
       CAST(COALESCE(nb.n_better, 0) AS BIGINT) AS n_better_neighbors,
       COALESCE(nb.n_better, 0) > 0 AS removed
FROM cc c LEFT JOIN nb ON nb.vec_id = c.vec_id
"""


@register(
    "sim_semantic_dedup",
    _sem_oracle(),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023; operators/"
    "similarity.py::semantic_dedup): within each cluster (the label "
    "column stands in for the upstream k-means assignment), vectors "
    "closer than tau in cosine form an epsilon-neighborhood and only "
    "the member farthest from the cluster centroid survives — the "
    "paper's keep-low-centroid-similarity rule as a deterministic "
    "pairwise rank (centroid-cosine ASC, id ASC), not an "
    "order-dependent greedy sweep. Centroids are fixed-point "
    "(floor(v*1e12) int64 sums), so exact under any partitioning; "
    "cosine folds are sequential and oracle-matchable. The only "
    "quadratic term is the within-cluster pair stage, bounded two "
    "ways: SemDeDup grows CLUSTER COUNT with the corpus, and (r9) the "
    "engine's default-on max_cluster guard sub-splits any oversize "
    "cluster by an md5-based id hash — modeled EXACTLY in this oracle "
    "(the g CTE), so the query stays scale-independent even on a "
    "degenerate clustering. r15: the guarded pair stage runs as one "
    "numpy applyInPandas group per bounded slice with the fold's "
    "exact addition order (np.add.accumulate, 0.0-seeded) — "
    "bit-identical output (exceptAll-proven at sf0.1/sf1 plus a "
    "JVM-vs-numpy differential test on NULL/NaN/tie edges), sf1 "
    "5.83 s -> 2.32 s, the 17M-pair interpreted-HOF cosine stage "
    "(111.8 s executorRunTime) gone from the plan.",
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import (
        semantic_dedup,
    )

    # Spread to core width before the quadratic within-cluster pair
    # join (r14 profile: the pair stage held 121.9 s of executorRunTime
    # in the 10 embeddings-scan tasks at sf1 — the checkpointed cc
    # relation inherits the scan's partitioning, so the spread must
    # happen on the input; no-op once the scan is wide).
    raw = semantic_dedup(
        cpu_repartition(t(spark, sf_dir, "embeddings"), "vec_id"), _SEM_TAU
    )
    return raw.select(
        "vec_id",
        "label",
        fpq(F.col("cent_cos"), 9).alias("cent_cos"),
        "n_better_neighbors",
        "removed",
    )


# ---------------------------------------------------------------------------
# GIF (LZW) decode — driver-level evidence for the codec family
# ---------------------------------------------------------------------------

_MM_GIF_ORACLE = """
SELECT doc_id,
       'gif' AS format,
       CAST(3 + doc_id % 14 AS INT) AS width,
       CAST(2 + doc_id % 9 AS INT) AS height,
       doc_id % 2 = 1 AS interlaced,
       CAST(1 AS INT) AS n_frames,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_decode_gif",
    _MM_GIF_ORACLE,
    doc="REAL GIF (LZW) decode, pure numpy (operators/gif.py): "
    "variable-width LZW with clear/EOI codes, the KwKwK case, width "
    "growth, deferred clear on a full table, 4-pass interlace, 89a "
    "GCE/comment extensions, and palette resolution — LZW being the "
    "one compression family the image suite lacked (JPEG: Huffman+DCT, "
    "PNG: DEFLATE, BMP: RLE). Per doc a deterministic paletted frame "
    "(palette size 2..256 sweeping every LZW root width) is encoded "
    "with the hermetic REAL-compression encoder and decoded back; "
    "exact_match demands bit-identical pixels, so any LZW "
    "desynchronization anywhere breaks the hash. The codec also "
    "decodes real third-party-encoder GIFs in tests (CPython idlelib "
    "icons), fencing off complementary encoder/decoder bugs. One "
    "narrow mapInPandas stage, no shuffle — embarrassingly parallel "
    "at corpus scale.",
)
def mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.gif import (
            decode_gif,
            encode_gif,
            gif_meta,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 3 + d % 14, 2 + d % 9
                npal = 2 + d % 255
                ii, jj = np.indices((h, w))
                idx = ((ii * 7 + jj * 3 + d) % npal).astype(np.uint8)
                k = np.arange(npal, dtype=np.int64)
                pal = np.stack(
                    [(k * 5 + d) % 256, (k * 11) % 256, (k * 17 + d) % 256],
                    axis=1,
                ).astype(np.uint8)
                data = encode_gif(
                    idx,
                    pal,
                    interlace=d % 2 == 1,
                    transparent=0 if d % 4 == 0 else None,
                    comment=f"doc {d}" if d % 5 == 0 else None,
                )
                ww, hh, px = decode_gif(data)
                meta = gif_meta(data)
                rows.append(
                    {
                        "doc_id": d,
                        "format": "gif",
                        "width": np.int32(ww),
                        "height": np.int32(hh),
                        "interlaced": bool(meta["interlaced"]),
                        "n_frames": np.int32(meta["n_frames"]),
                        "exact_match": bool(
                            (ww, hh) == (w, h)
                            and np.array_equal(px, pal[idx])
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "interlaced boolean, n_frames int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# blocklist phrase screening (safety-filter stage)
# ---------------------------------------------------------------------------

_BLOCKLIST: list[tuple[str, int]] = [
    ("vector", 1),
    ("stream", 1),
    ("slow filter", 2),
    ("big table", 2),
    ("fast merge batch", 3),
]

_BL_LENGTHS = sorted({len(p.split(" ")) for p, _ in _BLOCKLIST})
_BL_VALUES = ", ".join(
    "('" + p.replace("'", "''") + "', " + str(s) + ")" for p, s in _BLOCKLIST
)

_BLOCKLIST_ORACLE = f"""
WITH toks AS (SELECT doc_id, str_split(lower(text), ' ') AS tk FROM documents),
bl(phrase, severity) AS (VALUES {_BL_VALUES}),
g AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           array_to_string(tk[i:i+k-1], ' ') AS phrase
    FROM toks, (SELECT unnest({_BL_LENGTHS}) AS k) ks,
         LATERAL unnest(range(1, len(tk) - k + 2)) t(i)
    WHERE len(tk) >= k
),
m AS (SELECT g.doc_id, g.pos, g.phrase, severity FROM g JOIN bl USING (phrase))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases,
       CAST(MAX(severity) AS INT) AS max_severity,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CASE WHEN MAX(severity) >= 3 THEN 'drop'
            WHEN MAX(severity) = 2 THEN 'flag'
            ELSE 'note' END AS verdict
FROM m GROUP BY doc_id
"""


@register(
    "quality_blocklist_phrases",
    _BLOCKLIST_ORACLE,
    doc="Blocklist phrase screening (operators/quality.py::"
    "blocklist_matches) — the safety-filter stage every production "
    "training-corpus pipeline runs: a severity-weighted phrase "
    "dictionary of MIXED token lengths matched in one corpus pass, "
    "with token positions, aggregated into a per-document "
    "drop/flag/note verdict. Aho-Corasick output via a scale-shaped "
    "plan: per phrase-length k, the corpus explodes into k-token "
    "windows broadcast-joined against that length's (model-sized) "
    "dictionary — linear in corpus tokens x distinct lengths, the "
    "corpus itself is never shuffled, and the scan is pruned to the "
    "text column. The reference has no content-screening operator "
    "(its nettoyage is row-level DISTINCT + type casts).",
)
def quality_blocklist_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.quality import (
        blocklist_matches,
    )

    m = blocklist_matches(t(spark, sf_dir, "documents"), _BLOCKLIST)
    sev = F.max("severity")
    return m.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.countDistinct("phrase").cast("long").alias("n_phrases"),
        sev.cast("int").alias("max_severity"),
        F.min("pos").cast("long").alias("first_pos"),
        F.when(sev >= 3, "drop")
        .when(sev == 2, "flag")
        .otherwise("note")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# paletted / grayscale PNG + masked BMP decode — late-r8 codec evidence
# ---------------------------------------------------------------------------

_MM_PAL_ORACLE = """
SELECT doc_id,
       CAST(2 + doc_id % 13 AS INT) AS width,
       CAST(1 + doc_id % 8 AS INT) AS height,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 1
                 WHEN doc_id % 4 = 1 THEN 2
                 WHEN doc_id % 4 = 2 THEN 4
                 ELSE 8 END AS INT) AS depth,
       doc_id % 2 = 1 AS interlaced,
       TRUE AS paletted_match,
       TRUE AS gray_match,
       TRUE AS bitfields_match
FROM documents
"""


@register(
    "mm_decode_paletted",
    _MM_PAL_ORACLE,
    doc="Late-r8 codec-gate evidence: per document, (1) a paletted "
    "(color type 3) PNG at depth doc_id%4 -> 1/2/4/8 bits, "
    "Adam7-interlaced for odd ids, round-trips bit-exactly through "
    "the real decoder (operators/multimodal.py::decode_png — MSB-first "
    "packed samples, PLTE resolution); (2) a grayscale (type 0) PNG at "
    "the same depth round-trips through the spec's exact replication "
    "scale; (3) a 16-bpp BI_BITFIELDS BMP (565 masks) of the same "
    "pixels decodes to the closed-form mask-extraction model. "
    "Paletted is the dominant real-web-PNG shape; the real-encoder "
    "cross-check lives in test_real_file_cross_format_conformance "
    "(CPython's imghdr images: PNG/BMP/PPM channel sums identical). "
    "Same embarrassingly-parallel mapInPandas shape as every decode "
    "query.",
)
def mm_decode_paletted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.multimodal import (
            decode_bmp,
            decode_png,
            encode_png_gray,
            encode_png_indexed,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 2 + d % 13, 1 + d % 8
                depth = (1, 2, 4, 8)[d % 4]
                inter = d % 2
                n = 1 << depth
                ii, jj = np.indices((h, w))
                idx = ((ii * 5 + jj * 3 + d) % n).astype(np.uint8)
                k = np.arange(n, dtype=np.int64)
                pal = np.stack(
                    [(k * 7 + d) % 256, (k * 13) % 256, (k * 29 + d) % 256],
                    axis=1,
                ).astype(np.uint8)
                _, _, ppx = decode_png(
                    encode_png_indexed(idx, pal, depth=depth, interlace=inter)
                )
                pal_ok = np.array_equal(ppx, pal[idx])
                g = idx  # gray samples at the same depth
                scale = 255 // (n - 1)
                _, _, gpx = decode_png(
                    encode_png_gray(g, depth=depth, interlace=inter)
                )
                gray_ok = np.array_equal(
                    gpx, np.repeat((g * scale).astype(np.uint8)[:, :, None], 3, axis=2)
                )
                # 16-bpp 565 bitfields BMP of deterministic words
                words = ((ii * 131 + jj * 17 + d) % (1 << 16)).astype("<u2")
                stride = (2 * w + 3) // 4 * 4
                rowbuf = np.zeros((h, stride), dtype=np.uint8)
                rowbuf[:, : 2 * w] = words.view(np.uint8).reshape(h, 2 * w)
                bmp = (
                    _struct.pack("<2sIHHI", b"BM", 14 + 40 + 12 + stride * h, 0, 0, 14 + 40 + 12)
                    + _struct.pack(
                        "<IiiHHIIiiII",
                        40, w, h, 1, 16, 3, stride * h, 2835, 2835, 0, 0,
                    )
                    + _struct.pack("<III", 0xF800, 0x07E0, 0x001F)
                    + rowbuf[::-1].tobytes()
                )
                _, _, bpx = decode_bmp(bmp)
                wu = words.astype(np.uint32)
                exp = np.stack(
                    [
                        (((wu >> 11) & 0x1F) * 255 // 31).astype(np.uint8),
                        (((wu >> 5) & 0x3F) * 255 // 63).astype(np.uint8),
                        ((wu & 0x1F) * 255 // 31).astype(np.uint8),
                    ],
                    axis=2,
                )
                rows.append(
                    {
                        "doc_id": d,
                        "width": np.int32(w),
                        "height": np.int32(h),
                        "depth": np.int32(depth),
                        "interlaced": bool(inter),
                        "paletted_match": bool(pal_ok),
                        "gray_match": bool(gray_ok),
                        "bitfields_match": bool(np.array_equal(bpx, exp)),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, width int, height int, depth int, "
        "interlaced boolean, paletted_match boolean, gray_match boolean, "
        "bitfields_match boolean",
    )


# ---------------------------------------------------------------------------
# real WAV (RIFF-PCM) audio decode — the audio modality's codec evidence
# ---------------------------------------------------------------------------

_MM_WAV_ORACLE = """
SELECT doc_id,
       CAST(8000 + (doc_id % 5) * 1000 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS n_channels,
       CAST(1 + doc_id % 4 AS INT) AS sample_width,
       CAST(64 + doc_id % 193 AS INT) AS n_frames,
       TRUE AS exact_match
FROM documents
"""


@register(
    "mm_audio_wav",
    _MM_WAV_ORACLE,
    doc="REAL RIFF-WAVE PCM decode (operators/audio.py): chunk walking "
    "with word alignment, PCM + WAVE_FORMAT_EXTENSIBLE fmt parsing, "
    "and 8-bit-unsigned / 16/24/32-bit signed little-endian sample "
    "frames — the audio modality closed the way images (jpeg/png/bmp/"
    "gif) and video (AVI-MJPEG) were: a real parser under the "
    "ValueError-only quarantine contract, conformance pinned to real "
    "third-party encodes in tests (CPython's pluck-pcm{8,16,24,32}.wav "
    "decode byte-exactly against the stdlib wave module's independent "
    "parse). Per doc a deterministic PCM signal is encoded at width "
    "doc_id%4+1 and decoded back; exact_match demands bit-identical "
    "samples. One narrow mapInPandas stage, no shuffle.",
)
def mm_audio_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.audio import (
            decode_wav,
            encode_wav,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rate = 8000 + (d % 5) * 1000
                ch = 1 + d % 2
                width = 1 + d % 4
                n = 64 + d % 193
                hi = (1 << (8 * width - 1)) - 1
                i, c = np.indices((n, ch))
                s = ((i * 2311 + c * 757 + d * 13) % (2 * hi + 1)) - hi
                out = decode_wav(encode_wav(s, rate, width))
                rows.append(
                    {
                        "doc_id": d,
                        "sample_rate": np.int32(out["sample_rate"]),
                        "n_channels": np.int32(out["n_channels"]),
                        "sample_width": np.int32(out["sample_width"]),
                        "n_frames": np.int32(out["samples"].shape[0]),
                        "exact_match": bool(
                            np.array_equal(out["samples"], s)
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, sample_rate int, n_channels int, sample_width int, "
        "n_frames int, exact_match boolean",
    )


# ---------------------------------------------------------------------------
# WARC web-archive ingestion (Common Crawl layout) — source-format evidence
# ---------------------------------------------------------------------------

_WARC_ORACLE = """
SELECT doc_id,
       CAST(2 AS INT) AS n_records,
       'response' AS rec_type,
       'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
           AS content_len,
       TRUE AS payload_match
FROM documents
"""


@register(
    "src_warc_records",
    _WARC_ORACLE,
    doc="WARC (ISO 28500) web-archive ingestion — the source format of "
    "web-scale LLM corpora (sources/warc.py): per document a 2-record "
    "WARC (warcinfo + response) is written in the Common Crawl layout "
    "(each record its OWN gzip member, concatenated) and parsed back — "
    "version line, CRLF headers, Content-Length framing, trailing "
    "CRLFCRLF, multistream gzip inflate. The member-per-record layout "
    "is the scale property: any worker can start at a member boundary, "
    "so a 100 TB crawl ingests parallel at record granularity with no "
    "shuffle (one mapInPandas pass, like every codec here). "
    "payload_match demands the response payload round-trip "
    "byte-exactly; content_len is cross-checked against the oracle's "
    "octet_length(encode(text)) — UTF-8 octets on both sides, "
    "NULL-safe via COALESCE.",
)
def src_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def mux_and_parse(batches):
        from evolution_data_warehouse_spark.sources.warc import (
            build_warc,
            parse_warc,
        )

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                payload = ("" if text is None else str(text)).encode(
                    "utf-8"
                )
                uri = f"http://corpus.local/doc/{d}"
                data = build_warc(
                    [
                        ("warcinfo", "", b"software: engine\r\n"),
                        ("response", uri, payload),
                    ],
                    per_record_gzip=True,
                )
                recs = parse_warc(data)
                resp = recs[-1]
                rows.append(
                    {
                        "doc_id": d,
                        "n_records": len(recs),
                        "rec_type": resp["type"],
                        "uri": resp["uri"],
                        "content_len": resp["content_length"],
                        "payload_match": resp["payload"] == payload,
                    }
                )
            yield pd.DataFrame(rows)

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        mux_and_parse,
        "doc_id long, n_records int, rec_type string, uri string, "
        "content_len long, payload_match boolean",
    )
