"""Statistics queries (``stats_*``, ``drift_*``, ``surv_*``): tests,
estimators, distribution drift and survival curves, with fixed-point
quantized outputs so Spark and DuckDB agree bit for bit.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.queries.common import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
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
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
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
    w_asc = W.orderBy("t").rowsBetween(
        W.unboundedPreceding, W.currentRow
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


def _click_view_by_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cents, c1, ct): click and view events grouped by value in cents —
    c1 clicks and ct events per distinct value, the two-sample input of
    the rank and CDF tests."""
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
    return g.groupBy("cents").agg(
        F.sum("is1").cast("long").alias("c1"), F.count("*").alias("ct")
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
    byv = _click_view_by_cents(spark, sf_dir)
    w_cum = W.orderBy("cents").rowsBetween(
        W.unboundedPreceding, -1
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
    byv = _click_view_by_cents(spark, sf_dir)
    w_cum = W.orderBy("cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
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
    w_all = W.rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
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
# Hash-Poisson bootstrap — deterministic resampling confidence interval
# ---------------------------------------------------------------------------

_BOOT_B = 100


#: nearest-rank 2.5% / 97.5% order statistics, derived from B so a
#: replicate-count change can never silently keep stale ranks
_BOOT_LO_RANK = -(-25 * _BOOT_B // 1000)  # ceil(0.025 * B)


_BOOT_HI_RANK = -(-975 * _BOOT_B // 1000)  # ceil(0.975 * B)


#: Poisson(1) CDF in millionths — integer thresholds so the per-row
#: resample weight is a pure integer comparison chain, no float RNG.
_POISSON_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406)


def _boot_weight_sql(hexpr: str) -> str:
    case = " ".join(
        f"WHEN {hexpr} < {thr} THEN {k}"
        for k, thr in enumerate(_POISSON_CDF_PPM)
    )
    return f"CASE {case} ELSE {len(_POISSON_CDF_PPM)} END"


def _bootstrap_oracle() -> str:
    h = (
        content_hash64_sql(
            "CAST(event_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)"
        )
        + " % 1000000"
    )
    return f"""
WITH rep AS (
    SELECT e.event_id, e.value, bs.b
    FROM events e, (SELECT unnest(range(0, {_BOOT_B})) AS b) bs
),
w AS (
    SELECT b, value, {_boot_weight_sql(f'({h})')} AS k FROM rep
),
means AS (
    SELECT b,
           CAST(SUM(CAST(value AS DECIMAL(28,6)) * k) AS DOUBLE)
               / CAST(SUM(k) AS DOUBLE) AS mean_b
    FROM w GROUP BY b
),
ranked AS (
    SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS r
    FROM means
),
ci AS (
    SELECT MIN(CASE WHEN r = {_BOOT_LO_RANK} THEN mean_b END) AS ci_lo,
           MIN(CASE WHEN r = {_BOOT_HI_RANK} THEN mean_b END) AS ci_hi
    FROM ranked
),
pt AS (
    SELECT {davg_sql('value', 6)} AS point_mean,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
)
SELECT pt.point_mean, pt.n_rows, ci.ci_lo, ci.ci_hi,
       CAST({_BOOT_B} AS BIGINT) AS n_replicates
FROM pt, ci
"""


@register(
    "stats_bootstrap_ci",
    _bootstrap_oracle(),
    doc="Poisson-bootstrap confidence interval for the event-value "
    "mean — the resampling member of the inferential-stats family "
    "(beside the closed-form z/U/KS tests): each (row, replicate) "
    "pair draws its resample multiplicity from Poisson(1) via "
    "md5-hash uniforms against INTEGER CDF thresholds (the standard "
    "streaming bootstrap — no RNG state, reproducible on any "
    "partitioning/engine), replicate means use the exact decimal-"
    "weighted sum, and the 95% CI is the nearest-rank 2.5/97.5 order "
    "statistic of the 100 replicate means (integer ranks, no "
    "interpolation, ties broken by replicate id). Scale: the explode "
    "is x100 but each replicate reduces map-side to one partial per "
    "partition — the bootstrap costs ~B aggregates over one scan, "
    "never B scans; the rank step sorts B rows.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    rep = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    h = (
        content_hash64(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(":"),
                F.col("b").cast("string"),
            )
        )
        % 1000000
    )
    k = None
    for kk, thr in enumerate(_POISSON_CDF_PPM):
        k = (
            F.when(h < thr, kk)
            if k is None
            else k.when(h < thr, kk)
        )
    k = k.otherwise(len(_POISSON_CDF_PPM))
    means = (
        rep.select(
            "b",
            (F.col("value").cast("decimal(28,6)") * k).alias("wv"),
            k.alias("k"),
        )
        .groupBy("b")
        .agg(
            (
                F.sum("wv").cast("double")
                / F.sum("k").cast("double")
            ).alias("mean_b")
        )
    )
    ranked = means.select(
        "mean_b",
        F.row_number().over(W.orderBy("mean_b", "b")).alias("r"),
    )
    ci = ranked.agg(
        F.min(
            F.when(F.col("r") == _BOOT_LO_RANK, F.col("mean_b"))
        ).alias("ci_lo"),
        F.min(
            F.when(F.col("r") == _BOOT_HI_RANK, F.col("mean_b"))
        ).alias("ci_hi"),
    )
    pt = ev.agg(
        davg("value", 6).alias("point_mean"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return pt.crossJoin(ci).select(
        "point_mean", "n_rows", "ci_lo", "ci_hi",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# Robust outliers — median / MAD (no moments, no float aggregation)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH ranked AS (
    SELECT event_type, value, event_id,
           row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type, value AS median_value
    FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
    SELECT e.event_type, e.value, e.event_id,
           ABS(e.value - m.median_value) AS adev,
           m.median_value
    FROM events e JOIN med m ON e.event_type = m.event_type
),
dranked AS (
    SELECT event_type, adev, median_value,
           row_number() OVER (
               PARTITION BY event_type ORDER BY adev, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (
    SELECT event_type, median_value, adev AS mad_value
    FROM dranked WHERE rn = (n + 1) // 2
)
SELECT d.event_type,
       m.median_value,
       m.mad_value,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median_value, m.mad_value
"""


@register(
    "stats_mad_outliers",
    _MAD_ORACLE,
    doc="Robust outlier detection by median / MAD (median absolute "
    "deviation) — the moment-free member of the stats family (mean/"
    "stddev z-scores break under the heavy tails they are meant to "
    "find; median/MAD have a 50% breakdown point): per event type, "
    "the nearest-rank median (a VALUE from the data, tie-broken by "
    "event_id — no interpolation, no float aggregation anywhere), "
    "the nearest-rank median of absolute deviations, and the count "
    "beyond the classic 3xMAD fence. Deviations are single IEEE "
    "subtractions of data values, so every number is bit-identical "
    "across engines and partitionings. Scale: two rank passes "
    "partitioned by type + one broadcast-sized (k-row) median join — "
    "the exact-percentile shape, paid twice.",
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    wt = W.partitionBy("event_type")
    ranked = ev.select(
        "*",
        F.row_number().over(wt.orderBy("value", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("value").alias("median_value"))
    dev = ev.join(med, "event_type").select(
        "event_type",
        "event_id",
        "median_value",
        F.abs(F.col("value") - F.col("median_value")).alias("adev"),
    )
    dranked = dev.select(
        "*",
        F.row_number().over(wt.orderBy("adev", "event_id")).alias("rn"),
        F.count("*").over(wt).alias("n"),
    )
    mad = dranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("event_type", F.col("adev").alias("mad_value"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("adev") > 3 * F.col("mad_value")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "median_value", "mad_value", "n_rows",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# stats_spearman_corr — rank correlation per group
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = f"""
WITH r AS (
    SELECT o_orderpriority,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS BIGINT) AS rx,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_orderdate, o_orderkey
           ) AS BIGINT) AS ry
    FROM orders
),
s AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE) AS sd2
    FROM r GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       {fpq_sql(
           "1.0 - (6.0 * sd2) / (CAST(n AS DOUBLE)"
           " * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))", 9
       )} AS rho
FROM s
"""


@register(
    "stats_spearman_corr",
    _SPEARMAN_ORACLE,
    doc="Spearman rank correlation between order value and order "
    "recency per priority class (do later orders run larger?) — the "
    "monotonic-association twin of the Pearson correlation in "
    "agg_stats_suite. Ranks are row_number() tie-broken by the UNIQUE "
    "o_orderkey (a non-unique tie-break would make rank assignment "
    "engine-dependent — measured: lineitem's duplicate keys shifted "
    "rho by ~4e-8), so each rank column is a deterministic "
    "permutation 1..n and the classic rho = 1 - 6*sum(d^2)/(n(n^2-1)) "
    "closed form applies exactly; sum(d^2) is summed wide (decimal on "
    "Spark, HUGEINT on DuckDB) before one double division quantized "
    "at 1e-9. Scale note: exact Spearman fundamentally needs a "
    "per-group global rank (two sorts sharing one exchange here); at "
    "100 TB the same statistic is approximated by binned ranks "
    "(agg_equidepth_histogram's machinery) — this entry is the exact "
    "form.",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderdate", "o_orderkey"
    )
    wx = W.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wy = W.partitionBy("o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    r = o.select(
        "o_orderpriority",
        F.row_number().over(wx).cast("bigint").alias("rx"),
        F.row_number().over(wy).cast("bigint").alias("ry"),
    )
    d2 = (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
    s = r.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(d2.cast("decimal(38,0)")).cast("double").alias("sd2"),
    )
    n_d = F.col("n").cast("double")
    rho = F.lit(1.0) - (F.lit(6.0) * F.col("sd2")) / (
        n_d * (n_d * n_d - F.lit(1.0))
    )
    return s.select("o_orderpriority", "n", fpq(rho, 9).alias("rho"))


# ---------------------------------------------------------------------------
# stats_cohens_d — effect size between two customer segments
# ---------------------------------------------------------------------------

_COHEN_A = "BUILDING"


_COHEN_B = "MACHINERY"


_COHEN_ORACLE = f"""
WITH s AS (
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('c_acctbal', 6)} AS s1,
           {dsum_sql('c_acctbal * c_acctbal', 6)} AS s2
    FROM customer
    WHERE c_mktsegment IN ('{_COHEN_A}', '{_COHEN_B}')
    GROUP BY c_mktsegment
),
ab AS (
    SELECT
        (SELECT n FROM s WHERE c_mktsegment = '{_COHEN_A}') AS na,
        (SELECT s1 FROM s WHERE c_mktsegment = '{_COHEN_A}') AS sa1,
        (SELECT s2 FROM s WHERE c_mktsegment = '{_COHEN_A}') AS sa2,
        (SELECT n FROM s WHERE c_mktsegment = '{_COHEN_B}') AS nb,
        (SELECT s1 FROM s WHERE c_mktsegment = '{_COHEN_B}') AS sb1,
        (SELECT s2 FROM s WHERE c_mktsegment = '{_COHEN_B}') AS sb2
),
d AS (
    SELECT na, nb,
           sa1 / CAST(na AS DOUBLE) AS ma,
           sb1 / CAST(nb AS DOUBLE) AS mb,
           (sa2 - (sa1 / CAST(na AS DOUBLE)) * sa1)
               / (CAST(na AS DOUBLE) - 1.0) AS va,
           (sb2 - (sb1 / CAST(nb AS DOUBLE)) * sb1)
               / (CAST(nb AS DOUBLE) - 1.0) AS vb
    FROM ab
)
SELECT na, nb,
       {fpq_sql('ma', 6)} AS mean_a,
       {fpq_sql('mb', 6)} AS mean_b,
       {fpq_sql(
           "(ma - mb) / sqrt(((CAST(na AS DOUBLE) - 1.0) * va"
           " + (CAST(nb AS DOUBLE) - 1.0) * vb)"
           " / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2.0))", 8
       )} AS cohens_d
FROM d
"""


@register(
    "stats_cohens_d",
    _COHEN_ORACLE,
    doc="Cohen's d effect size between two customer segments' account "
    "balances — the practical-significance companion to "
    "stats_ab_test's hypothesis test (a significant difference with "
    "d ~ 0 is noise you can't act on). Per-segment moments are "
    "decimal-exact sums reshaped into sample variances with an "
    "identical double expression on both engines; d = (mean_a - "
    "mean_b) / pooled_sigma, quantized at 1e-8. Spark plan: one "
    "2-group aggregate pivoted into a single row — no join, no "
    "window; the heavy lifting is the same one-pass scan any mean "
    "takes.",
)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = F.col("c_acctbal")
    s = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(_COHEN_A, _COHEN_B))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum(bal, 6).alias("s1"),
            dsum(bal * bal, 6).alias("s2"),
        )
    )
    seg = F.col("c_mktsegment")
    ab = s.agg(
        F.max(F.when(seg == _COHEN_A, F.col("n"))).alias("na"),
        F.max(F.when(seg == _COHEN_A, F.col("s1"))).alias("sa1"),
        F.max(F.when(seg == _COHEN_A, F.col("s2"))).alias("sa2"),
        F.max(F.when(seg == _COHEN_B, F.col("n"))).alias("nb"),
        F.max(F.when(seg == _COHEN_B, F.col("s1"))).alias("sb1"),
        F.max(F.when(seg == _COHEN_B, F.col("s2"))).alias("sb2"),
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    ma = F.col("sa1") / na_d
    mb = F.col("sb1") / nb_d
    va = (F.col("sa2") - (F.col("sa1") / na_d) * F.col("sa1")) / (
        na_d - F.lit(1.0)
    )
    vb = (F.col("sb2") - (F.col("sb1") / nb_d) * F.col("sb1")) / (
        nb_d - F.lit(1.0)
    )
    d = ab.select(
        "na", "nb",
        ma.alias("ma"), mb.alias("mb"), va.alias("va"), vb.alias("vb"),
    )
    na_d2 = F.col("na").cast("double")
    nb_d2 = F.col("nb").cast("double")
    pooled = F.sqrt(
        ((na_d2 - F.lit(1.0)) * F.col("va")
         + (nb_d2 - F.lit(1.0)) * F.col("vb"))
        / (na_d2 + nb_d2 - F.lit(2.0))
    )
    return d.select(
        "na", "nb",
        fpq(F.col("ma"), 6).alias("mean_a"),
        fpq(F.col("mb"), 6).alias("mean_b"),
        fpq((F.col("ma") - F.col("mb")) / pooled, 8).alias("cohens_d"),
    )


# ---------------------------------------------------------------------------
# stats_cuped_adjust — CUPED variance reduction for experiment metrics
# ---------------------------------------------------------------------------

_CUPED_SPLIT_DATE = "1999-01-01"


_CUPED_ORACLE = f"""
WITH per_cust AS (
    SELECT o_custkey AS cust,
           {dsum_sql(
               "CASE WHEN CAST(o_orderdate AS DATE)"
               f" < DATE '{_CUPED_SPLIT_DATE}'"
               " THEN o_totalprice ELSE 0 END", 2
           )} AS x,
           {dsum_sql(
               "CASE WHEN CAST(o_orderdate AS DATE)"
               f" >= DATE '{_CUPED_SPLIT_DATE}'"
               " THEN o_totalprice ELSE 0 END", 2
           )} AS y
    FROM orders GROUP BY o_custkey
),
armd AS (
    SELECT cust, x, y, CAST(cust % 2 AS INT) AS arm FROM per_cust
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('x', 6)} AS sx, {dsum_sql('y', 6)} AS sy,
           {dsum_sql('x * x', 6)} AS sxx, {dsum_sql('x * y', 6)} AS sxy,
           CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           {dsum_sql('CASE WHEN arm = 0 THEN y ELSE 0 END', 6)} AS sy0,
           {dsum_sql('CASE WHEN arm = 0 THEN x ELSE 0 END', 6)} AS sx0,
           CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           {dsum_sql('CASE WHEN arm = 1 THEN y ELSE 0 END', 6)} AS sy1,
           {dsum_sql('CASE WHEN arm = 1 THEN x ELSE 0 END', 6)} AS sx1
    FROM armd
),
d AS (
    SELECT n, n0, n1,
           CASE WHEN sxx - sx * sx / CAST(n AS DOUBLE) <= 0.0 THEN 0.0
                ELSE (sxy - sx * sy / CAST(n AS DOUBLE))
                     / (sxx - sx * sx / CAST(n AS DOUBLE)) END AS theta,
           sx / CAST(n AS DOUBLE) AS mx,
           sy0 / CAST(n0 AS DOUBLE) AS my0,
           sx0 / CAST(n0 AS DOUBLE) AS mx0,
           sy1 / CAST(n1 AS DOUBLE) AS my1,
           sx1 / CAST(n1 AS DOUBLE) AS mx1
    FROM s
)
SELECT n0, n1,
       {fpq_sql('theta', 8)} AS theta,
       {fpq_sql('my1 - my0', 4)} AS lift_raw,
       {fpq_sql(
           '(my1 - theta * (mx1 - mx)) - (my0 - theta * (mx0 - mx))', 4
       )} AS lift_cuped
FROM d
"""


@register(
    "stats_cuped_adjust",
    _CUPED_ORACLE,
    doc="CUPED-adjusted experiment lift (Deng et al. 2013, WSDM: "
    "Improving the Sensitivity of Online Controlled Experiments): "
    "pre-period spend is the covariate, theta = cov(x,y)/var(x) "
    "pooled over all units, and each arm's metric mean is adjusted "
    "by -theta*(mean_x_arm - mean_x) — the variance-reduction "
    "preprocessing every experimentation platform applies before "
    "stats_ab_test-style inference. Arms are custkey parity (the "
    "same deterministic assignment convention as stats_ab_test). "
    "Everything reduces in ONE aggregate row: per-unit pre/post "
    "sums via one group-by on customer, then conditional "
    "decimal-exact moment sums — no scalar broadcast, no second "
    "pass; theta and both lifts are identical double expression "
    "shapes quantized fixed-point. Two linear shuffles total "
    "(customer rollup, then the 1-row reduce).",
)
def stats_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.to_date("o_orderdate")
    split = F.lit(_CUPED_SPLIT_DATE).cast("date")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            dsum(
                F.when(d < split, F.col("o_totalprice")).otherwise(0.0), 2
            ).alias("x"),
            dsum(
                F.when(d >= split, F.col("o_totalprice")).otherwise(0.0), 2
            ).alias("y"),
        )
    )
    armd = per_cust.withColumn("arm", (F.col("cust") % 2).cast("int"))
    x, y, arm = F.col("x"), F.col("y"), F.col("arm")
    s = armd.agg(
        F.count("*").cast("bigint").alias("n"),
        dsum(x, 6).alias("sx"),
        dsum(y, 6).alias("sy"),
        dsum(x * x, 6).alias("sxx"),
        dsum(x * y, 6).alias("sxy"),
        F.sum(F.when(arm == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        dsum(F.when(arm == 0, y).otherwise(0.0), 6).alias("sy0"),
        dsum(F.when(arm == 0, x).otherwise(0.0), 6).alias("sx0"),
        F.sum(F.when(arm == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        dsum(F.when(arm == 1, y).otherwise(0.0), 6).alias("sy1"),
        dsum(F.when(arm == 1, x).otherwise(0.0), 6).alias("sx1"),
    )
    n_d = F.col("n").cast("double")
    # degenerate-covariate guard: zero pre-period variance would make
    # theta NaN/inf with engine-dependent fixed-point behavior — CUPED
    # with a constant covariate is a no-op, so theta = 0 is the right
    # answer, not an error
    var_x = F.col("sxx") - F.col("sx") * F.col("sx") / n_d
    theta = F.when(var_x <= 0.0, F.lit(0.0)).otherwise(
        (F.col("sxy") - F.col("sx") * F.col("sy") / n_d) / var_x
    )
    dd = s.select(
        "n", "n0", "n1",
        theta.alias("theta"),
        (F.col("sx") / n_d).alias("mx"),
        (F.col("sy0") / F.col("n0").cast("double")).alias("my0"),
        (F.col("sx0") / F.col("n0").cast("double")).alias("mx0"),
        (F.col("sy1") / F.col("n1").cast("double")).alias("my1"),
        (F.col("sx1") / F.col("n1").cast("double")).alias("mx1"),
    )
    lift_raw = F.col("my1") - F.col("my0")
    lift_cuped = (
        F.col("my1") - F.col("theta") * (F.col("mx1") - F.col("mx"))
    ) - (F.col("my0") - F.col("theta") * (F.col("mx0") - F.col("mx")))
    return dd.select(
        "n0", "n1",
        fpq(F.col("theta"), 8).alias("theta"),
        fpq(lift_raw, 4).alias("lift_raw"),
        fpq(lift_cuped, 4).alias("lift_cuped"),
    )


# ---------------------------------------------------------------------------
# stats_chi2_independence — lang x source contingency test
# ---------------------------------------------------------------------------

_CHI2_ORACLE = f"""
WITH c AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nr FROM c GROUP BY lang),
ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nc FROM c GROUP BY source),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c)
SELECT c.lang, c.source, c.n,
       {fpq_sql(
           'CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE)', 6)} AS expected,
       {fpq_sql(
           '(CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' * (CAST(c.n AS DOUBLE) - CAST(rt.nr AS DOUBLE)'
           ' * CAST(ct.nc AS DOUBLE) / CAST(g.nt AS DOUBLE))'
           ' / (CAST(rt.nr AS DOUBLE) * CAST(ct.nc AS DOUBLE)'
           ' / CAST(g.nt AS DOUBLE))', 6)} AS chi2_contrib
FROM c
JOIN rt ON rt.lang = c.lang
JOIN ct ON ct.source = c.source
CROSS JOIN g
"""


@register(
    "stats_chi2_independence",
    _CHI2_ORACLE,
    doc="Chi-squared independence decomposition over the lang x source "
    "contingency table: per cell, observed count, expected count under "
    "independence (row_total x col_total / grand_total), and the "
    "cell's chi-squared contribution — the corpus-composition "
    "diagnostic that detects when a source's language mix shifted "
    "between crawls (total chi2 = SUM(chi2_contrib), dof = "
    "(R-1)(C-1), both derivable from the rows). All inputs are exact "
    "integer counts; the expected/contribution values are single "
    "identical IEEE expression chains on both engines, fixed-point "
    "quantized. Scale: one hash aggregate to R x C cells, then "
    "broadcast-sized margin joins — the margins are dimension-sized "
    "whatever the corpus is. Extends the experiment-statistics family "
    "(stats_cohens_d, stats_cuped_adjust, stats_ks_two_sample).",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    rt = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nr"))
    ct = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("nc"))
    g = c.agg(F.sum("n").cast("bigint").alias("nt"))
    e = (
        F.col("nr").cast("double")
        * F.col("nc").cast("double")
        / F.col("nt").cast("double")
    )
    diff = F.col("n").cast("double") - e
    return (
        c.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(g)
        .select(
            "lang",
            "source",
            "n",
            fpq(e, 6).alias("expected"),
            fpq(diff * diff / e, 6).alias("chi2_contrib"),
        )
    )


# ---------------------------------------------------------------------------
# stats_permutation_test — hash-deterministic label-permutation inference
# ---------------------------------------------------------------------------
_PERM_N = 16  # pinned permutation count (Monte Carlo resolution 1/16)


_PERM_FP = 1_000_000


_PERM_GROUP = "1-URGENT"


def _perm_test_oracle() -> str:
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
