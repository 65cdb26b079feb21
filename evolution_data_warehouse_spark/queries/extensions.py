"""Engine extensions beyond the reference's operator surface: set ops
the reference lacks, sessionization, cube, exact percentiles, unpivot,
approximate distinct. Each is a natural next step from a SURVEY §2
operator family and is oracle-checked where semantics allow."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)


@register(
    "set_intersect",
    "SELECT c_nationkey FROM customer INTERSECT "
    "SELECT s_nationkey FROM supplier",
    doc="INTERSECT (absent from the reference; SURVEY §2.7 notes only "
    "anti-join EXCEPT-alikes). Nations having both customers and "
    "suppliers.",
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey"))
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    return c.intersect(s)


@register(
    "set_except",
    "SELECT c_nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier",
    doc="EXCEPT — nations with customers but no suppliers.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey"))
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("c_nationkey")
    )
    return c.subtract(s)  # EXCEPT DISTINCT semantics, like the SQL EXCEPT


_SESSION_ORACLE = """
WITH g AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id, ts,
       CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
FROM g
"""


@register(
    "win_session_gap",
    _SESSION_ORACLE,
    doc="Sessionization: lag(ts) + cumulative sum over gap>30min markers "
    "(the batch twin of session_window streaming aggregation).",
)
def win_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # exact µs gap — the oracle compares the exact interval, and a
    # floored-second gap would disagree for gaps in (1800s, 1801s)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    marker = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .withColumn("session_id", F.sum(marker).over(run).cast("long"))
    )


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register(
    "agg_cube",
    _CUBE_ORACLE,
    doc="CUBE over two grouping columns (SURVEY §2.4 notes the dashboard "
    "view recomputes measures at two grains — cube does all four in one "
    "pass with a single shuffle).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_percentile",
    "SELECT o_orderpriority, "
    f"{fpq_sql('quantile_cont(o_totalprice, 0.5)')} AS median_price, "
    f"{fpq_sql('quantile_cont(o_totalprice, 0.9)')} AS p90_price "
    "FROM orders GROUP BY o_orderpriority",
    doc="Exact interpolated percentiles (median/p90 of order value), "
    "fixed-point-quantized on both sides (common.py::fpq) so the "
    "ulp-sensitive interpolation can't drift across engine versions. At "
    "100 TB swap percentile() for approx_percentile — same plan shape, "
    "mergeable sketches instead of a full sort per group.",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        fpq(F.percentile("o_totalprice", F.lit(0.5))).alias("median_price"),
        fpq(F.percentile("o_totalprice", F.lit(0.9))).alias("p90_price"),
    )


_UNPIVOT_ORACLE = """
SELECT c_custkey, measure_name, measure_value FROM (
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           CAST(c_nationkey AS DOUBLE) AS nationkey
    FROM customer
) UNPIVOT (measure_value FOR measure_name IN (acctbal, nationkey))
"""


@register(
    "fn_unpivot",
    _UNPIVOT_ORACLE,
    doc="Wide→long unpivot (the inverse of agg_pivot; stack()/unpivot).",
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        "c_custkey", ["acctbal", "nationkey"], "measure_name", "measure_value"
    )


@register(
    "agg_approx_distinct",
    "SELECT l_returnflag, "
    "CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts, "
    "TRUE AS approx_within_5pct "
    "FROM lineitem GROUP BY l_returnflag",
    doc="approx_count_distinct (HyperLogLog++) — the 100 TB substitute "
    "for COUNT(DISTINCT): mergeable sketches, no expand. Raw HLL values "
    "are engine-specific, so the checked projection keeps the sketch in "
    "the plan and asserts its documented ±5% envelope against the exact "
    "count, which IS oracle-comparable.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= F.col("exact_parts") * F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


@register(
    "fn_map_ops",
    "SELECT event_id, "
    "CAST(json_extract_string(props, '$.k') AS INT) AS k_value, "
    "CAST(len(json_keys(props)) AS INT) AS n_keys FROM events",
    doc="Map/JSON payload operators: parse to a typed map, element "
    "access, key cardinality (the props column as map<string,int>).",
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.from_json("props", "map<string,int>")
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


_LAG_ORACLE = """
SELECT event_id, user_id, ts,
       lag(event_type) OVER w AS prev_type,
       lead(event_type) OVER w AS next_type,
       first_value(event_type) OVER w AS first_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@register(
    "win_lag_lead",
    _LAG_ORACLE,
    doc="lag/lead/first_value over per-user event sequences — the "
    "building blocks behind sessionization and change detection.",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


_RANGE_ORACLE = """
SELECT a.event_id AS event_a, b.event_id AS event_b, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
"""


@register(
    "join_range_bucketed",
    _RANGE_ORACLE,
    doc="Range join (events within 60s of a prior same-user event) "
    "executed as a BUCKETED equi-join: each left row targets its own "
    "and the next 60s bucket, so the theta condition becomes an "
    "equi-join on (user, bucket) + residual filter — one hash shuffle "
    "instead of the O(n·m) nested-loop a naive range join plans "
    "(the pattern from the PySpark guide's as-of/range-join note).",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    bucket = (F.col("us") / F.lit(60_000_000)).cast("long")
    left = ev.withColumn(
        "bucket", F.explode(F.array(bucket, bucket + 1))
    ).select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.col("us").alias("us_a"),
        "bucket",
    )
    right = ev.withColumn("bucket", bucket).select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.col("us").alias("us_b"),
        "bucket",
    )
    return (
        left.join(
            right,
            (left.user_id == right.user_b) & (left.bucket == right.bucket),
        )
        .filter(
            (F.col("us_b") > F.col("us_a"))
            & (F.col("us_b") <= F.col("us_a") + 60_000_000)
        )
        .select("event_a", "event_b", "user_id")
    )


_NTILE_ORACLE = """
SELECT c_custkey, c_acctbal,
       ntile(4) OVER w AS balance_quartile,
       percent_rank() OVER w AS balance_pct_rank,
       dense_rank() OVER w AS balance_dense_rank
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
"""


@register(
    "win_ntile_rank",
    _NTILE_ORACLE,
    doc="ntile / percent_rank / dense_rank — ranking family beyond "
    "row_number (fully tie-broken ordering).",
)
def win_ntile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.orderBy("c_acctbal", "c_custkey")
    return t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("balance_pct_rank"),
        F.dense_rank().over(w).alias("balance_dense_rank"),
    )


_GSETS_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register(
    "agg_grouping_sets",
    _GSETS_ORACLE,
    doc="Explicit GROUPING SETS (marginals + grand total without the "
    "full cube) — one shuffle for all three grains.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gsets_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        FROM _gsets_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "fn_string_suite",
    "SELECT o_orderkey, trim(o_orderpriority) AS pri_trim, "
    "upper(o_orderstatus) AS status_up, lower(o_orderpriority) AS pri_low, "
    "substr(o_orderpriority, 1, 1) AS pri_code, "
    "CAST(length(o_orderpriority) AS INT) AS pri_len, "
    "replace(o_orderpriority, '-', '_') AS pri_norm, "
    "CAST(strpos(o_orderpriority, '-') AS INT) AS dash_pos "
    "FROM orders",
    doc="String-function suite: trim/upper/lower/substr/length/replace/"
    "position — the remaining §2.8 scalar surface in one pass.",
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.trim("o_orderpriority").alias("pri_trim"),
        F.upper("o_orderstatus").alias("status_up"),
        F.lower("o_orderpriority").alias("pri_low"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderpriority").alias("pri_len"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("pri_norm"),
        F.instr(F.col("o_orderpriority"), "-").alias("dash_pos"),
    )


_SKEW_JOIN_ORACLE = f"""
SELECT p_brand,
       {dsum_sql('l_extendedprice', 2)} AS total_price,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@register(
    "join_skew_salted",
    _SKEW_JOIN_ORACLE,
    doc="Skew-salted equi-join under the correctness gate: the fact side "
    "gets a random salt, the dimension side replicates per salt, the "
    "join key becomes (key, salt) — one hot key spreads over n_salts "
    "reducers. The salt routes rows but never changes the join result, "
    "so the oracle is the plain join (operators/skew.py salted_join).",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, part, "l_partkey", n_salts=8)
    return joined.groupBy("p_brand").agg(
        dsum("l_extendedprice", 2).alias("total_price"),
        F.count("*").alias("n_items"),
    )


_SKEW_AGG_ORACLE = """
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
"""


@register(
    "agg_skew_salted",
    _SKEW_AGG_ORACLE,
    doc="Two-phase salted aggregation under the correctness gate: count "
    "per (hot key, salt) map-side, re-aggregate per key — bounds any "
    "single reducer's load when a grouping key is pathologically hot "
    "(operators/skew.py salted_count). Result is salt-independent.",
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.skew import salted_count

    return salted_count(t(spark, sf_dir, "events"), "event_type", n_salts=8)


@register(
    "win_pct_dist",
    """
    SELECT o_orderkey, o_orderpriority,
           PERCENT_RANK() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
           ) AS pct_rank,
           CUME_DIST() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
           ) AS cume
    FROM orders
    """,
    doc="percent_rank / cume_dist distribution windows per priority "
    "class. Ties share a rank, so the result is deterministic without "
    "a full tie-break; both functions are single-pass over the sorted "
    "partition.",
)
def win_pct_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "fn_date_trunc",
    """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY CAST(date_trunc('month', ts) AS DATE), event_type
    """,
    doc="Calendar-bucket rollup: date_trunc to month + hash aggregate "
    "— the time-series downsampling shape (hour/day/month all share "
    "this plan: truncation is computed in the scan, the aggregate "
    "combines map-side).",
)
def fn_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.to_date(F.date_trunc("month", F.col("ts"))).alias("month_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )


@register(
    "fn_array_ops",
    """
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_toks,
           array_to_string(toks[1:3], '-') AS first3,
           CAST(COALESCE(list_position(toks, 'the'), 0) AS INT) AS pos_the,
           list_sort(toks)[1] AS min_tok
    FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
    """,
    doc="Array-function suite over tokenized text: size, slice, "
    "position lookup, sorted head — the §2.8-adjacent collection "
    "surface, all JVM-side column expressions.",
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.col("text")), " ")
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        F.array_position(toks, "the").cast("int").alias("pos_the"),
        F.element_at(F.array_sort(toks), 1).alias("min_tok"),
    )


@register(
    "agg_approx_percentile",
    "SELECT o_orderpriority, "
    f"{fpq_sql('quantile_cont(o_totalprice, 0.5)')} AS exact_median, "
    "TRUE AS approx_within_5pct "
    "FROM orders GROUP BY o_orderpriority",
    doc="approx_percentile (mergeable quantile sketch) — the 100 TB "
    "substitute for exact percentiles: no per-group sort, sketches "
    "merge map-side. Raw sketch outputs are engine-specific, so (same "
    "pattern as agg_approx_distinct) the checked projection keeps the "
    "sketch in the plan and asserts its ±5% envelope against the "
    "exact interpolated median, which IS oracle-comparable once "
    "fixed-point-quantized (common.py::fpq) against ulp drift.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact_median"),
    )
    return agg.select(
        "o_orderpriority",
        fpq("exact_median").alias("exact_median"),
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            <= F.abs(F.col("exact_median")) * F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


_MOVAVG_ORACLE = """
SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) OVER w AS DOUBLE)
           / CAST(COUNT(*) OVER w AS DOUBLE) AS mov_avg_price
FROM lineitem
WHERE l_returnflag = 'R'
WINDOW w AS (
    PARTITION BY l_suppkey
    ORDER BY l_shipdate, l_orderkey, l_linenumber
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
)
"""


@register(
    "win_moving_avg",
    _MOVAVG_ORACLE,
    doc="Sliding-frame moving average (4-row trailing window per "
    "supplier over ship-date order, fully tie-broken by the lineitem "
    "PK). The frame sum goes through per-row DECIMAL casts so the "
    "sliding add/remove accumulation is exact — a plain double frame "
    "sum drifts between engines as the frame slides.",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(-3, 0)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_shipdate",
            (
                F.sum(F.col("l_extendedprice").cast("decimal(28,2)"))
                .over(w)
                .cast("double")
                / F.count("*").over(w).cast("double")
            ).alias("mov_avg_price"),
        )
    )


# Both engines compute the statistics from the SAME decimal-exact
# moment sums with the SAME expression shapes, so every double op is
# IEEE-identical; fpq then absorbs any residual 1-ulp representation
# difference. The moments are plain distributive aggregates — one
# map-side-combined shuffle however large the fact is — which is why
# this beats calling corr()/covar_pop() directly (their one-pass
# accumulators are order-dependent in the last ulps).
_STATS_ORACLE = f"""
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           {dsum_sql('l_quantity')} AS sx,
           {dsum_sql('l_extendedprice')} AS sy,
           {dsum_sql('l_quantity * l_extendedprice', 4)} AS sxy,
           {dsum_sql('l_quantity * l_quantity', 4)} AS sxx,
           {dsum_sql('l_extendedprice * l_extendedprice', 4)} AS syy
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       {fpq_sql('(sxy - sx * sy / n) / n')} AS covar_pop_qty_price,
       {fpq_sql('(sxy - sx * sy / n) / '
                '(sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))')}
           AS corr_qty_price,
       {fpq_sql('sqrt((sxx - sx * sx / n) / (n - 1))')} AS stddev_qty
FROM m
"""


@register(
    "agg_stats_suite",
    _STATS_ORACLE,
    doc="Statistical aggregate suite (covariance / correlation / "
    "stddev per return flag) computed from decimal-exact moment sums "
    "rather than the engines' one-pass accumulators — order-independent "
    "at any partitioning, one map-side-combined shuffle.",
)
def agg_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        dsum(q).alias("sx"),
        dsum(p).alias("sy"),
        dsum(q * p, 4).alias("sxy"),
        dsum(q * q, 4).alias("sxx"),
        dsum(p * p, 4).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov = (sxy - sx * sy / n) / n
    corr = (sxy - sx * sy / n) / (
        F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)
    )
    sd = F.sqrt((sxx - sx * sx / n) / (n - F.lit(1.0)))
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        fpq(cov).alias("covar_pop_qty_price"),
        fpq(corr).alias("corr_qty_price"),
        fpq(sd).alias("stddev_qty"),
    )


_HIST_ORACLE = f"""
SELECT CAST(floor(l_extendedprice / 5000.0) AS INT) AS price_bin,
       COUNT(*) AS n,
       {dsum_sql('l_extendedprice')} AS bin_revenue
FROM lineitem
GROUP BY price_bin
"""


@register(
    "agg_histogram",
    _HIST_ORACLE,
    doc="Fixed-width histogram (5k price bins): floor-bucketed "
    "group-by — the profiling distribution scan. IEEE division + floor "
    "are engine-identical so bin edges are exact; one map-side-combined "
    "shuffle whose cardinality is the bin count, not the row count.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    bin_ = F.floor(F.col("l_extendedprice") / F.lit(5000.0)).cast("int")
    return (
        li.groupBy(bin_.alias("price_bin"))
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice").alias("bin_revenue"),
        )
    )


# The oracle is the FULL recompute; the Spark side takes the
# incremental path (pre-aggregated base + delta partials merged by a
# second aggregate). dsum's decimal accumulation is associative, so
# partial-merge == full-recompute bit-for-bit — exactly the property
# an incremental datamart refresh needs to be trustworthy: at 100 TB
# the base partials are a stored table and only the delta is scanned.
_INCR_MERGE_ORACLE = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_spend
FROM orders
GROUP BY o_custkey
"""


@register(
    "agg_incremental_merge",
    _INCR_MERGE_ORACLE,
    doc="Incremental aggregate maintenance: the base slice (orders "
    "before 2000-01-01) and the delta slice are partially aggregated "
    "separately, then merged by re-aggregating the partials — the "
    "materialized-view refresh path. Oracle is the full recompute; "
    "decimal sums make partial-merge equal it exactly.",
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("pn"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("ps"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    return (
        base.unionAll(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("pn").alias("n_orders"),
            F.sum("ps").cast("double").alias("total_spend"),
        )
    )


@register(
    "agg_sketch_union",
    "SELECT CAST(COUNT(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)"
    "    AS n_months, "
    "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers, "
    "TRUE AS union_within_5pct "
    "FROM orders",
    doc="Mergeable-sketch rollup: one HLL sketch per order month "
    "(hll_sketch_agg), unioned into a range estimate (hll_union_agg + "
    "hll_sketch_estimate) — the pre-aggregated distinct-count pattern "
    "that answers any date-range cardinality from month-grain state "
    "without rescanning the fact. Sketch bytes are engine-specific, so "
    "the checked projection asserts the unioned estimate's ±5% "
    "envelope against the exact global distinct, which IS "
    "oracle-comparable.",
)
def agg_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    unioned = monthly.agg(
        F.count("*").alias("n_months"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_customers"),
    )
    exact = orders.agg(
        F.countDistinct("o_custkey").alias("exact_customers")
    )
    return unioned.join(exact).select(
        "n_months",
        "exact_customers",
        (
            F.abs(F.col("est_customers") - F.col("exact_customers"))
            <= F.col("exact_customers") * F.lit(0.05)
        ).alias("union_within_5pct"),
    )


_RANGE7D_ORACLE = """
SELECT l_orderkey, l_linenumber, l_suppkey, l_shipdate,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) OVER w AS DOUBLE)
           AS qty_7d
FROM lineitem
WHERE l_returnflag = 'A'
WINDOW w AS (
    PARTITION BY l_suppkey
    ORDER BY CAST(epoch_us(l_shipdate) AS BIGINT)
    RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW
)
"""


@register(
    "win_range_7d",
    _RANGE7D_ORACLE,
    doc="Time-RANGE window frame (trailing 7 calendar days per "
    "supplier, inclusive): the frame is defined by the ORDER-BY VALUE "
    "(epoch µs within 6×86400s before the row), not a row count — "
    "peers with equal timestamps share one frame, so no tie-break is "
    "needed for determinism. The frame sum goes through per-row "
    "DECIMAL casts like every sliding accumulation here.",
)
def win_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    # l_shipdate surfaces as TIMESTAMP_NTZ; the session TZ is pinned to
    # UTC (queries/common.py::t) so the LTZ cast is the identity and
    # epoch µs equal DuckDB's epoch_us
    epoch = F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(epoch)
        .rangeBetween(-6 * 86400 * 1_000_000, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        "l_shipdate",
        F.count("*").over(w).alias("n_7d"),
        F.sum(F.col("l_quantity").cast("decimal(28,2)"))
        .over(w)
        .cast("double")
        .alias("qty_7d"),
    )


_SHARE_ORACLE = f"""
WITH per_nation AS (
    SELECT n_regionkey, n_name,
           {dsum_sql('o_totalprice')} AS nation_rev
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_regionkey, n_name
)
SELECT n_name, nation_rev,
       nation_rev / CAST(SUM(CAST(nation_rev AS DECIMAL(28,2)))
                        OVER (PARTITION BY n_regionkey) AS DOUBLE)
           AS share_in_region
FROM per_nation
"""


@register(
    "win_share_of_total",
    _SHARE_ORACLE,
    doc="Percent-of-total within group (each nation's share of its "
    "region's revenue): aggregate first, then a window sum over the "
    "aggregate — the window runs on dimension-cardinality rows, so the "
    "fact is shuffled once for the group-by and never for the window. "
    "The window denominator re-casts the exact 2-dp doubles to "
    "decimal so its accumulation order is irrelevant — the ratio is "
    "then bit-identical across engines without quantization.",
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(dsum("o_totalprice").alias("nation_rev"))
    )
    w = W.partitionBy("n_regionkey")
    denom = (
        F.sum(F.col("nation_rev").cast("decimal(28,2)")).over(w).cast("double")
    )
    return per_nation.select(
        "n_name",
        "nation_rev",
        (F.col("nation_rev") / denom).alias("share_in_region"),
    )


# AQP by deterministic hash sampling: a 10% md5-bucket sample of the
# fact estimates the mean; the envelope check (estimate within 4
# relative standard errors of the exact mean) is the oracle-comparable
# projection, the same pattern as the HLL/approx-percentile envelopes.
# The sample itself is identical on both engines (md5 bucketing), so
# sample_mean matches bit-for-bit and the envelope is belt-and-braces.
_AQP_ORACLE = f"""
WITH s AS (
    SELECT l_extendedprice FROM lineitem
    WHERE ({{bucket}}) < 1000
)
SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS sample_n,
       (SELECT {{davg}} FROM s) AS sample_mean,
       TRUE AS within_envelope
"""


def _aqp_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import davg_sql
    from evolution_data_warehouse_spark.operators.dedup import (
        content_hash64_sql,
    )

    bucket = (
        f"{content_hash64_sql('CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)')}"
        " % 10000"
    )
    return _AQP_ORACLE.format(
        bucket=bucket, davg=davg_sql("l_extendedprice", 2)
    )


@register(
    "agg_approx_sample_mean",
    _aqp_oracle(),
    doc="Approximate query processing by deterministic sampling: a 10% "
    "md5-bucket sample of lineitem (keyed on the PK, so the same rows "
    "sample on every engine and every run) estimates the mean price; "
    "the result carries the sample size, the decimal-exact sample "
    "mean, and a CLT envelope check against the exact mean. At 100 TB "
    "the sample predicate is a scan-side projection — a 10× cheaper "
    "answer whose error is quantified, the AQP trade.",
)
def agg_approx_sample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import content_hash64
    from evolution_data_warehouse_spark.queries.common import davg

    li = t(spark, sf_dir, "lineitem")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    sample = li.filter((content_hash64(key) % 10000) < 1000)
    stats = sample.agg(
        F.count("*").alias("sample_n"),
        davg("l_extendedprice", 2).alias("sample_mean"),
        (davg(F.col("l_extendedprice") * F.col("l_extendedprice"), 4)).alias(
            "_sample_msq"
        ),
    )
    exact = li.agg(davg("l_extendedprice", 2).alias("_exact_mean"))
    rel_se = F.sqrt(
        (F.col("_sample_msq") - F.col("sample_mean") * F.col("sample_mean"))
        / F.col("sample_n")
    ) / F.col("sample_mean")
    return stats.join(exact).select(
        "sample_n",
        "sample_mean",
        (
            F.abs(F.col("sample_mean") - F.col("_exact_mean"))
            <= F.lit(4.0) * rel_se * F.col("_exact_mean")
        ).alias("within_envelope"),
    )


# Five hub coordinates, shared verbatim by engine and oracle.
_GEO_HUBS = [
    ("paris", 48.85, 2.35),
    ("lyon", 45.76, 4.84),
    ("lille", 50.63, 3.07),
    ("bordeaux", 44.84, -0.58),
    ("marseille", 43.30, 5.37),
]


def _geo_oracle() -> str:
    from evolution_data_warehouse_spark.queries.common import davg_sql, fpq_sql

    hub_rows = " UNION ALL ".join(
        f"SELECT '{n}' AS hub, CAST({la} AS DOUBLE) AS hlat, "
        f"CAST({lo} AS DOUBLE) AS hlon"
        for n, la, lo in _GEO_HUBS
    )
    hav = (
        "2.0 * 6371.0 * asin(sqrt("
        "sin(radians(hlat - lat) / 2) * sin(radians(hlat - lat) / 2) "
        "+ cos(radians(lat)) * cos(radians(hlat)) "
        "* sin(radians(hlon - lon) / 2) * sin(radians(hlon - lon) / 2)))"
    )
    return f"""
WITH sites AS (
    SELECT s_suppkey,
           41.0 + (s_suppkey * 37 % 1000) / 100.0 AS lat,
           -5.0 + (s_suppkey * 91 % 1300) / 100.0 AS lon
    FROM supplier
),
hubs AS ({hub_rows}),
dists AS (
    SELECT s_suppkey, hub, {hav} AS km FROM sites CROSS JOIN hubs
),
nearest AS (
    SELECT s_suppkey, hub, km FROM (
        SELECT s_suppkey, hub, km,
               ROW_NUMBER() OVER (
                   PARTITION BY s_suppkey ORDER BY km, hub
               ) AS rn
        FROM dists
    ) WHERE rn = 1
)
SELECT hub, COUNT(*) AS n_suppliers,
       {fpq_sql(davg_sql('km', 6), 4)} AS avg_km
FROM nearest GROUP BY hub
"""


@register(
    "geo_nearest_hub",
    _geo_oracle(),
    doc="Geo nearest-neighbor assignment: each supplier site (synthetic "
    "deterministic lat/lon from its key — the testdata has no "
    "coordinates; the projection formula is shared with the oracle) "
    "joins the 5-row hub table (broadcast), haversine in pure column "
    "expressions, per-site argmin fully tie-broken by hub name. The "
    "nearest-hub margins are ≥0.3 km at every tested scale — 12 "
    "orders above cross-libm trig ulp noise — and the reported mean "
    "distance is decimal-summed and fixed-point-quantized, so the "
    "assignment and the report are both engine-stable.",
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.common import davg

    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (41.0 + (F.col("s_suppkey") * 37 % 1000) / 100.0).alias("lat"),
        (-5.0 + (F.col("s_suppkey") * 91 % 1300) / 100.0).alias("lon"),
    )
    hubs = spark.createDataFrame(_GEO_HUBS, "hub string, hlat double, hlon double")
    dlat = F.radians(F.col("hlat") - F.col("lat")) / 2
    dlon = F.radians(F.col("hlon") - F.col("lon")) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(F.col("lat")))
        * F.cos(F.radians(F.col("hlat")))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    km = 2.0 * 6371.0 * F.asin(F.sqrt(a))
    dists = supp.crossJoin(F.broadcast(hubs)).select(
        "s_suppkey", "hub", km.alias("km")
    )
    w = W.partitionBy("s_suppkey").orderBy(F.asc("km"), F.asc("hub"))
    nearest = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return nearest.groupBy("hub").agg(
        F.count("*").alias("n_suppliers"),
        fpq(davg("km", 6), 4).alias("avg_km"),
    )


_PIVOT_MULTI_ORACLE = f"""
SELECT l_linestatus,
       {dsum_sql("CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END")}
           AS a_qty,
       CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT)
           AS a_n,
       {dsum_sql("CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END")}
           AS r_qty,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS r_n
FROM lineitem
GROUP BY l_linestatus
"""


@register(
    "agg_pivot_multi",
    _PIVOT_MULTI_ORACLE,
    doc="Pivot with MULTIPLE measures per pivoted value (sum + count "
    "for each return flag): Spark's pivot takes several aggregates at "
    "once — still one shuffle, the measure pairs are parallel partial "
    "aggregates. Pivot values pinned per the determinism rules; "
    "the flag_measure column names are aliased to match the oracle's "
    "conditional-aggregation spelling.",
)
def agg_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "R"])
        .agg(
            dsum("l_quantity").alias("qty"),
            F.count(F.lit(1)).alias("n"),  # count(*) is invalid inside pivot
        )
    )
    # empty pivot cells are NULL in Spark but 0 in the oracle's
    # conditional sums — normalize like agg_pivot does
    return p.select(
        "l_linestatus",
        F.coalesce(F.col("A_qty"), F.lit(0.0)).alias("a_qty"),
        F.coalesce(F.col("A_n"), F.lit(0)).alias("a_n"),
        F.coalesce(F.col("R_qty"), F.lit(0.0)).alias("r_qty"),
        F.coalesce(F.col("R_n"), F.lit(0)).alias("r_n"),
    )


_WAVG_ORACLE = f"""
SELECT l_returnflag,
       {dsum_sql('l_extendedprice * l_discount', 4)}
           / {dsum_sql('l_extendedprice', 2)} AS wavg_discount
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_weighted_avg",
    _WAVG_ORACLE,
    doc="Value-weighted average (revenue-weighted discount rate — the "
    "BI measure where a plain AVG over-weights small lines): both the "
    "weighted numerator and the weight sum go through decimal casts, "
    "so the ratio is a quotient of exact values — bit-identical at any "
    "partitioning. One map-side-combined shuffle.",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    wavg = dsum(F.col("l_extendedprice") * F.col("l_discount"), 4) / dsum(
        "l_extendedprice", 2
    )
    return li.groupBy("l_returnflag").agg(wavg.alias("wavg_discount"))
