"""Core relational operators (SURVEY.md §2.1–§2.7) as registry queries:
``agg_*``, ``filter_*``, ``join_*``, ``limit_*``, ``proj_*``, ``set_*``,
``sort_*`` and ``win_*``.

Each query re-expresses one reference operator over the driver's TPC-H-ish
testdata. Docstrings cite the reference implementation the operator
derives from (file:line under /root/reference/).

Star-schema analogy used throughout:
    region/nation        → dim_geographie          (geography dims)
    customer             → dim + security subjects
    orders/lineitem      → fact tables
    events               → naissances/deces-style event facts
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.functions.naming import normalize_name
from evolution_data_warehouse_spark.operators.asof import asof_join
from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.operators.sketches import (
    countmin_cells,
    countmin_estimate,
    heavy_hitters_exact,
    kmv_overlap,
    KMV_SPACE as _KMV_M,
)
from evolution_data_warehouse_spark.operators.textops import (
    lower_tokens,
    lower_tokens_sql,
)
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    scratch,
    t,
)
from evolution_data_warehouse_spark.queries.event_analytics import (
    daily_revenue,
    priority_daily_revenue,
    PRIORITY_DAILY_REVENUE_SQL,
)


# ---------------------------------------------------------------------------
# §2.2 projection / rename / filters / dedup
# ---------------------------------------------------------------------------


@register(
    "proj_select",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
    doc="Column-subset projection before fact insert. Ref: "
    "analytics/etl/load_facts.py:155,315,391-397. Catalyst prunes the "
    "parquet scan to exactly these columns.",
)
def proj_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")


@register(
    "proj_rename_normalize",
    "SELECT c_custkey AS custkey, c_name AS customer_name, "
    "c_mktsegment AS market_segment_pct, c_acctbal AS account_balance "
    "FROM customer",
    doc="Mechanical column-name normalization + rename map. Ref: notebook "
    "cell 4 (normalize_name + TableSpec.rename).",
)
def proj_rename_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Simulate messy source headers, then run them through the same
    # normalize_name the staging layer uses (lower, %→pct, non-alnum→_).
    messy = {
        "c_custkey": "CustKey",
        "c_name": "Customer Name",
        "c_mktsegment": "Market/Segment %",
        "c_acctbal": "Account  Balance",
    }
    df = t(spark, sf_dir, "customer").select(
        *[F.col(k).alias(v) for k, v in messy.items()]
    )
    return df.toDF(*[normalize_name(c) for c in df.columns])


@register(
    "filter_threshold",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal >= 1000.0",
    doc="Numeric threshold predicate (communes with pop >= 10000). Ref: "
    "analytics/etl/load_security.py:189. Pushed to the parquet scan.",
)
def filter_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 1000.0)
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "filter_equality",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_returnflag = 'R'",
    doc="Equality predicate on a code column (empsta == '1'). Ref: "
    "analytics/etl/load_facts.py:491-493,612-613.",
)
def filter_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


_VIEW_LEVEL_ORACLE = f"""
SELECT user_id,
       COUNT(*) AS n_purchases,
       {dsum_sql('value')} AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY user_id
"""


@register(
    "filter_view_level",
    _VIEW_LEVEL_ORACLE,
    doc="View-level predicate (WHERE niveau_geo = 'DEPARTEMENT' on every "
    "datamart). Ref: Terraform/sql/005_create_datamarts.sql:41,79,122.",
)
def filter_view_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"), dsum("value").alias("total_value"))
    )


@register(
    "filter_current_version",
    "SELECT o_orderpriority, COUNT(*) AS n_open FROM orders "
    "WHERE o_orderstatus = 'O' GROUP BY o_orderpriority",
    doc="SCD2 current-row predicate est_actif = 1. Ref: "
    "Terraform/sql/010_scd_dimensions.sql:198,418; load_dimensions.py:149-151.",
)
def filter_current_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_open"))
    )


# A reusable "dimension with missing members" shape: customers in dim only
# when their balance is non-negative, so fact→dim resolution leaves orphans.
def _orders_with_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    dim = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select("c_custkey", "c_nationkey")
    )
    return orders.join(dim, orders.o_custkey == dim.c_custkey, "left")


_DIM_SQL = "(SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal >= 0)"


@register(
    "filter_dropna_keys",
    f"SELECT o_orderkey, c_custkey AS resolved_custkey, c_nationkey "
    f"FROM orders LEFT JOIN {_DIM_SQL} c ON o_custkey = c_custkey "
    f"WHERE c_custkey IS NOT NULL",
    doc="Drop fact rows whose dimension keys failed to resolve. Ref: "
    "analytics/etl/load_facts.py:155,315,397 (dropna(subset=['temps_id','geo_id'])).",
)
def filter_dropna_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _orders_with_dim(spark, sf_dir)
        .na.drop(subset=["c_custkey"])
        .select(
            "o_orderkey", F.col("c_custkey").alias("resolved_custkey"), "c_nationkey"
        )
    )


@register(
    "filter_null_pred",
    f"SELECT o_orderkey, o_custkey FROM orders LEFT JOIN {_DIM_SQL} c "
    f"ON o_custkey = c_custkey WHERE c_custkey IS NULL",
    doc="IS NULL predicate — orphan-key detection. Ref: "
    "Terraform/sql/008_configure_logging.sql:205; tests/test_dwh.py:209-215.",
)
def filter_null_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _orders_with_dim(spark, sf_dir)
        .filter(F.col("c_custkey").isNull())
        .select("o_orderkey", "o_custkey")
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
SELECT r_name AS region_name,
       CAST(year(o_orderdate) AS INT) AS annee,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       COUNT(*) AS n_lineitems,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CASE WHEN COUNT(DISTINCT o_orderkey) > 0
            THEN {dsum_sql('l_extendedprice * (1 - l_discount)', 4)}
                 / CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE)
       END AS revenue_per_order
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, year(o_orderdate)
"""


@register(
    "join_inner_equi",
    _FLAGSHIP_ORACLE,
    doc="FLAGSHIP. Star join fact ⋈ dims + group-by + guarded ratio — the "
    "vm_demographie_departement shape. Ref: Terraform/sql/"
    "005_create_datamarts.sql:14-42. Dims are broadcast (small side), "
    "fact scan is pruned to join keys + measures.",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Probe-side spread: the broadcast-join probe + partial agg otherwise
    # run inside an under-split scan stage (single-row-group files).
    li = cpu_repartition(t(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")

    revenue_expr = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.year("o_orderdate").alias("annee"),
        )
        .agg(
            dsum(revenue_expr, 4).alias("revenue"),
            F.count("*").alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .withColumn(
            "revenue_per_order",
            F.when(
                F.col("n_orders") > 0,
                F.col("revenue") / F.col("n_orders").cast("double"),
            ),
        )
    )
    return df


_LEFT_OUTER_ORACLE = f"""
SELECT o_orderkey, o_totalprice, big_qty
FROM orders
LEFT JOIN (
    SELECT l_orderkey, {dsum_sql('l_quantity')} AS big_qty
    FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey
) li ON o_orderkey = l_orderkey
"""


@register(
    "join_left_outer",
    _LEFT_OUTER_ORACLE,
    doc="Fact-to-fact left outer join on composite key. Ref: "
    "005_create_datamarts.sql:39-40 (population LEFT JOIN evenements_demo).",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    big = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("big_qty"))
    )
    return orders.join(
        big, orders.o_orderkey == big.l_orderkey, "left"
    ).select("o_orderkey", "o_totalprice", "big_qty")


@register(
    "join_cross",
    "SELECT r_name, o_orderstatus FROM region "
    "CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s",
    doc="Cross-join scaffold for the dashboard view (dim_geographie × "
    "dim_temps). Ref: 005_create_datamarts.sql:235-236.",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = t(spark, sf_dir, "region").select("r_name")
    status = t(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


_LEFT_SUBQ_ORACLE = f"""
SELECT n_nationkey, n_name, n_customers, total_balance
FROM nation
LEFT JOIN (
    SELECT c_nationkey, COUNT(*) AS n_customers,
           {dsum_sql('c_acctbal')} AS total_balance
    FROM customer GROUP BY c_nationkey
) c ON n_nationkey = c_nationkey
"""


@register(
    "join_left_subquery",
    _LEFT_SUBQ_ORACLE,
    doc="LEFT JOIN against an aggregated derived table. Ref: "
    "005_create_datamarts.sql:239-251.",
)
def join_left_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    agg = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )
    return nation.join(
        agg, nation.n_nationkey == agg.c_nationkey, "left"
    ).select("n_nationkey", "n_name", "n_customers", "total_balance")


_BCAST_ORACLE = f"""
SELECT p_brand, {dsum_sql('l_extendedprice', 2)} AS brand_revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@register(
    "join_broadcast_lookup",
    _BCAST_ORACLE,
    doc="Dimension key lookup as broadcast join — replaces the reference's "
    "in-memory dict map. Ref: analytics/etl/load_facts.py:74-88 "
    "(get_dim_mapping). The planner broadcasts the dim, so the fact "
    "side is never shuffled.",
)
def join_broadcast_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = cpu_repartition(t(spark, sf_dir, "lineitem"), "l_partkey")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum("l_extendedprice").alias("brand_revenue"),
            F.count("*").alias("n_items"),
        )
    )


_CHANGE_DETECT_ORACLE = """
SELECT c_custkey, c_mktsegment AS old_segment, 'DELINQUENT' AS new_segment
FROM customer
WHERE c_acctbal < 0 AND c_mktsegment <> 'DELINQUENT'
"""


@register(
    "join_change_detect",
    _CHANGE_DETECT_ORACLE,
    doc="Inner merge staged-vs-current on business key to detect changed "
    "attributes (the SCD change scan). Ref: analytics/etl/"
    "load_dimensions.py:108-109,157,243-244.",
)
def join_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = t(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("old_segment")
    )
    # Staged snapshot: delinquent accounts get reclassified.
    staged = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("new_segment"),
    )
    return (
        staged.join(current, "c_custkey")
        .filter(F.col("new_segment") != F.col("old_segment"))
        .select("c_custkey", "old_segment", "new_segment")
    )


@register(
    "join_semi_exists",
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    " AND o.o_orderstatus = 'F')",
    doc="WHERE EXISTS as left-semi join. Ref: 010_scd_dimensions.sql:450-457.",
)
def join_semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    finished = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(finished, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_notexists",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    " AND o.o_totalprice > 100000.0)",
    doc="WHERE NOT EXISTS as left-anti join — brand-new business keys / "
    "orphan checks. Ref: 010:480-485; analytics/tests/test_dwh.py:209-226.",
)
def join_anti_notexists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = t(spark, sf_dir, "customer")
    big = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(big, "c_custkey", "left_anti").select("c_custkey", "c_name")


_FULL_MERGE_ORACLE = f"""
WITH s AS (
    SELECT user_id, COUNT(*) AS n_signups FROM events
    WHERE event_type = 'signup' GROUP BY user_id
), p AS (
    SELECT user_id, COUNT(*) AS n_purchases,
           {dsum_sql('value')} AS purchase_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT COALESCE(s.user_id, p.user_id) AS user_id,
       COALESCE(n_signups, 0) AS n_signups,
       COALESCE(n_purchases, 0) AS n_purchases,
       purchase_value,
       COALESCE(n_signups, 0) - COALESCE(n_purchases, 0) AS solde
FROM s FULL OUTER JOIN p ON s.user_id = p.user_id
"""


@register(
    "join_full_merge_events",
    _FULL_MERGE_ORACLE,
    doc="Births ⋈ deaths full-outer merge per key (the reference hand-rolls "
    "this with a record list). Ref: analytics/etl/load_facts.py:209-248. "
    "Spark expresses it directly as a full_outer join.",
)
def join_full_merge_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = t(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_signups"))
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            dsum("value").alias("purchase_value"),
        )
    )
    joined = signups.join(purchases, "user_id", "full_outer")
    return joined.select(
        F.col("user_id"),
        F.coalesce("n_signups", F.lit(0)).alias("n_signups"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.col("purchase_value"),
        (
            F.coalesce("n_signups", F.lit(0)) - F.coalesce("n_purchases", F.lit(0))
        ).alias("solde"),
    )


@register(
    "join_self_hierarchy",
    "SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey "
    "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey "
    "AND a.n_nationkey < b.n_nationkey",
    doc="Self-join on an aliased relation (employee→manager hierarchy). "
    "Ref: Terraform/sql/011_security_rls.sql:94-98,330-333.",
)
def join_self_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    a = nation.alias("a")
    b = nation.alias("b")
    return (
        a.join(
            b,
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        )
        .select(
            F.col("a.n_name").alias("nation_a"),
            F.col("b.n_name").alias("nation_b"),
            F.col("a.n_regionkey").alias("n_regionkey"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {davg_sql('l_quantity')} AS avg_qty,
       {davg_sql('l_extendedprice')} AS avg_price,
       {davg_sql('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "agg_groupby_sum",
    _Q1_ORACLE,
    doc="GROUP BY + SUM over measures — the datamart aggregation shape, "
    "expressed as TPC-H Q1. Ref: 005_create_datamarts.sql:21-42; "
    "load_facts.py:305-308. Spark: partial (map-side) + final hash agg.",
)
def agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread to core width before the decimal-heavy partial aggregation:
    # single-row-group input files give the scan fewer splits than cores,
    # serializing the whole map-side aggregate (guide §2.4/§6; measured
    # 1.92 s -> 0.55 s at sf0.1, r14 opt). No-op once the scan is wide.
    li = cpu_repartition(
        t(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
        ),
        "l_orderkey",
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price, 4).alias("sum_disc_price"),
        dsum(charge, 6).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


_AVG_MIN_MAX_ORACLE = f"""
SELECT o_orderpriority,
       {davg_sql('o_totalprice')} AS avg_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderpriority
"""


@register(
    "agg_avg_min_max",
    _AVG_MIN_MAX_ORACLE,
    doc="AVG/MIN/MAX over revenue indicators. Ref: "
    "005_create_datamarts.sql:102-108 (vm_revenus_departement).",
)
def agg_avg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        davg("o_totalprice").alias("avg_price"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_count",
    "SELECT event_type, COUNT(*) AS n_events, "
    "COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    doc="COUNT(*) per group (monitoring / SCD summaries). Ref: "
    "008_configure_logging.sql:176; load_security.py:326.",
)
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "agg_conditional_sum",
    "SELECT user_id, "
    "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors, "
    "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views "
    "FROM events GROUP BY user_id",
    doc="SUM(CASE WHEN ...) conditional counters. Ref: "
    "008_configure_logging.sql:177-178; 010:591-592.",
)
def agg_conditional_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n_views"),
    )


_RATIO_ORACLE = """
WITH g AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views
    FROM events GROUP BY user_id
)
SELECT user_id, n_purchases, n_views,
       CASE WHEN n_views > 0
            THEN CAST(n_purchases AS DOUBLE) * 1000.0 / CAST(n_views AS DOUBLE)
       END AS purchases_per_1000_views
FROM g
"""


@register(
    "agg_ratio_postagg",
    _RATIO_ORACLE,
    doc="Guarded ratio over aggregates (birth rate per 1000). Ref: "
    "005_create_datamarts.sql:29-34; load_facts.py:496-497.",
)
def agg_ratio_postagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("n_views"),
        )
    )
    return g.withColumn(
        "purchases_per_1000_views",
        F.when(
            F.col("n_views") > 0,
            F.col("n_purchases").cast("double")
            * 1000.0
            / F.col("n_views").cast("double"),
        ),
    )


_LANGS = ["de", "en", "es", "fr", "zh"]


_PIVOT_ORACLE = "SELECT source, " + ", ".join(
    f"CAST(SUM(CASE WHEN lang = '{lang}' THEN 1 ELSE 0 END) AS BIGINT) AS {lang}"
    for lang in _LANGS
) + " FROM documents GROUP BY source"


@register(
    "agg_pivot",
    _PIVOT_ORACLE,
    doc="Long→wide pivot (FILOSOFI indicator codes → measure columns). Ref: "
    "analytics/etl/load_facts.py:354-380 (pivot_table aggfunc='first'). "
    "Value list pinned for plan stability + oracle parity.",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .pivot("lang", _LANGS)
        .count()
    )
    # Spark pivot yields NULL for empty cells; the conditional-sum oracle
    # yields 0 — normalize.
    return df.select(
        "source", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in _LANGS]
    )


_FILTERED_MULTI_ORACLE = f"""
SELECT user_id,
       {dsum_sql("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase_value,
       {dsum_sql("CASE WHEN event_type = 'click' THEN value END")} AS click_value,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups
FROM events GROUP BY user_id
"""


@register(
    "agg_filtered_multi",
    _FILTERED_MULTI_ORACLE,
    doc="Per-group multi-measure extraction by code filtering (employed / "
    "unemployed / active). Ref: load_facts.py:484-508,605-626. One "
    "groupBy with N conditional sums — a single shuffle.",
)
def agg_filtered_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keyed on the group-by column, so the aggregate reuses this exchange
    # (no extra shuffle) and the decimal sums run at core width instead of
    # inside the under-split scan stage.
    ev = cpu_repartition(t(spark, sf_dir, "events"), "user_id")
    return ev.groupBy("user_id").agg(
        dsum(F.when(F.col("event_type") == "purchase", F.col("value"))).alias(
            "purchase_value"
        ),
        dsum(F.when(F.col("event_type") == "click", F.col("value"))).alias(
            "click_value"
        ),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("long")
        .alias("n_signups"),
    )


@register(
    "agg_string_concat",
    "SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS customer_names "
    "FROM customer GROUP BY c_nationkey",
    doc="STRING_AGG per group. Ref: 011_security_rls.sql:286,294. "
    "collect_list is order-nondeterministic in a distributed agg — "
    "array_sort pins it.",
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias(
                "customer_names"
            )
        )
    )


@register(
    "agg_scalar_lookup",
    "SELECT MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order, "
    "MIN(o_orderkey) AS min_orderkey FROM orders",
    doc="Scalar default-member lookup (MIN(demo_id)). Ref: "
    "load_facts.py:141-144,293-295,451-453.",
)
def agg_scalar_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").agg(
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.min("o_orderkey").alias("min_orderkey"),
    )


@register(
    "agg_distinct",
    "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, "
    "COUNT(DISTINCT l_suppkey) AS n_suppliers FROM lineitem GROUP BY l_returnflag",
    doc="COUNT(DISTINCT ...). Ref: tests/test_dwh.py:123-126. Spark expands "
    "to a two-phase aggregate automatically.",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


_ROLLUP_ORACLE = """
SELECT r_name, n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register(
    "agg_rollup",
    _ROLLUP_ORACLE,
    doc="ROLLUP over two grains — the v_tableau_bord_territorial computes "
    "the same measures at two grains with two scans (005:207-254); "
    "rollup does it in one. Engine extension beyond the reference.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        t(spark, sf_dir, "customer")
        .join(t(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t(spark, sf_dir, "region"), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.rollup("r_name", "n_name").agg(F.count("*").alias("n_customers"))


# ---------------------------------------------------------------------------
# §2.5 windows
# ---------------------------------------------------------------------------

_LATEST_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM orders
) WHERE rn = 1
"""


@register(
    "win_version_latest",
    _LATEST_ORACLE,
    doc="Latest version per business key (ORDER BY version DESC, first row). "
    "Ref: load_dimensions.py:183-187; 010:193-198. Fully tie-broken.",
)
def win_version_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@register(
    "win_topn_recent",
    "SELECT event_id, ts, event_type, user_id FROM events "
    "ORDER BY ts DESC, event_id DESC LIMIT 20",
    doc="TOP 20 most recent (latest log events). Ref: "
    "docs/E6_MAINTENANCE_METHODOLOGY.md:204; api/routers/tables.py:32. "
    "Spark plans this as TakeOrderedAndProject — no full sort.",
)
def win_topn_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(20)
        .select("event_id", "ts", "event_type", "user_id")
    )


@register(
    "win_surrogate_key",
    "SELECT row_number() OVER (ORDER BY c_mktsegment) AS segment_id, "
    "c_mktsegment AS segment FROM (SELECT DISTINCT c_mktsegment FROM customer)",
    doc="IDENTITY(1,1) surrogate-key assignment as a deterministic "
    "row_number over the business key. Ref: 002_create_dimensions.sql:14. "
    "Note: a global window is fine for dimension-sized inputs only; fact "
    "keys at scale use monotonically_increasing_id or zipWithIndex.",
)
def win_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = t(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    w = W.orderBy("c_mktsegment")
    return dim.select(
        F.row_number().over(w).alias("segment_id"),
        F.col("c_mktsegment").alias("segment"),
    )


_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS running_spend
FROM orders
"""


@register(
    "win_running_sum",
    _RUNNING_ORACLE,
    doc="Cumulative frame window (running customer spend) — engine "
    "extension; the reference has no OVER clause (SURVEY §2.5).",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# §2.6 sorts / limits
# ---------------------------------------------------------------------------


@register(
    "sort_multikey",
    "SELECT c_custkey, c_nationkey, c_acctbal FROM customer "
    "ORDER BY c_nationkey ASC, c_acctbal DESC, c_custkey ASC LIMIT 50",
    doc="Multi-key mixed-direction sort (dept ASC, population DESC). Ref: "
    "load_security.py:190.",
)
def sort_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "customer")
        .orderBy(F.asc("c_nationkey"), F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(50)
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


@register(
    "limit_topn",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10",
    doc="TOP (:limit) row cap. Ref: api/routers/tables.py:25,32.",
)
def limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "sort_view",
    "SELECT event_id, ts, value FROM events WHERE event_type = 'error' "
    "ORDER BY ts DESC, event_id DESC LIMIT 100",
    doc="ORDER BY in monitoring/history views. Ref: "
    "docs/E6_SCALABILITY_PROCEDURES.md:127,283.",
)
def sort_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(100)
        .select("event_id", "ts", "value")
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

_UNION_ORACLE = """
SELECT 'orders' AS table_name, COUNT(*) AS n_rows FROM orders
UNION ALL SELECT 'customer', COUNT(*) FROM customer
UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
"""


@register(
    "set_union_all",
    _UNION_ORACLE,
    doc="UNION ALL of per-view row counts (refresh report). Ref: "
    "analytics/etl/run_etl.py:238-245.",
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    def count_of(name: str) -> DataFrame:
        return t(spark, sf_dir, name).agg(
            F.lit(name).alias("table_name"), F.count("*").alias("n_rows")
        )

    return count_of("orders").union(count_of("customer")).union(count_of("lineitem"))


_CONCAT_ORACLE = """
SELECT * FROM (VALUES ('_T', 'total'), ('_Z', 'unknown')) AS seed(code, label)
UNION ALL
SELECT CAST(r_regionkey AS VARCHAR) AS code, r_name AS label FROM region
"""


@register(
    "set_concat_append",
    _CONCAT_ORACLE,
    doc="Appending generated record batches to loaded data (dimension "
    "seeds). Ref: load_dimensions.py:376-426. createDataFrame + unionByName.",
)
def set_concat_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    seed = local_table(
        spark, [("_T", "total"), ("_Z", "unknown")], "code string, label string"
    )
    derived = t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("string").alias("code"),
        F.col("r_name").alias("label"),
    )
    return seed.unionByName(derived)


_EFF_DATED_ORACLE = f"""
WITH dim AS (
    SELECT s_suppkey, s_acctbal AS acctbal_v,
           TIMESTAMP '1900-01-01 00:00:00' AS valid_from,
           TIMESTAMP '1997-01-01 00:00:00' AS valid_to
    FROM supplier
    UNION ALL
    SELECT s_suppkey, s_acctbal + 100.0,
           TIMESTAMP '1997-01-01 00:00:00',
           TIMESTAMP '9999-12-31 00:00:00'
    FROM supplier
)
SELECT s_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql('acctbal_v', 2)} AS sum_acctbal_asof
FROM lineitem
JOIN dim ON l_suppkey = s_suppkey
        AND l_shipdate >= valid_from AND l_shipdate < valid_to
GROUP BY s_suppkey
"""


@register(
    "join_effective_dated",
    _EFF_DATED_ORACLE,
    doc="Effective-dated dimension join — the canonical SCD2 lookup: "
    "each fact row joins the dimension version whose [valid_from, "
    "valid_to) interval contains the fact date. The equi-key carries "
    "the join (one shuffle/broadcast on s_suppkey); the interval "
    "predicate rides along as a join filter, so cost is the equi-join's "
    "regardless of version count. Versions here are synthesized "
    "deterministically (pre/post 1997 split) so both engines build the "
    "identical dimension.",
)
def join_effective_dated(spark, sf_dir: str):
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    v1 = supp.select(
        "s_suppkey",
        F.col("s_acctbal").alias("acctbal_v"),
        F.lit("1900-01-01").cast("timestamp").alias("valid_from"),
        F.lit("1997-01-01").cast("timestamp").alias("valid_to"),
    )
    v2 = supp.select(
        "s_suppkey",
        (F.col("s_acctbal") + F.lit(100.0)).alias("acctbal_v"),
        F.lit("1997-01-01").cast("timestamp").alias("valid_from"),
        F.lit("9999-12-31").cast("timestamp").alias("valid_to"),
    )
    dim = v1.unionAll(v2)
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_shipdate")
    return (
        li.join(
            dim,
            (li.l_suppkey == dim.s_suppkey)
            & (li.l_shipdate >= dim.valid_from)
            & (li.l_shipdate < dim.valid_to),
        )
        .groupBy("s_suppkey")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("acctbal_v", 2).alias("sum_acctbal_asof"),
        )
    )


_NULL_SAFE_ORACLE = """
WITH c AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_nationkey END AS nk
    FROM customer
),
s AS (
    SELECT s_suppkey,
           CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_nationkey END AS nk
    FROM supplier
)
SELECT CAST(c.nk IS NULL AS INT) AS null_bucket,
       COUNT(*) AS n_pairs
FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
GROUP BY CAST(c.nk IS NULL AS INT)
"""


@register(
    "join_null_safe",
    _NULL_SAFE_ORACLE,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL "
    "keys MATCH each other instead of vanishing — the semantics a "
    "'group unknowns together' reconciliation needs, where a plain "
    "equi-join silently drops every NULL-keyed row. NULLs synthesized "
    "deterministically on both sides; still a hash join (the null-safe "
    "operator is an equi-key to Spark, not a theta join).",
)
def join_null_safe(spark, sf_dir: str):
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("c_nk"),
    )
    s = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 7 == 0, None)
        .otherwise(F.col("s_nationkey"))
        .alias("s_nk"),
    )
    return (
        c.join(s, c.c_nk.eqNullSafe(s.s_nk))
        .groupBy(F.col("c_nk").isNull().cast("int").alias("null_bucket"))
        .agg(F.count("*").alias("n_pairs"))
    )


_RIGHT_OUTER_ORACLE = """
SELECT n_name,
       CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "join_right_outer",
    _RIGHT_OUTER_ORACLE,
    doc="Right outer join: every nation survives, supplier-less nations "
    "count 0 (COUNT over the nullable key skips the null-extended "
    "rows) — the mirror of join_left_outer, here with the PRESERVED "
    "side small and broadcast-ineligible by role (the preserved side "
    "of an outer join cannot be the build side, so Spark plans "
    "build-left).",
)
def join_right_outer(spark, sf_dir: str):
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = t(spark, sf_dir, "nation")
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


_ASOF_ORACLE = """
SELECT purchase_id, user_id, purchase_ts, last_view_id, last_view_ts FROM (
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS last_view_id, v.ts AS last_view_ts,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
           ) AS rn
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
) WHERE rn = 1
"""


@register(
    "join_asof",
    _ASOF_ORACLE,
    doc="Backward as-of join (latest prior view per purchase) — engine "
    "extension motivated by the SCD2 validity window (SURVEY §2.3). "
    "Equi-join on key + inequality window + per-purchase row_number.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("last_view_id"),
        F.col("ts").alias("last_view_ts"),
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="last_view_ts",
        left_key="purchase_id",
        right_cols=["last_view_id", "last_view_ts"],
        tie_breaker="last_view_id",
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


_FFILL_ORACLE = """
SELECT event_id, user_id, ts, event_type,
       LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                  IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_ffill
FROM events
"""


@register(
    "win_fill_forward",
    _FFILL_ORACLE,
    doc="Forward-fill over the event stream: error rows' values are "
    "nulled and replaced by the user's last good value (last-ignore-"
    "nulls over a tie-broken running frame) — the gap-repair pass a "
    "sensor/metrics pipeline runs. One shuffle on user_id; the running "
    "frame is O(1) state per row.",
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(good, ignorenulls=True).over(w).alias("value_ffill"),
    )


_MODE_ORACLE = """
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY user_id, event_type
),
ranked AS (
    SELECT user_id, event_type, n,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type
           ) AS rn
    FROM counts
)
SELECT user_id, event_type AS mode_type, n AS mode_count
FROM ranked WHERE rn = 1
"""


@register(
    "agg_mode_per_group",
    _MODE_ORACLE,
    doc="Deterministic mode (most frequent event type per user): count "
    "per (key, value), then top-1 by (count desc, value asc) — the "
    "explicit tie-break native mode() functions don't guarantee, which "
    "is why engines disagree on raw mode(). Two hash aggregates; the "
    "window runs on key×vocabulary rows, not events.",
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_count"),
        )
    )


_GAPS_ISLANDS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
),
islands AS (
    SELECT user_id, day,
           day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day
           ) AS INT) AS island_key
    FROM days
)
SELECT user_id,
       MIN(day) AS streak_start,
       MAX(day) AS streak_end,
       COUNT(*) AS streak_days
FROM islands
GROUP BY user_id, island_key
"""


@register(
    "win_gaps_islands",
    _GAPS_ISLANDS_ORACLE,
    doc="Gaps-and-islands (consecutive-day activity streaks per user): "
    "distinct active days, then the day-minus-row_number constant "
    "groups each consecutive run into one island — two aggregates and "
    "one window, all shuffling on user_id; no self-join, no recursion. "
    "The canonical streak/uptime/retention-run primitive.",
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island_key",
        F.date_sub(F.col("day"), F.row_number().over(w)),
    )
    return (
        islands.groupBy("user_id", "island_key")
        .agg(
            F.min("day").alias("streak_start"),
            F.max("day").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .drop("island_key")
    )


# ---------------------------------------------------------------------------
# Cumulative unique users (new vs returning)
# ---------------------------------------------------------------------------

_CUMUNIQ_ORACLE = """
WITH days AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
firsts AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id),
new_per_day AS (
    SELECT first_day AS day, COUNT(*) AS n_new
    FROM firsts GROUP BY first_day
),
active AS (
    SELECT day, COUNT(DISTINCT user_id) AS n_active FROM days GROUP BY day
)
SELECT a.day, COALESCE(n.n_new, 0) AS n_new, a.n_active,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (
           ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM active a LEFT JOIN new_per_day n ON n.day = a.day
"""


@register(
    "win_cumulative_unique",
    _CUMUNIQ_ORACLE,
    doc="Daily new vs returning users + cumulative unique count — the "
    "growth-accounting query every event warehouse serves. Cumulative "
    "DISTINCT is computed as first-seen-day counts + a running sum "
    "(two user-cardinality aggregates + a date-cardinality window), "
    "never a per-day re-scan of history — the O(days × events) trap "
    "this shape invites at 100 TB. Integer counts only.",
)
def win_cumulative_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    active = days.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        active.join(new_per_day, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .select(
            "day", "n_new", "n_active",
            F.sum("n_new").over(w).cast("long").alias("cum_users"),
        )
    )


# ---------------------------------------------------------------------------
# Exact equi-depth histogram
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH ranked AS (
    SELECT o_totalprice,
           ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
    FROM orders
)
SELECT bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM ranked GROUP BY bucket
"""


@register(
    "agg_equidepth_histogram",
    _EQUIDEPTH_ORACLE,
    doc="Exact equi-depth histogram: ntile(8) fully tie-broken by "
    "(price, orderkey) so bucket membership is deterministic, then "
    "per-bucket count/min/max (no arithmetic — raw stored doubles). "
    "Complements agg_histogram (equi-width). HONEST scale note: exact "
    "ntile is a global sort through one window partition — the "
    "sketch-based agg_approx_percentile is the 100 TB path; this is "
    "the small-dimension/exact-audit form, and the output is only "
    "8 rows.",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = t(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.ntile(8).over(W.orderBy("o_totalprice", "o_orderkey")).alias("bucket"),
    )
    return ranked.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_EXPECTED = {d: math.log10(1 + 1 / d) for d in range(1, 10)}


_BENFORD_CASE_SQL = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {_BENFORD_EXPECTED[d]!r}" for d in range(1, 10)
) + " END"


_BENFORD_ORACLE = f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS first_digit
    FROM orders
),
counts AS (
    SELECT first_digit, COUNT(*) AS n FROM digits GROUP BY first_digit
),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT first_digit, n,
       {fpq_sql('CAST(n AS DOUBLE) / CAST(total AS DOUBLE)')} AS share,
       CAST({_BENFORD_CASE_SQL} AS DOUBLE) AS expected,
       {fpq_sql(f'abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE_SQL}))')}
           AS abs_dev
FROM counts, tot
"""


@register(
    "agg_benford_firstdigit",
    _BENFORD_ORACLE,
    doc="Benford first-digit audit: the data-quality screen for "
    "fabricated or truncated monetary columns. First digit extracted "
    "from exact integer cents (never float log10 — its ulp behavior "
    "at powers of ten differs across engines), shares fixed-point "
    "quantized, expected Benford mass embedded as identical literals "
    "on both sides. One hash aggregate + a 1-row total broadcast; "
    "9-row output at any scale.",
)
def agg_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    digits = t(spark, sf_dir, "orders").select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.lit(None).cast("double")
    for d in range(1, 10):
        expected = (
            F.when(F.col("first_digit") == d, F.lit(_BENFORD_EXPECTED[d]))
            .otherwise(expected)
        )
    share = F.col("n").cast("double") / F.col("total").cast("double")
    return counts.crossJoin(tot).select(
        "first_digit", "n",
        fpq(share).alias("share"),
        expected.cast("double").alias("expected"),
        fpq(F.abs(share - expected)).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance
# ---------------------------------------------------------------------------

_DELTA_ORACLE = f"""
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS total_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@register(
    "join_delta_maintenance",
    _DELTA_ORACLE,
    doc="Incremental maintenance of a join view: with orders = A ∪ dA "
    "and customer = B ∪ dB (deterministic modulo splits standing in "
    "for 'rows since the last refresh'), the Spark side computes "
    "(A∪dA)⋈(B∪dB) as A⋈B ∪ A⋈dB ∪ dA⋈B ∪ dA⋈dB and re-aggregates — "
    "the delta algebra that updates a 100 TB materialized join by "
    "touching delta-sized joins (3 of the 4 terms) instead of "
    "re-scanning history; only the bounded post-join aggregate is "
    "recomputed. The oracle is the full recompute: equality IS the "
    "correctness claim, and decimal-cast sums make the re-aggregation "
    "merge exact.",
)
def join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderkey") % 3 != 0)
    da = orders.filter(F.col("o_orderkey") % 3 == 0)
    b = cust.filter(F.col("c_custkey") % 2 == 0)
    db = cust.filter(F.col("c_custkey") % 2 != 0)
    cols = ["c_nationkey", "o_totalprice"]
    join = lambda o, c: o.join(  # noqa: E731
        c, o.o_custkey == c.c_custkey
    ).select(*cols)
    unioned = (
        join(a, b)
        .unionByName(join(a, db))
        .unionByName(join(da, b))
        .unionByName(join(da, db))
    )
    return unioned.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Semi-join reduction (bloom/runtime-filter pattern, explicit form)
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = f"""
SELECT p.p_brand,
       COUNT(*) AS n_items,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size < 10
GROUP BY p.p_brand
"""


@register(
    "join_bloom_prefilter",
    _BLOOM_ORACLE,
    doc="Semi-join reduction: the fact scan is pre-filtered by a "
    "broadcast LEFT SEMI join on the filtered dimension's keys before "
    "the wide join — the explicit, engine-portable form of a bloom/"
    "runtime filter. At 100 TB the reduction runs at scan speed and "
    "drops non-qualifying fact rows before they carry full-width "
    "payloads into the join shuffle (here both joins broadcast, but "
    "on a fact too wide to broadcast-join the semi prefilter is what "
    "keeps the shuffle delta-sized). Result equals the plain "
    "filtered join — the oracle checks exactly that.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part_f = t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    keys = part_f.select("p_partkey")
    reduced = li.join(
        keys, li.l_partkey == keys.p_partkey, "left_semi"
    )
    joined = reduced.join(
        part_f, reduced.l_partkey == part_f.p_partkey
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# MAD outlier detection (robust per-group anomaly screen)
# ---------------------------------------------------------------------------

_MAD_K = 4.4478  # 3 × 1.4826 (MAD→σ for normal data)


_MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type,
           {fpq_sql('quantile_cont(value, 0.5)')} AS median_value
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.median_value,
           abs(e.value - m.median_value) AS d
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, median_value,
           {fpq_sql('quantile_cont(d, 0.5)')} AS mad_value
    FROM dev GROUP BY event_type, median_value
)
SELECT d.event_type, m.median_value, m.mad_value,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN d.d > {_MAD_K} * m.mad_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median_value, m.mad_value
"""


@register(
    "agg_mad_outliers",
    _MAD_ORACLE,
    doc="Robust outlier screen: median + MAD per group, flagging "
    "|x − med| > 3·1.4826·MAD — the quality gate that survives the "
    "heavy tails that wreck mean/stddev z-scores. Two grouped exact "
    "percentiles (both fixed-point quantized BEFORE re-entering "
    "arithmetic, so the ulp-sensitive interpolation can't cascade) + "
    "one counting pass; group-cardinality shuffles only. At 100 TB "
    "swap percentile for approx_percentile — same shape.",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        fpq(F.percentile("value", F.lit(0.5))).alias("median_value")
    )
    dev = ev.join(med, "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("median_value"))
    )
    mad = dev.groupBy("event_type", "median_value").agg(
        fpq(F.percentile("d", F.lit(0.5))).alias("mad_value")
    )
    return (
        dev.join(mad.drop("median_value"), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("d") > _MAD_K * F.col("mad_value"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "median_value", "mad_value", "n", "n_outliers"
        )
    )


# ---------------------------------------------------------------------------
# Per-group linear-regression slope (trend detection)
# ---------------------------------------------------------------------------

# Rebase event time to seconds since 2024-01-01 so the decimal moment
# sums (Σx, Σy, Σxy, Σx²) stay far inside DECIMAL(38): x ≲ 3·10⁷, so
# Σx² ≲ 10²⁰ at any realistic row count. The four sums are EXACT
# (decimal, order-independent); the slope combines their double casts
# with the identical IEEE expression on both sides.
_EPOCH_2024_US = 1_704_067_200_000_000


_LINREG_ORACLE = f"""
WITH pts AS (
    SELECT event_type,
           (epoch_us(ts) - {_EPOCH_2024_US}) // 1000000 AS x,
           value AS y
    FROM events
),
sums AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,6)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                AS DOUBLE) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       {fpq_sql('(CAST(n AS DOUBLE) * sxy - sx * sy)'
                ' / (CAST(n AS DOUBLE) * sxx - sx * sx)', 9)}
           AS slope_per_sec
FROM sums
"""


@register(
    "agg_linreg_slope",
    _LINREG_ORACLE,
    doc="Per-group least-squares trend slope (value vs event time) "
    "from the four classic moment sums — ONE hash aggregate, partial+ "
    "final, no sort, no window: the O(rows) trend detector that "
    "replaces per-group curve fitting at 100 TB. Sums are decimal-"
    "exact (order-independent); the closing arithmetic is the same "
    "IEEE double expression on both sides, fixed-point quantized at "
    "9 digits (slopes per second are tiny).",
)
def agg_linreg_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(unix_micros(ts) - {_EPOCH_2024_US}) div 1000000").alias("x"),
        F.col("value").alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,6)")
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "event_type", "n", fpq(slope, 9).alias("slope_per_sec")
    )


# ---------------------------------------------------------------------------
# Gini coefficient (inequality audit, exact integer form)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH ranked AS (
    SELECT o_orderpriority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS i
    FROM orders
),
sums AS (
    SELECT o_orderpriority,
           COUNT(*) AS n,
           SUM(cents) AS s,
           SUM(i * cents) AS si
    FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST(2 * si - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
FROM sums
"""


@register(
    "agg_gini",
    _GINI_ORACLE,
    doc="Gini coefficient per group — the inequality/concentration "
    "audit (is 1% of customers 90% of revenue?). Computed from the "
    "rank formula G = (2Σi·xᵢ − (n+1)Σxᵢ) / (nΣxᵢ) over exact integer "
    "cents with a fully tie-broken rank, so everything is integer "
    "until one final double division. One window pass + one "
    "aggregate; 5-row output.",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("i"),
    )
    sums = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    gini = (2 * F.col("si") - (F.col("n") + 1) * F.col("s")).cast("double") / (
        F.col("n") * F.col("s")
    ).cast("double")
    return sums.select("o_orderpriority", "n", gini.alias("gini"))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           MAX(CAST(ts AS DATE)) AS last_day,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS monetary
    FROM events GROUP BY user_id
),
anchor AS (SELECT MAX(last_day) AS max_day FROM per_user),
scored AS (
    SELECT user_id,
           date_diff('day', last_day, max_day) AS recency_days,
           frequency, monetary,
           ntile(4) OVER (ORDER BY date_diff('day', last_day, max_day), user_id)
               AS r_q,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
           ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
    FROM per_user, anchor
)
SELECT user_id, recency_days, frequency, monetary,
       r_q * 100 + f_q * 10 + m_q AS rfm_segment
FROM scored
"""


@register(
    "agg_rfm_segments",
    _RFM_ORACLE,
    doc="RFM segmentation (recency/frequency/monetary quartiles → "
    "3-digit segment code), the classic customer-value rollup: one "
    "user-grain aggregate, a 1-row anchor-date broadcast, three fully "
    "tie-broken ntile windows over the USER-cardinality table (never "
    "the raw events). Monetary uses the decimal-exact sum; quartile "
    "membership is deterministic via (metric, user_id) tie-breaks.",
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count("*").alias("frequency"),
        dsum("value").alias("monetary"),
    )
    anchor = per_user.agg(F.max("last_day").alias("max_day"))
    scored = per_user.crossJoin(anchor).withColumn(
        "recency_days", F.datediff("max_day", "last_day")
    )
    r_q = F.ntile(4).over(W.orderBy("recency_days", "user_id"))
    f_q = F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
    m_q = F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary",
        (r_q * 100 + f_q * 10 + m_q).alias("rfm_segment"),
    )


# ---------------------------------------------------------------------------
# Rolling z-score (windowed anomaly signal)
# ---------------------------------------------------------------------------

_ROLLZ_ORACLE = f"""
WITH framed AS (
    SELECT user_id, event_id, value,
           COUNT(*) OVER w AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s,
           CAST(SUM(CAST(value AS DECIMAL(28,6))
                    * CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS ss
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       {fpq_sql('(value - s / n) / sqrt(ss / n - (s / n) * (s / n) + 1e-9)')}
           AS rolling_z
FROM framed WHERE n = 8
"""


@register(
    "win_zscore_rolling",
    _ROLLZ_ORACLE,
    doc="Rolling z-score over a trailing 8-row frame per user — the "
    "windowed anomaly signal (how unusual is this value vs the user's "
    "recent behavior). Frame sums are decimal-exact (order- and "
    "partitioning-independent); mean/variance/sqrt combine them with "
    "the identical IEEE expression on both sides (epsilon-guarded "
    "denominator), fixed-point quantized. Rows without a full frame "
    "are excluded. One window pass, user-cardinality shuffle.",
)
def win_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, W.currentRow)
    )
    dec = F.col("value").cast("decimal(28,6)")
    framed = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.count("*").over(w).alias("n"),
        F.sum(dec).over(w).cast("double").alias("s"),
        F.sum(dec * dec).over(w).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(
        F.col("ss") / F.col("n") - mean * mean + F.lit(1e-9)
    )
    return framed.filter(F.col("n") == 8).select(
        "user_id", "event_id", fpq(z).alias("rolling_z")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (support / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_PAIRS = 3


_BASKET_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
item_counts AS (
    SELECT l_partkey, COUNT(*) AS n_item FROM baskets GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_BASKET_MIN_PAIRS}
)
SELECT part_a, part_b, n_pair,
       CAST(n_pair AS DOUBLE) / CAST(n.n AS DOUBLE) AS support,
       CAST(n_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
           / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS lift
FROM pairs
JOIN item_counts ia ON ia.l_partkey = part_a
JOIN item_counts ib ON ib.l_partkey = part_b
CROSS JOIN n_orders n
"""


@register(
    "agg_market_basket",
    _BASKET_ORACLE,
    doc="Market-basket association pairs with support and lift: pairs "
    "come from a per-order collect_set + array pair expression, so the "
    "fan-out is bounded by basket size squared (never corpus²) — the "
    "same guard shape as the LSH bucket join — and the "
    "min-pair HAVING prunes the long tail before the stats joins. "
    "Integer counts with single-division doubles; the corpus size "
    "rides in as a 1-row broadcast.",
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One collect_set per order replaces the distinct + sort-merge
    # self-join (same rewrite as graph._edges, r14): baskets
    # are <= 7 lines in TPC-H so the array pair expression fans out
    # <= C(7,2) rows per order, and n_orders / item_counts / pairs all
    # read the SAME grouped subtree (ReusedExchange) instead of
    # re-shuffling the distinct three ways.
    arr = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n_orders = arr.agg(F.count("*").alias("n"))
    item_counts = (
        arr.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    pairs = (
        arr.filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIRS)
    )
    ia = item_counts.alias("ia")
    ib = item_counts.alias("ib")
    out = (
        pairs.join(ia, F.col("part_a") == F.col("ia.l_partkey"))
        .join(ib, F.col("part_b") == F.col("ib.l_partkey"))
        .crossJoin(n_orders)
    )
    return out.select(
        "part_a", "part_b", "n_pair",
        (F.col("n_pair").cast("double") / F.col("n").cast("double")).alias(
            "support"
        ),
        (
            F.col("n_pair").cast("double") * F.col("n").cast("double")
            / (
                F.col("ia.n_item").cast("double")
                * F.col("ib.n_item").cast("double")
            )
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# N-way feed merge (union-agg instead of chained FULL OUTER)
# ---------------------------------------------------------------------------

_NWAY_ORACLE = """
WITH v AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_views
    FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT COALESCE(v.user_id, c.user_id, p.user_id) AS user_id,
       COALESCE(v.day, c.day, p.day) AS day,
       COALESCE(n_views, 0) AS n_views,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases
FROM v
FULL OUTER JOIN c ON v.user_id = c.user_id AND v.day = c.day
FULL OUTER JOIN p ON COALESCE(v.user_id, c.user_id) = p.user_id
                 AND COALESCE(v.day, c.day) = p.day
"""


@register(
    "join_n_way_merge",
    _NWAY_ORACLE,
    doc="N-way keyed feed merge: Spark computes it as ONE "
    "union-then-aggregate (each feed contributes its column, groupBy "
    "coalesces) — one shuffle total, where the naive chained FULL "
    "OUTER JOINs (the oracle's formulation, kept deliberately) cost "
    "N−1 shuffles and N−1 join states. The hash equality IS the "
    "rewrite's correctness proof; at 100 TB with a dozen feeds the "
    "union-agg is the difference between one pass and a join ladder.",
)
def join_n_way_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    tagged = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id", "day",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    return tagged.groupBy("user_id", "day").agg(
        F.sum("v").cast("long").alias("n_views"),
        F.sum("c").cast("long").alias("n_clicks"),
        F.sum("p").cast("long").alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Shannon entropy per group (behavioral diversity signal)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS k
    FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, SUM(k) AS n FROM counts GROUP BY user_id),
terms AS (
    SELECT c.user_id,
           -- fixed-point-quantize EACH term before summing, so the
           -- float log's ulps can't make the sum order-dependent
           CAST(floor(-(CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)
                      * 1e12 + 0.5) AS BIGINT) AS term_fp
    FROM counts c JOIN tot USING (user_id)
)
SELECT user_id,
       CAST(SUM(term_fp) AS DOUBLE) / 1e12 AS entropy_bits
FROM terms GROUP BY user_id
"""


@register(
    "agg_entropy",
    _ENTROPY_ORACLE,
    doc="Shannon entropy of each user's event-type mix — the "
    "behavioral-diversity signal (bots are low-entropy, explorers "
    "high). Each −p·log₂p term is fixed-point quantized BEFORE the "
    "sum, making the aggregation integer-exact and order-independent "
    "(float terms summed in shuffle order would be partitioning-"
    "dependent). Two group-cardinality aggregates, no window.",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count("*").alias("k")
    )
    tot = counts.groupBy("user_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    term_fp = F.floor(-p * F.log2(p) * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    terms = counts.join(tot, "user_id").select(
        "user_id", term_fp.alias("term_fp")
    )
    return terms.groupBy("user_id").agg(
        (F.sum("term_fp").cast("double") / F.lit(1e12)).alias("entropy_bits")
    )


# ---------------------------------------------------------------------------
# Drill-across (multi-fact report through conformed dimensions)
# ---------------------------------------------------------------------------

_DRILL_ORACLE = f"""
WITH li_rev AS (
    SELECT s_nationkey AS nationkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS supply_revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
),
ord_rev AS (
    SELECT c_nationkey AS nationkey,
           {dsum_sql('o_totalprice')} AS order_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
)
SELECT n_name,
       COALESCE(supply_revenue, 0.0) AS supply_revenue,
       COALESCE(order_revenue, 0.0) AS order_revenue
FROM nation
LEFT JOIN li_rev ON n_nationkey = li_rev.nationkey
LEFT JOIN ord_rev ON n_nationkey = ord_rev.nationkey
"""


@register(
    "join_drill_across",
    _DRILL_ORACLE,
    doc="Drill-across: two FACTS (lineitem supply revenue, orders "
    "revenue) reported side by side at the conformed nation grain — "
    "each fact aggregates to the grain FIRST, then the dimension-"
    "cardinality results join (the Kimball rule; a direct fact×fact "
    "join would explode multiplicatively and is never needed). Two "
    "independent partial+final aggregates + two broadcast-sized "
    "joins; decimal-exact sums.",
)
def join_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    li_rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("supply_revenue")
        )
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    ord_rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(dsum("o_totalprice").alias("order_revenue"))
    )
    nation = t(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(li_rev), nation.n_nationkey == li_rev.nationkey, "left"
        )
        .join(
            F.broadcast(ord_rev),
            nation.n_nationkey == ord_rev.nationkey,
            "left",
        )
        .select(
            "n_name",
            F.coalesce("supply_revenue", F.lit(0.0)).alias("supply_revenue"),
            F.coalesce("order_revenue", F.lit(0.0)).alias("order_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto concentration curve (top-decile revenue share)
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, cents,
           ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
    FROM per_cust
),
tot AS (SELECT SUM(cents) AS total FROM per_cust)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(cents) AS DOUBLE) / CAST(t.total AS DOUBLE) AS revenue_share,
       CAST(SUM(SUM(cents)) OVER (
           ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_share
FROM ranked, tot t
GROUP BY decile, t.total
"""


@register(
    "agg_pareto_deciles",
    _PARETO_ORACLE,
    doc="Pareto concentration curve: customers ranked into revenue "
    "deciles (tie-broken ntile), per-decile and cumulative revenue "
    "share — the 80/20 audit. Revenue is exact integer cents end to "
    "end; the only doubles are two single divisions by the 1-row "
    "total. Customer-cardinality sort, 10-row output.",
)
def agg_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    ranked = per_cust.select(
        "o_custkey", "cents",
        F.ntile(10).over(W.orderBy(F.desc("cents"), F.asc("o_custkey"))).alias(
            "decile"
        ),
    )
    tot = per_cust.agg(F.sum("cents").alias("total"))
    by_decile = ranked.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("dec_cents"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        by_decile.crossJoin(tot)
        .select(
            "decile", "n_customers",
            (F.col("dec_cents").cast("double") / F.col("total").cast("double"))
            .alias("revenue_share"),
            (
                F.sum("dec_cents").over(wc).cast("double")
                / F.col("total").cast("double")
            ).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Calendar-correct year-over-year growth
# ---------------------------------------------------------------------------

_YOY_ORACLE = f"""
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT cur.month, cur.revenue,
       prev.revenue AS revenue_prior_year,
       (cur.revenue - prev.revenue) / prev.revenue AS yoy_growth
FROM m cur LEFT JOIN m prev
  ON prev.month = cur.month - INTERVAL 12 MONTH
"""


@register(
    "win_yoy_growth",
    _YOY_ORACLE,
    doc="Calendar-correct year-over-year revenue growth: monthly "
    "decimal-exact revenue self-joined on month-minus-12-months — NOT "
    "lag(12), which silently compares against the wrong month when a "
    "month is missing. The monthly aggregate is tiny (months x 1 row), "
    "so the self-join broadcasts; growth is one subtraction and one "
    "division of identical decimal-summed operands.",
)
def win_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    cur, prev = m.alias("cur"), m.alias("prev")
    return (
        cur.join(
            prev,
            F.col("prev.month") == F.add_months(F.col("cur.month"), -12),
            "left",
        )
        .select(
            F.col("cur.month").alias("month"),
            F.col("cur.revenue").alias("revenue"),
            F.col("prev.revenue").alias("revenue_prior_year"),
            (
                (F.col("cur.revenue") - F.col("prev.revenue"))
                / F.col("prev.revenue")
            ).alias("yoy_growth"),
        )
    )


# ---------------------------------------------------------------------------
# Key-skew observability report
# ---------------------------------------------------------------------------

_SKEW_ORACLE = f"""
WITH ok AS (SELECT o_custkey AS k FROM orders),
lk AS (SELECT l_partkey AS k FROM lineitem),
ek AS (SELECT user_id AS k FROM events),
r AS (
    SELECT 'orders.o_custkey' AS keyspace, k FROM ok
    UNION ALL SELECT 'lineitem.l_partkey', k FROM lk
    UNION ALL SELECT 'events.user_id', k FROM ek
),
c AS (SELECT keyspace, k, COUNT(*) AS cnt FROM r GROUP BY keyspace, k)
SELECT keyspace,
       COUNT(*) AS n_keys,
       MAX(cnt) AS max_cnt,
       {davg_sql('cnt', 0)} AS avg_cnt,
       {fpq_sql('quantile_cont(cnt, 0.5)')} AS p50_cnt,
       CAST(MAX(cnt) AS DOUBLE) / ({davg_sql('cnt', 0)}) AS skew_ratio
FROM c GROUP BY keyspace
"""


@register(
    "agg_skew_report",
    _SKEW_ORACLE,
    doc="Key-skew observability across three join/agg keyspaces "
    "(orders.o_custkey, lineitem.l_partkey, events.user_id): key "
    "count, max/avg/median per-key row counts, and the max/avg skew "
    "ratio that decides whether a key needs salting or AQE skew "
    "handling (the repo's own guidance in operators/skew). Per-key "
    "counts are integers; avg is a decimal-exact davg, median an "
    "fpq-quantized exact percentile. This is the profiling query you "
    "run BEFORE shipping a 100 TB join, on a sample or full pass.",
)
def agg_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = [
        t(spark, sf_dir, "orders").select(
            F.lit("orders.o_custkey").alias("keyspace"),
            F.col("o_custkey").alias("k"),
        ),
        t(spark, sf_dir, "lineitem").select(
            F.lit("lineitem.l_partkey").alias("keyspace"),
            F.col("l_partkey").alias("k"),
        ),
        t(spark, sf_dir, "events").select(
            F.lit("events.user_id").alias("keyspace"),
            F.col("user_id").alias("k"),
        ),
    ]
    r = parts[0].unionByName(parts[1]).unionByName(parts[2])
    c = r.groupBy("keyspace", "k").agg(F.count("*").alias("cnt"))
    return c.groupBy("keyspace").agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        davg("cnt", 0).alias("avg_cnt"),
        fpq(F.percentile("cnt", F.lit(0.5))).alias("p50_cnt"),
        (F.max("cnt").cast("double") / davg("cnt", 0)).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# Weekday-presence bitmaps per user
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH d AS (
    SELECT DISTINCT user_id,
           isodow(CAST(ts AS DATE)) - 1 AS dw
    FROM events
)
SELECT user_id,
       bit_or(CAST(1 AS BIGINT) << dw) AS weekday_bitmap,
       bit_count(bit_or(CAST(1 AS BIGINT) << dw)) AS n_weekdays
FROM d GROUP BY user_id
"""


@register(
    "agg_bitmap_presence",
    _BITMAP_ORACLE,
    doc="Weekday-presence bitmap per user: bit i set iff the user was "
    "active on ISO weekday i (Mon=bit 0) — the compact-presence "
    "encoding that replaces 7 boolean columns and supports set "
    "algebra downstream (weekday-vs-weekend via mask AND). bit_or is "
    "a decomposable aggregate (map-side combinable); Spark dayofweek "
    "(Sun=1) is normalized to ISO (Mon=1) with (dow+5)%7+1 to match "
    "DuckDB's isodow.",
)
def agg_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            (((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1) - 1).alias("dw"),
        )
        .distinct()
    )
    # shiftleft's numBits parameter is Python-int-only in the DSL; the
    # SQL form accepts a column.
    bm = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), dw)"))
    return d.groupBy("user_id").agg(
        bm.alias("weekday_bitmap"),
        F.bit_count(bm).alias("n_weekdays"),
    )


# ---------------------------------------------------------------------------
# Cramér's V: categorical association between status and priority
# ---------------------------------------------------------------------------

_CRAMER_ORACLE = """
WITH cell AS (
    SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS obs
    FROM orders GROUP BY o_orderstatus, o_orderpriority
),
rows_ AS (SELECT s, SUM(obs) AS rtot FROM cell GROUP BY s),
cols_ AS (SELECT p, SUM(obs) AS ctot FROM cell GROUP BY p),
n_ AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cell),
terms AS (
    SELECT CAST(floor(
        pow(CAST(obs AS DOUBLE)
            - CAST(rtot AS DOUBLE) * ctot / n, 2)
        / (CAST(rtot AS DOUBLE) * ctot / n)
        * 1e9 + 0.5) AS BIGINT) AS term_fp, n
    FROM cell JOIN rows_ USING (s) JOIN cols_ USING (p) CROSS JOIN n_
),
chi AS (
    SELECT CAST(SUM(term_fp) AS DOUBLE) / 1e9 AS chi2, MAX(n) AS n,
           (SELECT COUNT(*) FROM rows_) AS r,
           (SELECT COUNT(*) FROM cols_) AS c
    FROM terms GROUP BY n
)
SELECT chi2, n, r, c,
       CAST(floor(
           sqrt(chi2 / (n * least(r - 1, c - 1))) * 1e9 + 0.5
       ) / 1e9 AS DOUBLE) AS cramers_v
FROM chi
"""


@register(
    "agg_cramers_v",
    _CRAMER_ORACLE,
    doc="Cramér's V association between order status and priority — "
    "the categorical-correlation screen a feature-selection pass runs "
    "over every dimension pair. Contingency cells, row/col marginals "
    "and N are exact integer aggregates; each chi-square term is "
    "fixed-point quantized BEFORE the sum (the agg_entropy rule) so "
    "the float sum is order-independent, and V is one closed-form "
    "expression over those exact operands. Cell-cardinality data "
    "(|status| x |priority|) — constant-sized at any corpus scale.",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count("*").alias("obs"))
    )
    rows_ = cell.groupBy("s").agg(F.sum("obs").alias("rtot"))
    cols_ = cell.groupBy("p").agg(F.sum("obs").alias("ctot"))
    n_ = cell.agg(F.sum("obs").alias("n"))
    exp = F.col("rtot").cast("double") * F.col("ctot") / F.col("n")
    term = F.floor(
        F.pow(F.col("obs").cast("double") - exp, F.lit(2)) / exp * 1e9
        + F.lit(0.5)
    ).cast("bigint")
    joined = (
        cell.join(rows_, "s")
        .join(cols_, "p")
        .crossJoin(n_)
    )
    nr = rows_.agg(F.count("*").alias("r"))
    nc = cols_.agg(F.count("*").alias("c"))
    chi = (
        joined.select(term.alias("term_fp"), "n")
        .groupBy("n")
        .agg((F.sum("term_fp").cast("double") / 1e9).alias("chi2"))
        .crossJoin(nr)
        .crossJoin(nc)
    )
    v = F.sqrt(
        F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
    )
    return chi.select(
        "chi2",
        "n",
        "r",
        "c",
        (F.floor(v * 1e9 + F.lit(0.5)) / 1e9).cast("double").alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Theil index of customer revenue inequality
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT SUM(cents) AS tcents, COUNT(*) AS n FROM cust),
terms AS (
    SELECT CAST(floor(
               (CAST(cents AS DOUBLE) * n / tcents)
               * ln(CAST(cents AS DOUBLE) * n / tcents)
               * 1e12 + 0.5) AS BIGINT) AS term_fp,
           n
    FROM cust CROSS JOIN tot WHERE cents > 0
)
SELECT n AS n_customers,
       CAST(SUM(term_fp) AS DOUBLE) / 1e12 / n AS theil_index
FROM terms GROUP BY n
"""


@register(
    "agg_theil_index",
    _THEIL_ORACLE,
    doc="Theil inequality index of customer revenue — the decomposable "
    "inequality measure next to agg_gini (Theil splits into within/"
    "between-group terms, which Gini cannot). Revenue is exact integer "
    "cents; each (x/mu)*ln(x/mu) term is fixed-point quantized BEFORE "
    "the sum (agg_entropy rule) so the aggregation is order-"
    "independent; two final divisions on identical operands. The "
    "1-row totals broadcast into the per-customer term scan.",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    tot = cust.agg(
        F.sum("cents").alias("tcents"), F.count("*").alias("n")
    )
    ratio = F.col("cents").cast("double") * F.col("n") / F.col("tcents")
    term = F.floor(ratio * F.log(ratio) * 1e12 + F.lit(0.5)).cast("bigint")
    return (
        cust.crossJoin(tot)
        .filter(F.col("cents") > 0)
        .select(term.alias("term_fp"), "n")
        .groupBy("n")
        .agg(
            (F.sum("term_fp").cast("double") / 1e12 / F.col("n")).alias(
                "theil_index"
            )
        )
        .select(F.col("n").alias("n_customers"), "theil_index")
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY o_orderdate
),
dd AS (
    SELECT day, rev,
           MAX(rev) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - rev AS drawdown
    FROM daily
)
SELECT day, rev, drawdown
FROM dd ORDER BY drawdown DESC, day LIMIT 1
"""


@register(
    "win_drawdown_max",
    _DRAWDOWN_ORACLE,
    doc="Maximum drawdown of the daily revenue series (largest drop "
    "from a running peak) — the classic risk statistic, here as a "
    "running-max window minus current value with a fully tie-broken "
    "top-1 (drawdown desc, day asc). Daily revenues are decimal-exact "
    "doubles, and drawdown involves only comparisons and one "
    "subtraction of identical operands — nothing accumulates in float "
    "order. Day-cardinality window; a single global sort of day-"
    "cardinality rows at any corpus scale.",
)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir, "rev")
    w = W.orderBy("day").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    dd = daily.withColumn("drawdown", F.max("rev").over(w) - F.col("rev"))
    return dd.orderBy(F.col("drawdown").desc(), "day").limit(1)


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
s AS (
    SELECT COUNT(*) AS n_customers,
           SUM(cents) AS tcents,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sq
    FROM cust
)
SELECT n_customers,
       CAST(sq AS DOUBLE)
       / (CAST(tcents AS DOUBLE) * CAST(tcents AS DOUBLE)) AS hhi,
       CAST(1 AS DOUBLE) / n_customers AS hhi_floor
FROM s
"""


@register(
    "agg_hhi_concentration",
    _HHI_ORACLE,
    doc="Herfindahl-Hirschman index of revenue concentration across "
    "customers (1/n = perfectly even, 1.0 = monopoly) — the "
    "concentration KPI beside agg_gini/agg_theil_index. Sum of squared "
    "integer-cent revenues over the squared total: the linear sum is "
    "an exact BIGINT, the square-sum an exact DECIMAL(38,0) (cents² "
    "reaches ~1e17 per whale customer — int64 overflows already at "
    "modest scale, so decimal is the 100-TB-safe accumulator), one "
    "final double division. Customer-cardinality aggregate, map-side "
    "combinable.",
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    s = cust.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("tcents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "sq"
        ),
    )
    return s.select(
        "n_customers",
        (
            F.col("sq").cast("double")
            / (F.col("tcents").cast("double") * F.col("tcents").cast("double"))
        ).alias("hhi"),
        (F.lit(1).cast("double") / F.col("n_customers")).alias("hhi_floor"),
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact re-count
# ---------------------------------------------------------------------------

_HH_K = 25


_HH_ORACLE = f"""
WITH toks AS (
    SELECT unnest({lower_tokens_sql('text')}) AS item FROM documents
)
SELECT item, COUNT(*) AS cnt
FROM toks WHERE item <> ''
GROUP BY item
ORDER BY cnt DESC, item
LIMIT {_HH_K}
"""


@register(
    "agg_heavy_hitters_mg",
    _HH_ORACLE,
    doc=f"Exact top-{_HH_K} tokens via the two-pass heavy-hitter "
    "pattern (operators/sketches.py): per-partition Misra-Gries "
    "summaries (O(capacity) state per partition regardless of "
    "partition size — the bounded-memory property a 100 TB key space "
    "needs), merged candidates, then an exact re-count of candidates "
    "only. The result is EXACT — the oracle is the plain exact top-k "
    "— and an in-plan assert_true certificate (cnt x capacity > n) "
    "proves no true heavy hitter could have been evicted; the "
    "operator throws rather than silently approximating. Arrow-"
    "batched mapInArrow, candidate-cardinality everything after the "
    "first linear scan.",
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(lower_tokens("text")).alias("item"))
        .filter(F.col("item") != "")
    )
    return heavy_hitters_exact(toks, "item", k=_HH_K)


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
# Count-min sketch (frequency estimation with bounded memory)
# ---------------------------------------------------------------------------

_CM_W = 512  # buckets per row


_CM_D = 4  # hash rows


_CM_K = 15  # verification probes (exact top-k tokens)


def _cm_bucket_sql(row: str, item: str) -> str:
    return (
        f"{content_hash64_sql(f'CAST({row} AS VARCHAR) || :colon: || {item}')}"
        f" % {_CM_W}"
    ).replace(":colon:", "':'")


_CM_ORACLE = f"""
WITH toks AS (
    SELECT unnest({lower_tokens_sql('text')}) AS item FROM documents
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
    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(lower_tokens("text")).alias("item"))
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


_KMV_M_DBL = repr(float(_KMV_M))


# Same hash expression the Spark side gets from content_hash64 — one
# definition in operators/dedup.py, mirrored here through its _sql twin
# so a future hash-width change cannot desynchronize the oracle.
_KMV_HV_SQL = content_hash64_sql("'kmv:' || CAST(o_custkey AS VARCHAR)")


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
# Weighted percentile — cumulative-weight order statistic
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH w AS (
    SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
),
cum AS (
    SELECT *,
           SUM(wt) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cumw,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS total_weight
    FROM w
),
q AS (
    SELECT *, row_number() OVER (
        PARTITION BY l_returnflag
        ORDER BY l_extendedprice, l_orderkey, l_linenumber
    ) AS rn
    FROM cum WHERE 2 * cumw >= total_weight
)
SELECT l_returnflag,
       l_extendedprice AS weighted_median_price,
       CAST(total_weight AS BIGINT) AS total_weight
FROM q WHERE rn = 1
"""


@register(
    "agg_weighted_percentile",
    _WMEDIAN_ORACLE,
    doc="Weighted median (the quantity-weighted 50th-percentile price "
    "per return flag) by the cumulative-weight order statistic: one "
    "running integer weight sum in price order, the median is the "
    "first row where 2*cumw >= total — no interpolation, no float "
    "arithmetic, fully tie-broken by the line's unique key, so the "
    "answer is a VALUE FROM THE DATA and hash-exact on any engine. "
    "The aggregate family's missing classic beside exact/approx "
    "unweighted percentiles. Scale: one shuffle on the group key; "
    "the running sum is the standard window pass (at extreme group "
    "sizes swap in the two-pass bucketed quantile like "
    "agg_approx_percentile).",
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("wt"),
    )
    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    wo = (
        W.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = li.select(
        "*",
        F.sum("wt").over(wo).alias("cumw"),
        F.sum("wt").over(W.partitionBy("l_returnflag")).alias(
            "total_weight"
        ),
    )
    q = cum.filter(2 * F.col("cumw") >= F.col("total_weight")).select(
        "*",
        F.row_number()
        .over(W.partitionBy("l_returnflag").orderBy(*order))
        .alias("rn"),
    )
    return q.filter(F.col("rn") == 1).select(
        "l_returnflag",
        F.col("l_extendedprice").alias("weighted_median_price"),
        F.col("total_weight").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands — consecutive-day activity streaks
# ---------------------------------------------------------------------------

_STREAK_ISLANDS_ORACLE = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
anchored AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY d) AS INT) AS anchor
    FROM days
),
islands AS (
    SELECT user_id, anchor,
           CAST(COUNT(*) AS BIGINT) AS streak_days,
           MIN(d) AS streak_start
    FROM anchored GROUP BY user_id, anchor
),
ranked AS (
    SELECT user_id, streak_days, streak_start,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY streak_days DESC, streak_start ASC) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_streaks,
           CAST(SUM(streak_days) OVER (PARTITION BY user_id) AS BIGINT)
               AS n_active_days
    FROM islands
)
SELECT user_id, n_active_days, n_streaks,
       streak_days AS max_streak_days,
       streak_start AS max_streak_start
FROM ranked WHERE rn = 1
"""


@register(
    "win_streak_islands",
    _STREAK_ISLANDS_ORACLE,
    doc="Gaps-and-islands — the classic consecutive-runs window "
    "pattern (user activity streaks): distinct active days anchor by "
    "`date - row_number()` (consecutive days share an anchor), "
    "islands aggregate to streaks, and each user reports active-day "
    "total, streak count, and the longest streak (ties to the "
    "earliest start — fully deterministic, all date/integer "
    "arithmetic). Completes the window family beside sessions "
    "(win_session_gap sessionizes by GAP LENGTH; islands segment by "
    "exact calendar adjacency). Scale: two window passes partitioned "
    "by user — the same user-cardinality shuffle as every "
    "session/funnel query here.",
)
def win_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    anchored = days.select(
        "user_id",
        "d",
        F.date_sub(
            F.col("d"),
            F.row_number().over(
                W.partitionBy("user_id").orderBy("d")
            ),
        ).alias("anchor"),
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.count("*").cast("bigint").alias("streak_days"),
        F.min("d").alias("streak_start"),
    )
    wu = W.partitionBy("user_id")
    ranked = islands.select(
        "user_id",
        "streak_days",
        "streak_start",
        F.row_number()
        .over(
            wu.orderBy(
                F.col("streak_days").desc(), F.col("streak_start").asc()
            )
        )
        .alias("rn"),
        F.count("*").over(wu).cast("bigint").alias("n_streaks"),
        F.sum("streak_days").over(wu).cast("bigint").alias(
            "n_active_days"
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id",
        "n_active_days",
        "n_streaks",
        F.col("streak_days").alias("max_streak_days"),
        F.col("streak_start").alias("max_streak_start"),
    )


# ---------------------------------------------------------------------------
# Mergeable histogram-quantile sketch — the distributed percentile
# estimator beside the exact fpq percentiles
# ---------------------------------------------------------------------------

# Fixed integer bins of width 1000 over l_extendedprice (domain
# ~[900, 105k] -> ~105 bins at any SF). The histogram IS the mergeable
# sketch: per-partition partials combine map-side, and bin cardinality
# is bounded by the value DOMAIN, not the data size — the property
# that makes it a sketch. Estimated quantile = the lower bound of the
# smallest bin whose cumulative count reaches ceil(p*n), stated in
# integer thousandths of the bin width.
_HIST_BIN_WIDTH = 1000


_HIST_QUANTILES = ((25, "q25"), (50, "q50"), (75, "q75"), (99, "q99"))


def _hist_quantiles_oracle() -> str:
    qcols = ", ".join(
        f"CAST(MIN(CASE WHEN 100 * cum >= {p} * n THEN bin_lo END) "
        f"AS BIGINT) AS {name}"
        for p, name in _HIST_QUANTILES
    )
    return f"""
WITH b AS (
    SELECT CAST(floor(l_extendedprice / {_HIST_BIN_WIDTH}) AS BIGINT)
               AS bin,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
cums AS (
    SELECT bin, c,
           bin * {_HIST_BIN_WIDTH} AS bin_lo,
           SUM(c) OVER (ORDER BY bin) AS cum,
           SUM(c) OVER () AS n
    FROM b
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       {qcols}
FROM cums
"""


@register(
    "agg_histogram_quantiles",
    _hist_quantiles_oracle(),
    doc="Mergeable histogram-quantile sketch — the distributed "
    "percentile estimator (t-digest's fixed-bin cousin) beside the "
    "exact fpq percentiles: values bucket into fixed integer bins "
    "(width 1000 over l_extendedprice, ~105 bins at ANY scale "
    "because bin count is bounded by the value DOMAIN, not the row "
    "count), per-partition partials combine map-side, and each "
    "quantile reads off as the lower bound of the first bin whose "
    "cumulative count reaches ceil(p*n) — the integer "
    "cross-multiplication 100*cum >= p*n, no float ever decides. "
    "The cumulative window runs over the ~105-row bin table, never "
    "the data. This is the sketch a 1000-executor job publishes "
    "when exact order statistics would need a full sort.",
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.floor(F.col("l_extendedprice") / _HIST_BIN_WIDTH)
            .cast("long")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cums = b.select(
        "bin",
        "c",
        (F.col("bin") * _HIST_BIN_WIDTH).alias("bin_lo"),
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qcols = [
        F.min(
            F.when(100 * F.col("cum") >= p * F.col("n"), F.col("bin_lo"))
        )
        .cast("bigint")
        .alias(name)
        for p, name in _HIST_QUANTILES
    ]
    return cums.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        *qcols,
    )


# ---------------------------------------------------------------------------
# agg_skew_kurtosis — 3rd/4th standardized moments from exact power sums
# ---------------------------------------------------------------------------

_SKEWKURT_ORACLE = f"""
WITH s AS (
    SELECT l_returnflag,
           CAST(COUNT(l_quantity) AS BIGINT) AS n,
           {dsum_sql('l_quantity', 6)} AS s1,
           {dsum_sql('l_quantity * l_quantity', 6)} AS s2,
           {dsum_sql('l_quantity * l_quantity * l_quantity', 6)} AS s3,
           {dsum_sql(
               'l_quantity * l_quantity * l_quantity * l_quantity', 6
           )} AS s4
    FROM lineitem GROUP BY l_returnflag
),
m AS (
    SELECT l_returnflag, n,
           s1 / CAST(n AS DOUBLE) AS m1,
           s2 / CAST(n AS DOUBLE) AS m2,
           s3 / CAST(n AS DOUBLE) AS m3,
           s4 / CAST(n AS DOUBLE) AS m4
    FROM s
),
c AS (
    SELECT l_returnflag, n, m1,
           m2 - m1 * m1 AS v,
           m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1 AS c3,
           m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2
              - 3.0 * m1 * m1 * m1 * m1 AS c4
    FROM m
)
SELECT l_returnflag, n,
       {fpq_sql('m1', 8)} AS mean_qty,
       {fpq_sql('c3 / (v * sqrt(v))', 8)} AS skewness,
       {fpq_sql('c4 / (v * v) - 3.0', 8)} AS excess_kurtosis
FROM c
"""


@register(
    "agg_skew_kurtosis",
    _SKEWKURT_ORACLE,
    doc="Population skewness and excess kurtosis of quantity per return "
    "flag, computed from DECIMAL-EXACT raw power sums (sum x..x^4) "
    "combined into central moments in double with an identical "
    "expression shape on both engines — never the engines' one-pass "
    "accumulators, whose partial-merge order is nondeterministic under "
    "parallelism. Extends agg_stats_suite (covar/corr/stddev) to the "
    "3rd/4th moments used for distribution-shape data profiling. One "
    "map-side-combinable hash aggregate; fixed-point at 1e-8 absorbs "
    "any final-ulp residue.",
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = F.col("l_quantity")
    s = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count("l_quantity").cast("bigint").alias("n"),
            dsum(q, 6).alias("s1"),
            dsum(q * q, 6).alias("s2"),
            dsum(q * q * q, 6).alias("s3"),
            dsum(q * q * q * q, 6).alias("s4"),
        )
    )
    n_d = F.col("n").cast("double")
    m1 = (F.col("s1") / n_d).alias("m1")
    m = s.select(
        "l_returnflag", "n", m1,
        (F.col("s2") / n_d).alias("m2"),
        (F.col("s3") / n_d).alias("m3"),
        (F.col("s4") / n_d).alias("m4"),
    )
    v = F.col("m2") - F.col("m1") * F.col("m1")
    c3 = (
        F.col("m3")
        - F.lit(3.0) * F.col("m1") * F.col("m2")
        + F.lit(2.0) * F.col("m1") * F.col("m1") * F.col("m1")
    )
    c4 = (
        F.col("m4")
        - F.lit(4.0) * F.col("m1") * F.col("m3")
        + F.lit(6.0) * F.col("m1") * F.col("m1") * F.col("m2")
        - F.lit(3.0) * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
    )
    c = m.select(
        "l_returnflag", "n", "m1",
        v.alias("v"), c3.alias("c3"), c4.alias("c4"),
    )
    return c.select(
        "l_returnflag",
        "n",
        fpq(F.col("m1"), 8).alias("mean_qty"),
        fpq(F.col("c3") / (F.col("v") * F.sqrt(F.col("v"))), 8).alias(
            "skewness"
        ),
        fpq(F.col("c4") / (F.col("v") * F.col("v")) - F.lit(3.0), 8).alias(
            "excess_kurtosis"
        ),
    )


# ---------------------------------------------------------------------------
# win_rsi — Relative Strength Index over the daily order-value series
# ---------------------------------------------------------------------------

_RSI_PERIOD = 14


_RSI_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL}),
d AS (
    SELECT o_orderpriority, day, v,
           v - lag(v) OVER (
               PARTITION BY o_orderpriority ORDER BY day
           ) AS delta,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority ORDER BY day
           ) AS BIGINT) AS rn
    FROM daily
),
gl AS (
    SELECT o_orderpriority, day, rn,
           CAST(SUM(CAST(greatest(delta, 0.0) AS DECIMAL(28,6))) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN {_RSI_PERIOD - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS g,
           CAST(SUM(CAST(greatest(-delta, 0.0) AS DECIMAL(28,6))) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN {_RSI_PERIOD - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS l
    FROM d
)
SELECT o_orderpriority, day,
       CASE WHEN g + l = 0.0 THEN 50.0
            ELSE {fpq_sql('100.0 * g / (g + l)', 6)} END AS rsi
FROM gl WHERE rn >= {_RSI_PERIOD + 1}
"""


@register(
    "win_rsi",
    _RSI_ORACLE,
    doc="Relative Strength Index (RSI-14) over the daily order-value "
    "series per priority class — the momentum indicator beside "
    "win_drawdown_max and win_zscore_rolling in the financial-window "
    "family. Daily values are decimal-exact sums; deltas split into "
    "gain/loss legs; the 14-row rolling sums go through per-row "
    "DECIMAL casts (window frames are sequential scans, but the "
    "decimal cast keeps the two engines' accumulation identical); "
    "RSI = 100*g/(g+l) with the flat-market g+l=0 case pinned to 50. "
    "Rows before the warm-up window are dropped. Scale: the series is "
    "one row per (priority, day) — the window pass runs over an "
    "already-aggregated frame orders of magnitude smaller than the "
    "fact table.",
)
def win_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("day")
    frame = w.rowsBetween(-(_RSI_PERIOD - 1), 0)
    d = daily.select(
        "o_orderpriority",
        "day",
        (F.col("v") - F.lag("v").over(w)).alias("delta"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )
    g = (
        F.sum(
            F.greatest(F.col("delta"), F.lit(0.0)).cast("decimal(28,6)")
        )
        .over(frame)
        .cast("double")
    )
    loss = (
        F.sum(
            F.greatest(-F.col("delta"), F.lit(0.0)).cast("decimal(28,6)")
        )
        .over(frame)
        .cast("double")
    )
    gl = d.select(
        "o_orderpriority", "day", "rn", g.alias("g"), loss.alias("l")
    )
    rsi = F.when(F.col("g") + F.col("l") == 0.0, F.lit(50.0)).otherwise(
        fpq(F.lit(100.0) * F.col("g") / (F.col("g") + F.col("l")), 6)
    )
    return gl.filter(F.col("rn") >= _RSI_PERIOD + 1).select(
        "o_orderpriority", "day", rsi.alias("rsi")
    )


# ---------------------------------------------------------------------------
# win_bollinger — rolling mean +/- 2 sigma bands over the daily series
# ---------------------------------------------------------------------------

_BOLL_WINDOW = 20


_BOLL_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL}),
w AS (
    SELECT o_orderpriority, day, v,
           CAST(row_number() OVER (
               PARTITION BY o_orderpriority ORDER BY day
           ) AS BIGINT) AS rn,
           CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN {_BOLL_WINDOW - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS s1,
           CAST(SUM(CAST(v * v AS DECIMAL(38,6))) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN {_BOLL_WINDOW - 1} PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS s2
    FROM daily
),
m AS (
    SELECT o_orderpriority, day, v,
           s1 / {_BOLL_WINDOW}.0 AS mu,
           sqrt(greatest(s2 / {_BOLL_WINDOW}.0
                - (s1 / {_BOLL_WINDOW}.0) * (s1 / {_BOLL_WINDOW}.0), 0.0))
               AS sigma
    FROM w WHERE rn >= {_BOLL_WINDOW}
)
SELECT o_orderpriority, day,
       {fpq_sql('mu', 4)} AS mid,
       {fpq_sql('mu - 2.0 * sigma', 4)} AS lower_band,
       {fpq_sql('mu + 2.0 * sigma', 4)} AS upper_band,
       CAST(CASE WHEN v > mu + 2.0 * sigma THEN 1
                 WHEN v < mu - 2.0 * sigma THEN -1
                 ELSE 0 END AS INT) AS band_break
FROM m
"""


@register(
    "win_bollinger",
    _BOLL_ORACLE,
    doc="Bollinger bands (20-day rolling mean +/- 2 sigma) over the "
    "daily order-value series per priority — the volatility envelope "
    "beside win_rsi's momentum. Rolling first/second moments go "
    "through per-row DECIMAL casts inside the frame so both engines "
    "accumulate identically; sigma = sqrt(max(E[x^2]-E[x]^2, 0)) with "
    "an identical expression shape (the greatest() guards the "
    "constant-series case where cancellation can dip epsilon-negative "
    "on either engine); band placement of the raw value is emitted as "
    "an integer break flag. Warm-up rows are dropped. Same scale "
    "shape as win_rsi: the window pass runs over the tiny "
    "pre-aggregated daily frame.",
)
def win_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("day")
    frame = w.rowsBetween(-(_BOLL_WINDOW - 1), 0)
    base = daily.select(
        "o_orderpriority",
        "day",
        "v",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum(F.col("v").cast("decimal(28,6)"))
        .over(frame)
        .cast("double")
        .alias("s1"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,6)"))
        .over(frame)
        .cast("double")
        .alias("s2"),
    ).filter(F.col("rn") >= _BOLL_WINDOW)
    k = float(_BOLL_WINDOW)
    mu = F.col("s1") / F.lit(k)
    sigma = F.sqrt(
        F.greatest(
            F.col("s2") / F.lit(k) - mu * mu,
            F.lit(0.0),
        )
    )
    m = base.select(
        "o_orderpriority", "day", "v", mu.alias("mu"), sigma.alias("sigma")
    )
    return m.select(
        "o_orderpriority",
        "day",
        fpq(F.col("mu"), 4).alias("mid"),
        fpq(F.col("mu") - F.lit(2.0) * F.col("sigma"), 4).alias("lower_band"),
        fpq(F.col("mu") + F.lit(2.0) * F.col("sigma"), 4).alias("upper_band"),
        F.when(F.col("v") > F.col("mu") + F.lit(2.0) * F.col("sigma"), 1)
        .when(F.col("v") < F.col("mu") - F.lit(2.0) * F.col("sigma"), -1)
        .otherwise(0)
        .cast("int")
        .alias("band_break"),
    )


# ---------------------------------------------------------------------------
# limit_keyset_page — seek-method pagination
# ---------------------------------------------------------------------------

_PAGE_SIZE = 15


_PAGE_CURSOR_DATE = "1999-06-01"


_PAGE_CURSOR_KEY = 0


_KEYSET_ORACLE = f"""
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
FROM orders
WHERE CAST(o_orderdate AS DATE) > DATE '{_PAGE_CURSOR_DATE}'
   OR (CAST(o_orderdate AS DATE) = DATE '{_PAGE_CURSOR_DATE}'
       AND o_orderkey > {_PAGE_CURSOR_KEY})
ORDER BY CAST(o_orderdate AS DATE), o_orderkey
LIMIT {_PAGE_SIZE}
"""


@register(
    "limit_keyset_page",
    _KEYSET_ORACLE,
    doc="Keyset (seek-method) pagination: the page AFTER a cursor in a "
    "stable (o_orderdate, o_orderkey) ordering — the API-serving "
    "pattern that replaces OFFSET (which must scan and discard every "
    "skipped row; page 10,000 of an OFFSET plan reads 10,000 pages). "
    "The cursor predicate is sargable, so the scan prunes to rows "
    "past the cursor (parquet min/max footer skipping at scale), and "
    "the LIMIT is a TakeOrdered — per-partition top-15 then a 15-row "
    "merge, never a global sort. Ordering is total (unique key in "
    "the cursor), so pages are gap-free and overlap-free at any "
    "concurrency.",
)
def limit_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.to_date("o_orderdate")
    cursor_d = F.lit(_PAGE_CURSOR_DATE).cast("date")
    return (
        t(spark, sf_dir, "orders")
        .filter(
            (d > cursor_d)
            | ((d == cursor_d) & (F.col("o_orderkey") > _PAGE_CURSOR_KEY))
        )
        .select(
            "o_orderkey", d.alias("o_orderdate"), "o_totalprice"
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_SIZE)
    )


# ---------------------------------------------------------------------------
# win_rolling_median — rolling exact median (robust smoother)
# ---------------------------------------------------------------------------

_MED_HALF = 7  # centered 15-row frame


_ROLLMED_ORACLE = f"""
WITH daily AS ({PRIORITY_DAILY_REVENUE_SQL})
SELECT o_orderpriority, day,
       {fpq_sql('quantile_cont(v, 0.5) OVER ('
                'PARTITION BY o_orderpriority ORDER BY day '
                f'ROWS BETWEEN {_MED_HALF} PRECEDING '
                f'AND {_MED_HALF} FOLLOWING)', 4)} AS med
FROM daily
"""


@register(
    "win_rolling_median",
    _ROLLMED_ORACLE,
    doc="Rolling exact median over a centered 15-row frame of the "
    "daily order-value series — the robust smoother that, unlike "
    "win_moving_avg, one outlier day cannot drag (the median filter "
    "of signal processing). Spark evaluates percentile() as a window "
    "aggregate over the same ROWS frame DuckDB's quantile_cont uses; "
    "both interpolate the even-count midpoint with the same formula "
    "and the inputs are decimal-exact daily sums, so the 1e-4 "
    "fixed-point quantization only absorbs final-ulp noise. Edge "
    "rows keep their truncated frames (identical on both engines) "
    "rather than being dropped — a smoother that loses its first "
    "week is not a smoother. Runs over the tiny pre-aggregated "
    "daily frame, not the fact table.",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = priority_daily_revenue(spark, sf_dir)
    frame = (
        W.partitionBy("o_orderpriority")
        .orderBy("day")
        .rowsBetween(-_MED_HALF, _MED_HALF)
    )
    med = F.expr("percentile(v, 0.5)").over(frame)
    return daily.select(
        "o_orderpriority", "day", fpq(med, 4).alias("med")
    )


# ---------------------------------------------------------------------------
# join_lateral_topk — correlated LATERAL subquery join
# ---------------------------------------------------------------------------

_LATERAL_ORACLE = """
SELECT n.n_name, c.c_custkey, c.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 3
) c
"""


@register(
    "join_lateral_topk",
    _LATERAL_ORACLE,
    doc="Correlated LATERAL join: top-3 customers by balance FOR EACH "
    "nation, written as the SQL-standard LATERAL subquery (the "
    "operator form users port from Postgres/DuckDB) rather than the "
    "window-function idiom win_topn_recent uses — this entry proves "
    "the engine accepts the declarative form AND that Catalyst "
    "decorrelates it into the same shuffle-join + per-group-limit "
    "plan instead of executing one subquery per outer row (the "
    "naive O(outer x inner) evaluation). Fully tie-broken by "
    "(balance DESC, custkey). At scale the decorrelated plan is one "
    "hash join + WindowGroupLimit — never a re-scan per nation.",
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "nation").createOrReplaceTempView("lat_nation")
    t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_custkey, c.c_acctbal
        FROM lat_nation n,
        LATERAL (
            SELECT c_custkey, c_acctbal
            FROM lat_customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 3
        ) c
        """
    )


# ---------------------------------------------------------------------------
# join_bucketed_noshuffle — bucketed tables join without an Exchange
# ---------------------------------------------------------------------------

_BUCKETS = 8


_BUCKETED_ORACLE = f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@register(
    "join_bucketed_noshuffle",
    _BUCKETED_ORACLE,
    doc="Bucketed-table co-located join: both fact tables are "
    "persisted bucketBy(8, orderkey) + sortBy (operators/skew.py "
    "write_bucketed), so the orders-lineitem equi-join runs WITHOUT "
    "a shuffle Exchange on either side — the storage-layout move "
    "that, at 100 TB, converts every repeated join on the warehouse's "
    "hottest key from a full network shuffle into a local merge. The "
    "query ASSERTS the property at run time (plan_has_exchange must "
    "be False on the join subplan — a regression fails loudly rather "
    "than silently re-shuffling) and then proves value-correctness "
    "via the revenue rollup against the oracle's plain join. The "
    "only Exchange left in the whole plan is the final 5-group "
    "rollup's.",
)
def join_bucketed_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.skew import (
        plan_has_exchange,
        write_bucketed,
    )

    base = scratch("join_bucketed_noshuffle", sf_dir)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    write_bucketed(
        li, "r11b_bucketed_lineitem", "l_orderkey", _BUCKETS, f"{base}/li"
    )
    write_bucketed(
        orders, "r11b_bucketed_orders", "o_orderkey", _BUCKETS, f"{base}/o"
    )
    bl = spark.table("r11b_bucketed_lineitem")
    bo = spark.table("r11b_bucketed_orders")
    joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
    if plan_has_exchange(joined):
        raise AssertionError(
            "bucketed join plan regressed: shuffle Exchange present"
        )
    rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        dsum(rev, 4).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# win_winsorized_mean — robust mean via p5/p95 clamping
# ---------------------------------------------------------------------------

_WINSOR_LO = 0.05


_WINSOR_HI = 0.95


_WINSOR_ORACLE = f"""
WITH lim AS (
    SELECT c_mktsegment,
           {fpq_sql(f'quantile_cont(c_acctbal, {_WINSOR_LO})', 6)} AS lo,
           {fpq_sql(f'quantile_cont(c_acctbal, {_WINSOR_HI})', 6)} AS hi
    FROM customer GROUP BY c_mktsegment
),
w AS (
    SELECT c.c_mktsegment,
           greatest(l.lo, least(l.hi, c.c_acctbal)) AS clamped,
           CASE WHEN c.c_acctbal < l.lo OR c.c_acctbal > l.hi
                THEN 1 ELSE 0 END AS clipped
    FROM customer c JOIN lim l ON l.c_mktsegment = c.c_mktsegment
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped,
       {fpq_sql(davg_sql('clamped', 6), 6)} AS winsorized_mean
FROM w GROUP BY c_mktsegment
"""


@register(
    "win_winsorized_mean",
    _WINSOR_ORACLE,
    doc="Winsorized mean per market segment: balances clamp to the "
    "segment's quantized [p5, p95] before averaging — the robust "
    "location estimate that, unlike a trimmed mean, keeps n constant "
    "(every row still votes, outliers just vote at the fence). The "
    "percentile fences are interpolated then FIXED-POINT QUANTIZED "
    "(fpq at 1e-6) BEFORE the clamp on both engines, so a final-ulp "
    "difference in the interpolation can never flip a borderline "
    "row's clamp decision — the same pin every fpq-threshold query "
    "uses; the clamped average is a decimal-exact davg. Plan: one "
    "per-segment percentile aggregate joined back (broadcast — "
    "segment cardinality), one scan with map-side-combined moments.",
)
def win_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    lim = cust.groupBy("c_mktsegment").agg(
        fpq(F.expr(f"percentile(c_acctbal, {_WINSOR_LO})"), 6).alias("lo"),
        fpq(F.expr(f"percentile(c_acctbal, {_WINSOR_HI})"), 6).alias("hi"),
    )
    w = cust.join(F.broadcast(lim), "c_mktsegment").select(
        "c_mktsegment",
        F.greatest(
            F.col("lo"), F.least(F.col("hi"), F.col("c_acctbal"))
        ).alias("clamped"),
        F.when(
            (F.col("c_acctbal") < F.col("lo"))
            | (F.col("c_acctbal") > F.col("hi")),
            1,
        )
        .otherwise(0)
        .alias("clipped"),
    )

    return w.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("clipped").cast("bigint").alias("n_clipped"),
        fpq(davg("clamped", 6), 6).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# agg_percent_of_parent — hierarchy share (nation within region)
# ---------------------------------------------------------------------------

_POP_ORACLE = f"""
WITH rev AS (
    SELECT n.n_name AS nation, r.r_name AS region,
           {dsum_sql('o.o_totalprice', 2)} AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY n.n_name, r.r_name
),
tot AS (
    SELECT region, {dsum_sql('revenue', 2)} AS region_revenue
    FROM rev GROUP BY region
)
SELECT rev.region, rev.nation,
       {fpq_sql('rev.revenue', 2)} AS revenue,
       {fpq_sql('tot.region_revenue', 2)} AS region_revenue,
       {fpq_sql('rev.revenue / tot.region_revenue', 6)} AS share_of_region
FROM rev JOIN tot ON tot.region = rev.region
"""


@register(
    "agg_percent_of_parent",
    _POP_ORACLE,
    doc="Percent-of-parent in the geography hierarchy: each nation's "
    "revenue as a share of its REGION's total — the drill-down "
    "reporting shape (win_share_of_total shares against the grand "
    "total; rollup/cube emit the parent rows but not the ratio). "
    "Two decimal-exact aggregates — nation grain, then region grain "
    "REAGGREGATED FROM the nation frame so parent and child totals "
    "can never disagree — joined back on the tiny region key "
    "(broadcast); the share divides two decimal-derived doubles and "
    "quantizes at 1e-6. Star join broadcasts both dims; one fact "
    "shuffle total.",
)
def agg_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.col("r_name").alias("region")
        )
        .agg(dsum("o_totalprice", 2).alias("revenue"))
    )
    tot = rev.groupBy("region").agg(dsum("revenue", 2).alias("region_revenue"))
    return rev.join(F.broadcast(tot), "region").select(
        "region",
        "nation",
        fpq(F.col("revenue"), 2).alias("revenue"),
        fpq(F.col("region_revenue"), 2).alias("region_revenue"),
        fpq(F.col("revenue") / F.col("region_revenue"), 6).alias(
            "share_of_region"
        ),
    )


# ---------------------------------------------------------------------------
# join_asof_tolerance — as-of join with a bounded staleness window
# ---------------------------------------------------------------------------

_ASOF_TOL = "7 DAY"


_ASOF_TOL_ORACLE = f"""
SELECT purchase_id, user_id, purchase_ts, last_view_id, last_view_ts FROM (
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           v.event_id AS last_view_id, v.ts AS last_view_ts,
           row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY v.ts DESC NULLS LAST, v.event_id DESC NULLS LAST
           ) AS rn
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
     AND v.ts > p.ts - INTERVAL {_ASOF_TOL}
) WHERE rn = 1
"""


@register(
    "join_asof_tolerance",
    _ASOF_TOL_ORACLE,
    doc="Backward as-of join with a staleness tolerance (pandas "
    "merge_asof's `tolerance`, Flink's interval join): the latest "
    "prior view per purchase, but only if it happened within the "
    "last 7 days — older matches yield NULL instead of stale "
    "attribution. Beyond correctness, the tolerance is the SCALE "
    "lever join_asof lacks: the range predicate bounds each "
    "purchase's candidate fan-out to one window of history (the "
    "batch analog of the streaming interval join's watermark-bounded "
    "state), where an untolerated as-of must consider a user's "
    "entire past. Same equi-join + per-purchase window shape as "
    "join_asof; unmatched purchases survive via the left join.",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("last_view_id"),
        F.col("ts").alias("last_view_ts"),
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("last_view_ts") <= F.col("purchase_ts"))
        & (
            F.col("last_view_ts")
            > F.expr(f"purchase_ts - INTERVAL {_ASOF_TOL}")
        ),
        "left",
    )
    w = W.partitionBy("purchase_id").orderBy(
        F.col("last_view_ts").desc_nulls_last(),
        F.col("last_view_id").desc_nulls_last(),
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "last_view_id",
            "last_view_ts",
        )
    )


# ---------------------------------------------------------------------------
# agg_hll_distinct — deterministic HyperLogLog distinct sketch
# ---------------------------------------------------------------------------

HLL_M = 256  # registers (p=8)


_HLL_CAP = 50  # max rho: 60-bit hash - 8 register bits leaves 52 value
# bits; capping at 50 keeps the integer inverse-power sum <= 2^58


_HLL_ALPHA = 0.7182725932495458  # 0.7213/(1 + 1.079/256), the m=256
# bias constant from Flajolet et al. 2007 — identical literal on both
# sides, so the single float multiply/divide chain is IEEE-identical


def hll_estimate_sql() -> str:
    """The HLL estimate over ``s`` (the exact inverse-power sum) and
    ``n_registers``: alpha*m^2/S, one float multiply/divide chain. Below
    2.5m the raw estimator is badly biased; with V empty registers,
    linear counting m*ln(m/V) is the standard small-range correction
    (Flajolet et al. fig. 3). The oracles inline it and the engine runs
    it through F.expr, so both sides evaluate the same CASE."""
    raw = (
        f"CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS "
        f"DOUBLE) * CAST({2 ** _HLL_CAP} AS DOUBLE) / CAST(s AS DOUBLE)"
    )
    return (
        f"CASE WHEN ({raw}) <= {2.5 * HLL_M} AND n_registers < {HLL_M}"
        f" THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE)"
        f" / CAST({HLL_M} - n_registers AS DOUBLE))"
        f" ELSE ({raw}) END"
    )


def hll_rho() -> Column:
    """Register rank of hash ``hv``: trailing-zero count + 1 of the value
    bits above the register index, a pure integer expression capped at
    _HLL_CAP (``hv / HLL_M`` is exact: hv < 2^60 < 2^53*256)."""
    return F.when(
        (F.col("hv") / HLL_M).cast("long") == 0, F.lit(_HLL_CAP)
    ).otherwise(
        F.least(
            F.expr(
                f"bit_count(((hv div {HLL_M}) & -(hv div {HLL_M}))"
                " - 1) + 1"
            ),
            F.lit(_HLL_CAP),
        )
    )


def hll_sums() -> list[Column]:
    """``s`` (the exact integer sum of 2^(_HLL_CAP-M_j), empty registers at
    full weight) and ``n_registers`` over merged registers ``mr``."""
    return [
        (
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_CAP} - mr)")
            )
            + (HLL_M - F.count("*")) * F.lit(2 ** _HLL_CAP)
        )
        .cast("bigint")
        .alias("s"),
        F.count("*").cast("bigint").alias("n_registers"),
    ]


def hll_oracle() -> str:
    h = content_hash64_sql("'hll:' || CAST(o_custkey AS VARCHAR)")
    est = hll_estimate_sql()
    return f"""
WITH h AS (
    SELECT o_orderpriority AS grp, {h} AS hv, o_custkey
    FROM orders
),
r AS (
    SELECT grp, hv % {HLL_M} AS reg,
           CASE WHEN hv // {HLL_M} = 0 THEN {_HLL_CAP}
                ELSE LEAST(bit_count(((hv // {HLL_M})
                           & -(hv // {HLL_M})) - 1) + 1, {_HLL_CAP})
           END AS rho
    FROM h
),
m AS (SELECT grp, reg, MAX(rho) AS mr FROM r GROUP BY grp, reg),
s AS (
    SELECT grp,
           CAST(SUM(CAST(2 AS HUGEINT) ** ({_HLL_CAP} - mr)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * CAST({2 ** _HLL_CAP} AS BIGINT)
               AS s,
           CAST(COUNT(*) AS BIGINT) AS n_registers
    FROM m GROUP BY grp
),
x AS (
    SELECT grp, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
    FROM h GROUP BY grp
)
SELECT s.grp, x.n_exact, s.n_registers,
       {fpq_sql(est, 4)} AS est_distinct
FROM s JOIN x ON s.grp = x.grp
"""


@register(
    "agg_hll_distinct",
    hll_oracle(),
    doc="Deterministic HyperLogLog distinct-count sketch (Flajolet et "
    "al. 2007) per order priority over customer keys: md5-based 60-bit "
    "hash -> 256 registers (low 8 bits) x trailing-zero rank of the "
    "value bits (rho = bit_count((w & -w) - 1) + 1 — a pure integer "
    "expression, so the registers are bit-identical on any engine, "
    "unlike approx_count_distinct whose HLL++ register layout is "
    "engine-private). The inverse-power sum is computed as the exact "
    "INTEGER sum of 2^(50-M_j) (<= 2^58, no float accumulation "
    "order), empty registers included at full weight; only the final "
    "alpha*m^2/S estimate is one float multiply/divide chain, "
    "fixed-point quantized. n_exact rides along so the sketch error "
    "is visible in the result itself. Scale: one hash aggregate to "
    "(group x 256) registers, then a 256-row-per-group rollup — the "
    "mergeable-sketch shape that replaces COUNT(DISTINCT)'s full "
    "shuffle at 100 TB. Extends the sketch family "
    "(agg_countmin_sketch, kmv_overlap; operators/sketches.py).",
)
def agg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = content_hash64(
        F.concat(F.lit("hll:"), F.col("o_custkey").cast("string"))
    )
    base = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        h.alias("hv"),
        "o_custkey",
    )
    regs = (
        base.select(
            "grp",
            (F.col("hv") % HLL_M).alias("reg"),
            hll_rho().alias("rho"),
        )
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    s = regs.groupBy("grp").agg(*hll_sums())
    x = base.groupBy("grp").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_exact")
    )
    est = F.expr(hll_estimate_sql())
    return s.join(x, "grp").select(
        "grp", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# agg_hll_sliding_distinct — 7-day rolling user cardinality via HLL merge
# ---------------------------------------------------------------------------

_HLLW_WINDOW_D = 7


def _hll_sliding_oracle() -> str:
    h = content_hash64_sql("'hll:' || CAST(user_id AS VARCHAR)")
    est = hll_estimate_sql()
    return f"""
WITH h AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
           {h} AS hv
    FROM events
),
r AS (
    SELECT day, hv % {HLL_M} AS reg,
           CASE WHEN hv // {HLL_M} = 0 THEN {_HLL_CAP}
                ELSE LEAST(bit_count(((hv // {HLL_M})
                           & -(hv // {HLL_M})) - 1) + 1, {_HLL_CAP})
           END AS rho
    FROM h
),
daily AS (SELECT day, reg, MAX(rho) AS mr FROM r GROUP BY day, reg),
-- mergeable-sketch property: the 7-day register is the per-register
-- MAX over the daily registers — no re-touching of raw keys
rolled AS (
    SELECT day, reg,
           MAX(mr) OVER (PARTITION BY reg ORDER BY day
                         RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                               AND CURRENT ROW) AS mr
    FROM daily
),
s AS (
    SELECT day,
           CAST(SUM(CAST(2 AS HUGEINT) ** ({_HLL_CAP} - mr)) AS BIGINT)
               + ({HLL_M} - COUNT(*)) * CAST({2 ** _HLL_CAP} AS BIGINT)
               AS s,
           CAST(COUNT(*) AS BIGINT) AS n_registers
    FROM rolled GROUP BY day
),
days AS (SELECT DISTINCT day FROM h),
x AS (
    SELECT d.day,
           CAST(COUNT(DISTINCT h.user_id) AS BIGINT) AS n_exact
    FROM days d JOIN h
      ON h.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
    GROUP BY d.day
)
SELECT s.day, x.n_exact, s.n_registers,
       {fpq_sql(est, 4)} AS est_distinct
FROM s JOIN x ON x.day = s.day
"""


@register(
    "agg_hll_sliding_distinct",
    _hll_sliding_oracle(),
    doc="7-day rolling distinct-user cardinality via MERGED HLL "
    "registers: one pass builds per-(day, register) maxima, then the "
    "rolling window is a per-register MAX over the trailing 7 days — "
    "raw user keys are touched exactly once however long the window, "
    "the property that makes sliding-window COUNT(DISTINCT) feasible "
    "at 100 TB (the naive form re-shuffles every key into every "
    "window it spans; here each day contributes a 256-row register "
    "table and windows merge registers, the agg_hll_distinct/"
    "stream_hll_merge mergeability applied along TIME). Same exact "
    "integer register pipeline + linear-counting small-range branch; "
    "the exact 7-day distinct rides along per day so sketch error is "
    "visible. Scale: register table = days x 256 rows; window state "
    "is dimension-sized forever.",
)
def agg_hll_sliding_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    )
    h = ev.select(
        "day",
        "user_id",
        content_hash64(
            F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
        ).alias("hv"),
    )
    daily = (
        h.select(
            "day",
            (F.col("hv") % HLL_M).alias("reg"),
            hll_rho().alias("rho"),
        )
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("mr"))
    )
    # rolling per-register max over trailing 7 days: rangeBetween on
    # day-number (exact integer days), partitioned by register
    wk = (
        W.partitionBy("reg")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-(_HLLW_WINDOW_D - 1), 0)
    )
    rolled = daily.select(
        "day", "reg", F.max("mr").over(wk).alias("mr")
    )
    s = rolled.groupBy("day").agg(*hll_sums())
    days = h.select("day").distinct()
    x = (
        days.alias("d")
        .join(
            h.alias("e"),
            F.col("e.day").between(
                F.date_sub(F.col("d.day"), _HLLW_WINDOW_D - 1),
                F.col("d.day"),
            ),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.countDistinct("e.user_id").cast("bigint").alias("n_exact")
        )
    )
    est = F.expr(hll_estimate_sql())
    return s.join(x, "day").select(
        "day", "n_exact", "n_registers", fpq(est, 4).alias("est_distinct")
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
