"""Core relational operators (SURVEY.md §2.1–§2.7) as registry queries.

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

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from evolution_data_warehouse_spark.functions.naming import normalize_name
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    register,
    t,
)

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def _scratch(name: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_SCRATCH, f"{name}_{tag}")


# ---------------------------------------------------------------------------
# §2.1 sources / sinks
# ---------------------------------------------------------------------------


@register(
    "src_csv",
    "SELECT r_regionkey, r_name FROM region",
    doc="CSV scan with header + declared schema. Ref: notebook cell 4 "
    "`load_table` / analytics/data_loader.py:48-50.",
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("src_csv", sf_dir)
    t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(path)


@register(
    "src_json_nested",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="Nested JSON scan + struct flatten. Ref: notebook cell 8, "
    "analytics/data_loader.py:53-55 (pd.json_normalize on communes).",
)
def src_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("src_json_nested", sf_dir)
    nested = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"),
        F.struct(
            F.col("n_name").alias("nom"), F.col("n_regionkey").alias("region")
        ).alias("attrs"),
    )
    nested.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField(
                "attrs",
                T.StructType(
                    [
                        T.StructField("nom", T.StringType()),
                        T.StructField("region", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.select(
        "n_nationkey",
        F.col("attrs.nom").alias("n_name"),
        F.col("attrs.region").alias("n_regionkey"),
    )


_SNK_PARQUET_ORACLE = f"""
SELECT l_returnflag,
       {dsum_sql('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "snk_parquet",
    _SNK_PARQUET_ORACLE,
    doc="Parquet sink + re-scan round trip. Ref: notebook cell 11; "
    "analytics/sql_to_adls_bis.py:119-132 (df.to_parquet per table).",
)
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("snk_parquet", sf_dir)
    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows"))
    )
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


_SNK_JSON_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


@register(
    "snk_json",
    _SNK_JSON_ORACLE,
    doc="JSON sink + re-scan. Ref: ingestion/API/fetch_communes.py:207-218 "
    "(upload_json_to_datalake).",
)
def snk_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch("snk_json", sf_dir)
    agg = t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders")
    )
    agg.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n_orders", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path)


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


@register(
    "dedup_rows",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    doc="Full-row dedup (drop_duplicates). Ref: notebook cell 4/8/9. "
    "Spark: hash-aggregate distinct, map-side partial.",
)
def dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").dropDuplicates()


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
    seed = spark.createDataFrame(
        [("_T", "total"), ("_Z", "unknown")], schema="code string, label string"
    )
    derived = t(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("string").alias("code"),
        F.col("r_name").alias("label"),
    )
    return seed.unionByName(derived)


_SNK_CLUSTERED_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
WHERE o_custkey < 50
"""


@register(
    "snk_clustered_prune",
    _SNK_CLUSTERED_ORACLE,
    doc="Range-clustered parquet sink + selective re-read: the table is "
    "written with each file owning a disjoint o_custkey range "
    "(warehouse/etl.py write_clustered), so the key-range filter on the "
    "re-read prunes whole files from footer stats before any IO — the "
    "layout half of predicate pushdown. Footer disjointness itself is "
    "asserted in tests/test_warehouse.py.",
)
def snk_clustered_prune(spark, sf_dir: str):
    from evolution_data_warehouse_spark.warehouse.etl import write_clustered

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    target = _scratch("snk_clustered", sf_dir)
    path = write_clustered(
        orders, os.path.dirname(target), os.path.basename(target),
        ["o_custkey"],
    )
    return spark.read.parquet(path).filter(F.col("o_custkey") < 50)


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


_SNK_CSV_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


@register(
    "snk_csv",
    _SNK_CSV_ORACLE,
    doc="CSV sink + re-scan round trip (header, explicit schema on the "
    "read back — CSV carries no types, so the reader must declare "
    "them; completes the sink matrix beside parquet/JSON/JDBC/Excel). "
    "Ref: the reference's per-table CSV exports in its staging flow.",
)
def snk_csv(spark, sf_dir: str):
    path = _scratch("snk_csv", sf_dir)
    agg = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )
    agg.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("c_mktsegment string, n_customers long").option(
        "header", True
    ).csv(path)


_SCHEMA_EVO_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(priority_known, 'unknown') AS priority_known,
       COUNT(*) AS n_orders
FROM (
    SELECT CAST(NULL AS VARCHAR) AS priority_known FROM v1
    UNION ALL
    SELECT o_orderpriority FROM v2
)
GROUP BY COALESCE(priority_known, 'unknown')
"""


@register(
    "src_schema_evolution",
    _SCHEMA_EVO_ORACLE,
    doc="Schema evolution on read: a v1 batch (2 columns) and a v2 "
    "batch (adds o_orderpriority) land in one directory; the "
    "mergeSchema read unifies them, v1 rows surfacing NULL for the "
    "added column — the additive-evolution contract an append-only "
    "lake must honor (readers never break when writers add columns). "
    "The rollup buckets NULLs as 'unknown' to keep the check "
    "deterministic.",
)
def src_schema_evolution(spark, sf_dir: str):
    path = _scratch("schema_evo", sf_dir)
    orders = t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    # clear any previous layout first (recursiveFileLookup would pick
    # up stale root-level files beside the subdirs)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p_root = jvm.org.apache.hadoop.fs.Path(path)
    p_root.getFileSystem(hconf).delete(p_root, True)
    # distinct subdirs: no overwrite-then-append window where the
    # directory transiently holds only half the data
    v1.write.mode("overwrite").parquet(f"{path}/v1")
    v2.write.mode("overwrite").parquet(f"{path}/v2")
    merged = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(path)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("unknown")).alias(
                "priority_known"
            )
        )
        .agg(F.count("*").alias("n_orders"))
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
