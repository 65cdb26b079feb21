"""Realistic composite analytics queries (TPC-H Q3/Q5 shapes) — the
end-to-end "a BI user runs this" checks on top of the per-operator
inventory. Same determinism rules as everything else."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    gated_broadcast,
    register,
    t,
)

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register(
    "tpch_q3",
    _Q3_ORACLE,
    doc="Shipping-priority shape (TPC-H Q3): selective dim filter pushed "
    "into the scan, two joins, grouped revenue, fully tie-broken top-10.",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    # Probe-side spread to core width (see common.cpu_repartition: the
    # single-row-group inputs under-split the scan; no-op when wide).
    li = cpu_repartition(
        t(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
        ),
        "l_orderkey",
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Star orientation: probe FROM the fact (lineitem), broadcast the
    # dim side (orders ⋈ customer). Without the hint Spark's size
    # estimate broadcasts the filtered LINEITEM instead — fine at
    # sf0.1, impossible at 100 TB — and the whole probe+agg then runs
    # in the under-split orders scan stage. The hinted shape is the one
    # that scales AND it lets the l_orderkey spread above parallelize
    # the probe; the aggregate reuses that exchange (group keys ⊇
    # partition key → no second shuffle). Inner joins commute, so the
    # result is unchanged (oracle-verified). The dim-branch hint is
    # GATED on source bytes (r15, verdict item 3): q3's orders filter
    # keeps most of orders, so at 100 TB this branch is fact-scale and
    # a hard hint would OOM — past 256 MB of source the hint vanishes
    # and AQE picks the strategy from measured sizes.
    dim = orders.join(cust, cust.c_custkey == orders.o_custkey)
    return (
        li.join(
            gated_broadcast(dim, sf_dir, "orders", "customer"),
            dim.o_orderkey == li.l_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_Q5_ORACLE = f"""
SELECT n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@register(
    "tpch_q5",
    _Q5_ORACLE,
    doc="Local-supplier-volume shape (TPC-H Q5): five joins incl. the "
    "customer-nation == supplier-nation correlation, date-range pruned.",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = cpu_repartition(t(spark, sf_dir, "lineitem"), "l_orderkey")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Star orientation (same rationale as tpch_q3): probe from the fact,
    # never broadcast lineitem. The orders ⋈ customer branch hint is
    # gated on source bytes like q3's — the 1-year orders filter still
    # leaves a fact-scale branch at 100 TB.
    dim = orders.join(cust, cust.c_custkey == orders.o_custkey)
    return (
        li.join(
            gated_broadcast(dim, sf_dir, "orders", "customer"),
            dim.o_orderkey == li.l_orderkey,
        )
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, 4).alias("revenue"))
    )


_Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}
           AS sum_charge,
       {dsum_sql('l_quantity')} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       {dsum_sql('l_extendedprice')} / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       {dsum_sql('l_discount', 4)} / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "tpch_q1",
    _Q1_ORACLE,
    doc="Pricing-summary report (TPC-H Q1, full 8-measure form): one "
    "scan, pushdown date filter, partial+final hash aggregation of "
    "order-independent decimal sums — the canonical map-side-combine "
    "plan.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 4).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            (dsum("l_quantity") / n.cast("double")).alias("avg_qty"),
            (dsum("l_extendedprice") / n.cast("double")).alias("avg_price"),
            (dsum("l_discount", 4) / n.cast("double")).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


_Q6_ORACLE = f"""
SELECT {dsum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "tpch_q6",
    _Q6_ORACLE,
    doc="Forecast-revenue-change shape (TPC-H Q6): pure scan + "
    "conjunctive pushdown predicates + single global aggregate — the "
    "minimal filter-agg plan whose entire cost is the pruned scan.",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue")
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@register(
    "tpch_q4",
    _Q4_ORACLE,
    doc="Order-priority-checking shape (TPC-H Q4, adapted: the testdata "
    "lineitem has no commit/receipt dates, so 'late' means shipped >60 "
    "days after the order date): correlated EXISTS with an inequality "
    "on the correlated column → left-semi join with a compound "
    "condition, then count per priority.",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "tpch_q10",
    _Q10_ORACLE,
    doc="Returned-item-reporting shape (TPC-H Q10): fact-fact join "
    "pruned by quarter + return flag, broadcast nation dim, grouped "
    "revenue, tie-broken top-20 → TakeOrderedAndProject.",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue, 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


_Q14_ORACLE = f"""
SELECT 100.00 * {dsum_sql(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) "
    "ELSE 0 END", 4)}
       / {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register(
    "tpch_q14",
    _Q14_ORACLE,
    doc="Promotion-effect shape (TPC-H Q14, adapted: p_type here is a "
    "plain category, 'PROMO' matched exactly rather than by prefix): "
    "month-pruned fact scan, broadcast part dim, conditional-sum ratio "
    "in one aggregate.",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (F.lit(100.0) * dsum(promo_rev, 4) / dsum(rev, 4)).alias(
                "promo_revenue"
            )
        )
    )


_Q19_ORACLE = f"""
SELECT {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 20
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 30
       AND l_quantity >= 20 AND l_quantity <= 40)
"""


@register(
    "tpch_q19",
    _Q19_ORACLE,
    doc="Discounted-revenue shape (TPC-H Q19, adapted to the reduced "
    "part schema: brand/size/quantity bands instead of container/"
    "shipmode): disjunction of conjunctive bands across both join "
    "sides — the predicate Catalyst must keep joint (post-join filter) "
    "while still pushing the per-side implied disjunctions down.",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(1, 30)
            & F.col("l_quantity").between(20, 40)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(dsum(rev, 4).alias("revenue"))
    )


_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year,
       {dsum_sql('volume', 4)} AS revenue
FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           l_extendedprice * (1 - l_discount) AS volume
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
) GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "tpch_q7",
    _Q7_ORACLE,
    doc="Volume-shipping shape (TPC-H Q7): bidirectional nation-pair "
    "trade volume by ship year. The nation dim joins broadcast twice "
    "under different roles (supplier vs customer side); the pair "
    "disjunction stays a post-join filter while the date range pushes "
    "into the fact scan.",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, supp.s_nationkey == F.col("s_nk"))
        .join(n2, cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(volume, 4).alias("revenue"))
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_returnflag
"""


@register(
    "tpch_q12",
    _Q12_ORACLE,
    doc="Shipping-modes-and-priority shape (TPC-H Q12, adapted: the "
    "testdata lineitem has no shipmode, so the grouping is return flag "
    "and 'late' means shipped 30+ days after ordering): join with an "
    "inter-column date predicate, conditional counts per class.",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_count"),
        )
    )


_Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
) GROUP BY c_count
"""


@register(
    "tpch_q13",
    _Q13_ORACLE,
    doc="Customer-distribution shape (TPC-H Q13): outer join so "
    "zero-order customers survive, two aggregation levels (orders per "
    "customer, then the histogram of those counts) — the second agg is "
    "near-free because its input is one row per customer.",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    orders = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q15_ORACLE = f"""
WITH rev AS (
    SELECT l_suppkey AS supplier_no,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


@register(
    "tpch_q15",
    _Q15_ORACLE,
    doc="Top-supplier shape (TPC-H Q15): quarter revenue per supplier, "
    "then equality against the scalar max — all ties returned. The "
    "decimal-exact dsum makes the max-equality deterministic (a plain "
    "double sum could disagree with the oracle at the boundary).",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = t(spark, sf_dir, "supplier")
    return (
        supp.join(rev, supp.s_suppkey == rev.supplier_no)
        .join(
            max_rev,
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       {dsum_sql('l_quantity')} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING {dsum_sql('l_quantity')} > 250
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


@register(
    "tpch_q18",
    _Q18_ORACLE,
    doc="Large-volume-customer shape (TPC-H Q18): HAVING subquery over "
    "the fact becomes a semi join against the aggregated order keys, "
    "then the customer join and a fully tie-broken top-100. The decimal "
    "dsum keeps the HAVING threshold comparison exact on both engines.",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("order_qty"))
        .filter(F.col("order_qty") > 250)
        .select("l_orderkey")
    )
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(
            big_orders.withColumnRenamed("l_orderkey", "bo_orderkey"),
            F.col("o_orderkey") == F.col("bo_orderkey"),
            "left_semi",
        )
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


_Q17_ORACLE = f"""
WITH pa AS (
    SELECT l_partkey, {davg_sql('l_quantity', 2)} AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT {dsum_sql('l_extendedprice')} / 7.0 AS avg_yearly
FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < 0.5 * pa.avg_qty
"""


@register(
    "tpch_q17",
    _Q17_ORACLE,
    doc="Small-quantity-order revenue shape (TPC-H Q17): per-part "
    "average quantity as a correlated threshold → re-join of the "
    "aggregate against the fact, then one global sum. The decimal-exact "
    "davg makes the 0.5·avg threshold comparison identical on both "
    "engines — a raw double average could flip boundary rows.",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        davg("l_quantity", 2).alias("avg_qty")
    )
    return (
        li.join(pa, li.l_partkey == pa.pa_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


_Q21_ORACLE = """
WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_orderkey, l_suppkey
),
per_o AS (
    SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
    FROM per_os GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM per_os
JOIN per_o USING (l_orderkey)
JOIN supplier ON s_suppkey = l_suppkey
WHERE late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 100
"""


@register(
    "tpch_q21",
    _Q21_ORACLE,
    doc="Suppliers-who-kept-orders-waiting shape (TPC-H Q21, adapted: "
    "'late' is shipped >60 days after ordering since the testdata has "
    "no commit/receipt dates): the double EXISTS/NOT-EXISTS of the "
    "original re-expressed as one per-(order,supplier) lateness "
    "aggregate + per-order counts — two hash aggregates instead of two "
    "correlated self-joins over the fact, the formulation that scales.",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late")
    )
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_os.join(per_o, "l_orderkey")
        .filter(
            (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(100)
    )


_Q22_ORACLE = f"""
SELECT c_nationkey, COUNT(*) AS numcust, {dsum_sql('c_acctbal')} AS totacctbal
FROM customer c
WHERE c_acctbal > (
    SELECT {davg_sql('c_acctbal', 2)} FROM customer WHERE c_acctbal > 0
)
AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
)
GROUP BY c_nationkey
"""


@register(
    "tpch_q22",
    _Q22_ORACLE,
    doc="Global-sales-opportunity shape (TPC-H Q22, adapted: the "
    "testdata has no phone column, so the segment key is the nation and "
    "'no orders' means none since 2000): scalar above-average-balance "
    "subquery (decimal-exact avg, 1-row broadcast) + anti-join against "
    "recent orders, grouped balance totals per nation.",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        davg("c_acctbal", 2).alias("avg_bal")
    )
    recent = (
        t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
        )
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(avg_bal)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
    )


_Q2_ORACLE = """
WITH cost AS (
    SELECT l_partkey, l_suppkey,
           MIN(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
    SELECT c.l_partkey, c.l_suppkey, c.unit_cost, s_name, s_acctbal, n_name
    FROM cost c
    JOIN supplier ON s_suppkey = c.l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
),
best AS (SELECT l_partkey, MIN(unit_cost) AS min_cost FROM eu GROUP BY l_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
FROM eu
JOIN best USING (l_partkey)
JOIN part ON p_partkey = eu.l_partkey
WHERE unit_cost = min_cost AND p_type = 'STANDARD' AND p_size <= 15
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register(
    "tpch_q2",
    _Q2_ORACLE,
    doc="Minimum-cost-supplier shape (TPC-H Q2, adapted: the testdata "
    "has no partsupp, so the part-supplier relation is derived from "
    "lineitem with MIN(unit price) as the supply cost): region-filtered "
    "correlated-min subquery re-expressed as aggregate + equality "
    "re-join, dims broadcast, tie-broken top-100. MIN over doubles is "
    "order-independent and IEEE division is engine-identical, so the "
    "cost = min_cost equality is deterministic on both sides.",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("unit_price").alias("unit_cost")
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        cost.join(supp, cost.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("l_partkey", "l_suppkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    )
    best = eu.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    return (
        eu.join(best, eu.l_partkey == best.b_partkey)
        .filter(F.col("unit_cost") == F.col("min_cost"))
        # part grows with scale factor: hinted only under the gate
        .join(gated_broadcast(part, sf_dir, "part"), eu.l_partkey == part.p_partkey)
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"),
            F.asc("p_partkey"),
        )
        .limit(100)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


_Q8_ORACLE = f"""
SELECT o_year,
       {dsum_sql("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END", 4)}
       / {dsum_sql('volume', 4)} AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
) GROUP BY o_year
"""


@register(
    "tpch_q8",
    _Q8_ORACLE,
    doc="National-market-share shape (TPC-H Q8): seven joins with the "
    "nation dim in two roles (customer-region gate vs supplier "
    "nationality), share-of-total ratio per order year. Both sums are "
    "decimal-exact so the ratio is bit-deterministic.",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
        F.lit(0)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, cust.c_nationkey == F.col("c_nk"))
        .join(region, F.col("c_rk") == region.r_regionkey)
        .join(n2, supp.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((dsum(nat_vol, 4) / dsum(volume, 4)).alias("mkt_share"))
    )


_Q9_ORACLE = f"""
SELECT nation, o_year, {dsum_sql('amount', 4)} AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           l_extendedprice * (1 - l_discount)
             - 0.5 * p_retailprice * l_quantity AS amount
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
) GROUP BY nation, o_year
"""


@register(
    "tpch_q9",
    _Q9_ORACLE,
    doc="Product-type-profit shape (TPC-H Q9, adapted: no partsupp "
    "supply cost in the testdata, so cost is modelled as half the part "
    "retail price per unit): substring part filter, five joins, profit "
    "per supplier nation per order year.",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    nation = t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(amount, 4).alias("sum_profit"))
    )


_Q11_ORACLE = f"""
WITH v AS (
    SELECT l_partkey, {dsum_sql('l_extendedprice')} AS part_value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
    GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM v
WHERE part_value > 0.002 * (SELECT {dsum_sql('part_value')} FROM v)
"""


@register(
    "tpch_q11",
    _Q11_ORACLE,
    doc="Important-stock shape (TPC-H Q11, adapted: shipped value from "
    "lineitem stands in for partsupp stock value): per-part value for "
    "one nation's suppliers, kept only above a fraction of the total — "
    "the scalar subquery becomes a 1-row broadcast join, the fraction "
    "threshold exact via decimal sums on both engines.",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    v = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice").alias("part_value"))
    )
    total = v.agg(dsum("part_value").alias("total_value"))
    return (
        v.join(total)
        .filter(F.col("part_value") > F.lit(0.002) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


_Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register(
    "tpch_q16",
    _Q16_ORACLE,
    doc="Parts-supplier-relationship shape (TPC-H Q16, adapted: the "
    "part-supplier relation comes from lineitem and the complaint "
    "exclusion is negative-balance suppliers): negated dim predicates, "
    "anti-join against the excluded supplier set, exact distinct "
    "supplier count per (brand, type, size).",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad_supp = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(
            bad_supp,
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q20_ORACLE = f"""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE' AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_partkey, l_suppkey
    HAVING {dsum_sql('l_quantity')} > 30
)
"""


@register(
    "tpch_q20",
    _Q20_ORACLE,
    doc="Potential-promotion-suppliers shape (TPC-H Q20, adapted: with "
    "no partsupp availqty, a supplier qualifies when its shipped "
    "quantity of a prefix-named part in the year exceeds a volume "
    "threshold): nested semi-join chain — prefix part filter → "
    "year-pruned per-(part,supplier) quantity aggregate → HAVING "
    "threshold (decimal-exact) → distinct suppliers gating the "
    "region-filtered supplier scan.",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    qualified = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("ship_qty"))
        .filter(F.col("ship_qty") > 30)
        .select("l_suppkey")
    )
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        supp.join(qualified, supp.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("s_name", "s_acctbal")
    )
