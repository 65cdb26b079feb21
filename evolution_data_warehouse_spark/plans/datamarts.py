"""Datamart views: the five vm_* aggregate views + dashboard, as Spark
SQL views over the star schema.

Re-expresses Terraform/sql/005_create_datamarts.sql over the testdata
star analog (region/nation = geography dims, orders/lineitem = facts,
events = demographic events). Each view is a CREATE OR REPLACE
TEMPORARY VIEW — Catalyst expands them transitively exactly like Azure
SQL expands the reference's nested views (SURVEY §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def register_star_views(spark: SparkSession, sf_dir: str) -> None:
    # Deferred: the queries package imports this module for the view
    # SQL its dashboard oracle is built from.
    from evolution_data_warehouse_spark.queries.common import TABLES, t

    for name in TABLES:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


DATAMART_SQL = {
    # vm_demographie_departement analog (005:14-42): star join + SUM +
    # guarded per-1000 ratio.
    "vm_demographie": """
        SELECT n.n_name AS geo_name, year(o.o_orderdate) AS annee,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_spend,
               COUNT(*) AS n_orders,
               CASE WHEN COUNT(*) > 0
                    THEN CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE) END AS avg_order
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate)
    """,
    # vm_evenements analog: births/deaths full-outer shape (005:39-40)
    "vm_evenements": """
        SELECT COALESCE(s.user_id, p.user_id) AS user_id,
               COALESCE(n_signups, 0) AS n_signups,
               COALESCE(n_purchases, 0) AS n_purchases,
               COALESCE(n_signups, 0) - COALESCE(n_purchases, 0) AS solde
        FROM (SELECT user_id, COUNT(*) AS n_signups FROM events
              WHERE event_type = 'signup' GROUP BY user_id) s
        FULL OUTER JOIN (SELECT user_id, COUNT(*) AS n_purchases FROM events
              WHERE event_type = 'purchase' GROUP BY user_id) p
          ON s.user_id = p.user_id
    """,
    # vm_revenus analog (005:102-108): AVG/MIN/MAX indicators.
    "vm_revenus": """
        SELECT n.n_name AS geo_name,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_balance,
               MIN(c.c_acctbal) AS min_balance,
               MAX(c.c_acctbal) AS max_balance
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    # vm_entreprises analog: per-(geo, year, sector) rollup (005:56-80,
    # vm_entreprises_departement carries departement_code + annee +
    # secteur so the dashboard can re-aggregate it).
    "vm_entreprises": """
        SELECT n.n_name AS geo_name, year(o.o_orderdate) AS annee,
               p.p_brand AS secteur,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
                   AS chiffre_affaires
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY n.n_name, year(o.o_orderdate), p.p_brand
    """,
    # vm_emploi analog (005:136-160): per-(geo, year, statut) measures,
    # population_active / population_chomeurs columns mirroring
    # vm_emploi_departement so the dashboard's NULLIF-guarded ratio
    # re-aggregation has the same inputs.
    "vm_emploi": """
        SELECT n.n_name AS geo_name, year(o.o_orderdate) AS annee,
               l.l_returnflag AS statut,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS DOUBLE)
                   AS population_active,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                             THEN CAST(l.l_quantity AS DECIMAL(28,2))
                             ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE)
                   AS population_chomeurs
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, year(o.o_orderdate), l.l_returnflag
    """,
}

# Dashboard view — the v_tableau_bord_territorial analog (005:207-254):
# a geo × time spine, direct LEFT JOINs for same-grain datamarts, and
# NULLIF-guarded LEFT JOINs on aggregated subqueries for the datamarts
# kept at a finer grain (sector, statut) that must be re-rolled-up to
# the dashboard's (geo, annee) grain.
DASHBOARD_SQL = """
    SELECT g.n_name AS geo_name, t.annee,
           demo.total_spend, demo.n_orders, demo.avg_order,
           ent.chiffre_affaires AS ca_entreprises,
           rev.avg_balance,
           emp.taux_chomage_calc AS taux_chomage
    FROM nation g
    CROSS JOIN (SELECT DISTINCT year(o_orderdate) AS annee FROM orders) t
    LEFT JOIN vm_demographie demo
        ON demo.geo_name = g.n_name AND demo.annee = t.annee
    LEFT JOIN (
        SELECT annee, geo_name,
               CAST(SUM(CAST(chiffre_affaires AS DECIMAL(28,2))) AS DOUBLE)
                   AS chiffre_affaires
        FROM vm_entreprises
        GROUP BY annee, geo_name
    ) ent ON ent.geo_name = g.n_name AND ent.annee = t.annee
    LEFT JOIN vm_revenus rev ON rev.geo_name = g.n_name
    LEFT JOIN (
        SELECT annee, geo_name,
               CAST(SUM(CAST(population_chomeurs AS DECIMAL(28,2))) AS DOUBLE)
               / NULLIF(CAST(SUM(CAST(population_active AS DECIMAL(28,2)))
                             AS DOUBLE), 0.0) * 100.0 AS taux_chomage_calc
        FROM vm_emploi
        GROUP BY annee, geo_name
    ) emp ON emp.geo_name = g.n_name AND emp.annee = t.annee
"""


def create_datamarts(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register star views + all datamart views; returns view names."""
    register_star_views(spark, sf_dir)
    for name, sql in DATAMART_SQL.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW {name} AS {sql}")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW vm_tableau_bord AS {DASHBOARD_SQL}"
    )
    return [*DATAMART_SQL.keys(), "vm_tableau_bord"]


def datamart(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)
