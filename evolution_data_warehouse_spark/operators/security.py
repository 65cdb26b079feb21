"""Security data generation: agencies, employee hierarchy, RLS zones.

Re-expresses analytics/etl/load_security.py's observable effects:
agencies = geography rows above a population threshold with size tiers
(:186-205), a deterministic employee hierarchy (1 regional director,
one director per department, one per agency, N collaborators per
agency, :215-331), accent-folded logins (:108-116), and the
login → department RLS zone map (:334-350) consumed by
operators/rls.secured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.functions.naming import ascii_fold
from evolution_data_warehouse_spark.operators.arrow_map import local_table

AGENCY_POP_THRESHOLD = 10_000


def build_agencies(
    communes: DataFrame,
    pop_col: str = "population",
    code_col: str = "commune_code",
    name_col: str = "commune_nom",
    dept_col: str = "departement_code",
) -> DataFrame:
    """Communes with pop >= threshold become agencies, tiered by size."""
    return (
        communes.filter(F.col(pop_col) >= AGENCY_POP_THRESHOLD)
        .select(
            F.col(code_col).alias("agence_code"),
            F.col(name_col).alias("agence_nom"),
            F.col(dept_col).alias("departement_code"),
            F.col(pop_col).alias("population"),
            F.when(F.col(pop_col) >= 100_000, "GRANDE")
            .when(F.col(pop_col) >= 30_000, "MOYENNE")
            .otherwise("PETITE")
            .alias("taille"),
        )
        .orderBy(F.asc("departement_code"), F.desc("population"))
    )


def _login(prenom: str, nom: str) -> str:
    return ascii_fold(f"{prenom}.{nom}").lower().replace(" ", "-")


def build_employees(agencies: DataFrame) -> DataFrame:
    """Deterministic hierarchy: regional director → department directors
    → agency directors. Generated as plan-level derivations of the
    agency table (no driver-side loops over data rows)."""
    depts = agencies.select("departement_code").distinct()

    regional = local_table(
        agencies.sparkSession,
        [("REG", "Direction", "Regionale", "directeur_regional", None)],
        "zone string, prenom string, nom string, role string, "
        "manager_login string",
    ).select(
        "zone",
        "prenom",
        "nom",
        "role",
        F.lit(_login("Direction", "Regionale")).alias("login"),
        "manager_login",
    )

    dept_dirs = depts.select(
        F.col("departement_code").alias("zone"),
        F.lit("Directeur").alias("prenom"),
        F.concat(F.lit("Departement"), F.col("departement_code")).alias("nom"),
        F.lit("directeur_departement").alias("role"),
        F.lower(
            F.concat(F.lit("directeur.departement"), F.col("departement_code"))
        ).alias("login"),
        F.lit(_login("Direction", "Regionale")).alias("manager_login"),
    )

    agency_dirs = agencies.select(
        F.col("departement_code").alias("zone"),
        F.lit("Directeur").alias("prenom"),
        F.concat(F.lit("Agence"), F.col("agence_code")).alias("nom"),
        F.lit("directeur_agence").alias("role"),
        F.lower(F.concat(F.lit("directeur.agence"), F.col("agence_code"))).alias(
            "login"
        ),
        F.lower(
            F.concat(F.lit("directeur.departement"), F.col("departement_code"))
        ).alias("manager_login"),
    )

    return regional.unionByName(dept_dirs).unionByName(agency_dirs)


def build_zones(employees: DataFrame) -> DataFrame:
    """login → visible-department map (utilisateurs_zones analog):
    the regional director gets a NULL scope (sees everything), others
    their own department."""
    return employees.select(
        F.col("login"),
        F.when(F.col("role") == "directeur_regional", F.lit(None))
        .otherwise(F.col("zone"))
        .alias("scope"),
    )
