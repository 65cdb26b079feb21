"""Dimension seeds + builders (Terraform/sql/002_create_dimensions.sql,
004_populate_dimensions.sql; analytics/etl/load_dimensions.py:273-597).

Surrogate keys are deterministic row_numbers over the business key
(SURVEY §4: replaces IDENTITY(1,1)); appends offset by the current max
key so keys are stable across incremental loads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table

CENSUS_YEARS = {2010, 2015, 2021}  # 004_populate_dimensions.sql:13-31
DEPARTEMENTS = [  # 004:44-48
    ("02", "Aisne"),
    ("59", "Nord"),
    ("60", "Oise"),
    ("62", "Pas-de-Calais"),
    ("80", "Somme"),
]
PCS_CODES = [  # 004:69-76
    ("1", "Agriculteurs exploitants"),
    ("2", "Artisans, commercants, chefs d'entreprise"),
    ("3", "Cadres et professions intellectuelles superieures"),
    ("4", "Professions intermediaires"),
    ("5", "Employes"),
    ("6", "Ouvriers"),
    ("7", "Retraites"),
    ("9", "Autres sans activite professionnelle"),
    ("_T", "Ensemble"),
]
AGE_GROUPS = ["Y15T24", "Y25T54", "Y_GE55", "_T"]  # 004:82-93 (subset)
SEXES = ["M", "F", "_T"]
NAF_SECTIONS = [(chr(ord("A") + i), f"Section {chr(ord('A') + i)}") for i in range(19)] + [
    ("_T", "Ensemble")
]
LEGAL_FORMS = [  # 004:129-136
    ("10", "Entrepreneur individuel"),
    ("54", "SARL"),
    ("57", "SAS"),
    ("MICRO", "Micro-entrepreneur"),
    ("ENTIND_X_MICRO", "Entrepreneur individuel hors micro"),
    ("OTH_SIDE", "Autres"),
    ("_T", "Ensemble"),
]
INDICATEURS = [  # 004:146-180 (FILOSOFI codes pivoted by load_fait_revenus)
    ("MED_SL", "Mediane du niveau de vie", "EUR/an"),
    ("D1_SL", "1er decile", "EUR/an"),
    ("D9_SL", "9e decile", "EUR/an"),
    ("IR_D9_D1_SL", "Rapport interdecile", "ratio"),
    ("PR_MD60", "Taux de pauvrete", "pct"),
    ("NUM_HH", "Nombre de menages", "nombre"),
    ("NUM_PER", "Nombre de personnes", "nombre"),
]


def add_surrogate_key(
    df: DataFrame, key_col: str, order_cols: list[str], offset: int = 0
) -> DataFrame:
    """Deterministic surrogate key: row_number over the business key.
    Dimension-sized inputs only (single-partition window); fact-scale
    key assignment uses zipWithIndex/monotonically_increasing_id."""
    w = W.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(key_col, F.row_number().over(w) + F.lit(offset))


def dim_temps(spark: SparkSession, start: int = 2010, end: int = 2024) -> DataFrame:
    years = spark.range(start, end + 1).select(F.col("id").cast("int").alias("annee"))
    df = years.withColumn(
        "est_annee_recensement", F.col("annee").isin(sorted(CENSUS_YEARS))
    )
    return add_surrogate_key(df, "temps_id", ["annee"]).select(
        "temps_id", "annee", "est_annee_recensement"
    )


def dim_geographie(
    spark: SparkSession, communes: DataFrame | None = None
) -> DataFrame:
    """Departments seed + optional communes append (load_dimensions.py:
    336-366: communes from the JSON payload get niveau_geo='COMMUNE')."""
    depts = local_table(spark, DEPARTEMENTS, "code string, nom string").select(
        F.col("code"),
        F.col("nom"),
        F.lit("DEPARTEMENT").alias("niveau_geo"),
        F.col("code").alias("departement_code"),
    )
    rows = depts
    if communes is not None:
        com = communes.select(
            F.col("commune_code").alias("code"),
            F.col("commune_nom").alias("nom"),
            F.lit("COMMUNE").alias("niveau_geo"),
            F.col("departement_code"),
        )
        rows = depts.unionByName(com)
    return add_surrogate_key(rows, "geo_id", ["niveau_geo", "code"]).select(
        "geo_id", "code", "nom", "niveau_geo", "departement_code"
    )


def dim_demographie(spark: SparkSession) -> DataFrame:
    sexes = local_table(spark, [(s,) for s in SEXES], "sexe string")
    ages = local_table(spark, [(a,) for a in AGE_GROUPS], "age_group string")
    df = sexes.crossJoin(ages)
    return add_surrogate_key(df, "demo_id", ["sexe", "age_group"]).select(
        "demo_id", "sexe", "age_group"
    )


def dim_activite(spark: SparkSession) -> DataFrame:
    naf = local_table(spark, NAF_SECTIONS, "code string, libelle string").withColumn(
        "type_activite", F.lit("NAF_SECTION")
    )
    forms = local_table(spark, LEGAL_FORMS, "code string, libelle string").withColumn(
        "type_activite", F.lit("FORME_JURIDIQUE")
    )
    df = naf.unionByName(forms)
    return add_surrogate_key(df, "activite_id", ["type_activite", "code"]).select(
        "activite_id", "code", "libelle", "type_activite"
    )


def dim_indicateur(spark: SparkSession) -> DataFrame:
    df = local_table(spark, INDICATEURS, "code string, libelle string, unite string")
    return add_surrogate_key(df, "indicateur_id", ["code"]).select(
        "indicateur_id", "code", "libelle", "unite"
    )


LOGEMENT_CODES = [  # 004_populate_dimensions.sql:190-209 (overocc + occupancy)
    ("0", "OVEROCC", "Sans suroccupation"),
    ("1", "OVEROCC", "En suroccupation"),
    ("_T", "OVEROCC", "Ensemble"),
    ("DW_MAIN", "OCS", "Residence principale"),
    ("DW_SEC", "OCS", "Residence secondaire"),
    ("DW_VAC", "OCS", "Logement vacant"),
]


def dim_logement(spark: SparkSession) -> DataFrame:
    """Sixth dimension (002_create_dimensions.sql:184-205): housing
    occupancy/overcrowding code combinations."""
    df = local_table(
        spark, LOGEMENT_CODES, "code string, type_code string, libelle string"
    )
    return add_surrogate_key(df, "logement_id", ["type_code", "code"]).select(
        "logement_id", "code", "type_code", "libelle"
    )


def build_all(spark: SparkSession, communes: DataFrame | None = None):
    return {
        "dim_temps": dim_temps(spark),
        "dim_geographie": dim_geographie(spark, communes),
        "dim_demographie": dim_demographie(spark),
        "dim_activite": dim_activite(spark),
        "dim_indicateur": dim_indicateur(spark),
        "dim_logement": dim_logement(spark),
    }
