"""The six fact builders (analytics/etl/load_facts.py) as declarative
Spark plans.

Every dimension-key resolution is a join against the dimension
(replacing the reference's driver-side dict maps, load_facts.py:74-88).
The dimensions are small and sized, so the planner broadcasts them and
the fact side never shuffles for key lookup, which is the property that
matters at 100 TB. Unresolvable keys are dropped (dropna-on-keys,
:155,315,397).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import dsum
from evolution_data_warehouse_spark.sources.staging import resolve_column


def _temps_lookup(dim_temps: DataFrame) -> DataFrame:
    return dim_temps.select("temps_id", "annee")


def _geo_lookup(dim_geographie: DataFrame) -> DataFrame:
    return dim_geographie.filter(F.col("niveau_geo") == "DEPARTEMENT").select(
        "geo_id", F.col("code").alias("departement_code")
    )


def _with_keys(df: DataFrame, dims: dict, year_col: str, dept_col: str) -> DataFrame:
    # Staging carries a *string* geo_id ("2021-DEP-59"); the warehouse
    # surrogate FK takes over the name (the staging value survives as
    # geo_code/geo_reference_year from enrichment).
    if "geo_id" in df.columns:
        df = df.drop("geo_id")
    out = (
        df.withColumn("annee", F.col(year_col).cast("int"))
        .join(_temps_lookup(dims["dim_temps"]), "annee", "left")
        .join(_geo_lookup(dims["dim_geographie"]), dept_col, "left")
    )
    return out.na.drop(subset=["temps_id", "geo_id"])


def fait_population(stg: DataFrame, dims: dict) -> DataFrame:
    """load_facts.py:100-166: per (year, dept, sex, age) population with
    demo key resolution (default member when unresolvable)."""
    year = resolve_column(stg, "year", "time_period", "annee")
    demo = dims["dim_demographie"].select(
        "demo_id", F.col("sexe").alias("sex"), "age_group"
    )
    # the default member (agg_scalar_lookup, :141-144) is a one-row
    # aggregate joined in the plan, so building the fact runs no job
    default_demo = dims["dim_demographie"].agg(F.min("demo_id").alias("_default"))
    df = (
        _with_keys(stg, dims, year, "departement_code")
        .join(demo, ["sex", "age_group"], "left")
        .crossJoin(default_demo)
        .withColumn("demo_id", F.coalesce("demo_id", "_default"))
    )
    return df.groupBy("temps_id", "geo_id", "demo_id").agg(
        dsum("population_value").alias("population")
    )


def fait_evenements_demo(
    naissances: DataFrame, deces: DataFrame, dims: dict
) -> DataFrame:
    """load_facts.py:171-248: births ⋈ deaths full outer per key, with
    the derived solde_naturel (003_create_facts.sql:61)."""
    year_n = resolve_column(naissances, "year", "time_period", "annee")
    year_d = resolve_column(deces, "year", "time_period", "annee")
    n = (
        _with_keys(naissances, dims, year_n, "departement_code")
        .groupBy("temps_id", "geo_id")
        .agg(dsum("birth_count").alias("naissances"))
    )
    d = (
        _with_keys(deces, dims, year_d, "departement_code")
        .groupBy("temps_id", "geo_id")
        .agg(dsum("death_count").alias("deces"))
    )
    j = n.join(d, ["temps_id", "geo_id"], "full_outer")
    return j.select(
        "temps_id",
        "geo_id",
        F.coalesce("naissances", F.lit(0.0)).alias("naissances"),
        F.coalesce("deces", F.lit(0.0)).alias("deces"),
        (
            F.coalesce("naissances", F.lit(0.0)) - F.coalesce("deces", F.lit(0.0))
        ).alias("solde_naturel"),
    )


def fait_entreprises(stg: DataFrame, dims: dict) -> DataFrame:
    """load_facts.py:253-320: creations aggregated per (year, dept, NAF
    section), activity key via a join to the NAF sections."""
    year = resolve_column(stg, "year", "time_period", "annee")
    act = (
        dims["dim_activite"]
        .filter(F.col("type_activite") == "NAF_SECTION")
        .select("activite_id", F.col("code").alias("activity_code"))
    )
    df = _with_keys(stg, dims, year, "departement_code").join(
        act, "activity_code", "inner"
    )
    return df.groupBy("temps_id", "geo_id", "activite_id").agg(
        dsum("creation_count").alias("nb_creations")
    )


def fait_revenus(stg: DataFrame, dims: dict) -> DataFrame:
    """load_facts.py:325-400: FILOSOFI EAV rows pivoted wide. The
    reference uses pivot_table(aggfunc='first') — nondeterministic under
    parallelism; pinned to min() here (single-valued in real data)."""
    year = resolve_column(stg, "year", "time_period", "annee")
    indicators = ["MED_SL", "D1_SL", "D9_SL", "IR_D9_D1_SL", "PR_MD60"]
    df = _with_keys(stg, dims, year, "departement_code")
    return (
        df.groupBy("temps_id", "geo_id")
        .pivot("indicator_code", indicators)
        .agg(F.min("indicator_value"))
        .withColumnsRenamed(
            {
                "MED_SL": "niveau_vie_median",
                "D1_SL": "decile_1",
                "D9_SL": "decile_9",
                "IR_D9_D1_SL": "rapport_interdecile",
                "PR_MD60": "taux_pauvrete",
            }
        )
    )


def fait_emploi(stg: DataFrame, dims: dict) -> DataFrame:
    """load_facts.py:417-508: employment-status extraction (1T2=active,
    1=employed, 2=unemployed) + guarded unemployment rate."""
    year = resolve_column(stg, "year", "time_period", "annee")
    df = _with_keys(stg, dims, year, "departement_code")
    g = df.groupBy("temps_id", "geo_id").agg(
        dsum(
            F.when(F.col("employment_status") == "1T2", F.col("population_value"))
        ).alias("population_active"),
        dsum(
            F.when(F.col("employment_status") == "1", F.col("population_value"))
        ).alias("population_employee"),
        dsum(
            F.when(F.col("employment_status") == "2", F.col("population_value"))
        ).alias("population_chomage"),
    )
    return g.withColumn(
        "taux_chomage",
        F.when(
            F.col("population_active") > 0,
            F.col("population_chomage") / F.col("population_active") * 100.0,
        ),
    )


def fait_menages(stg: DataFrame, dims: dict) -> DataFrame:
    """load_facts.py:537-626: DWELLINGS vs DWELLINGS_POPSIZE measures +
    average household size."""
    year = resolve_column(stg, "year", "time_period", "annee")
    df = _with_keys(stg, dims, year, "departement_code")
    g = df.groupBy("temps_id", "geo_id").agg(
        dsum(
            F.when(F.col("rp_measure") == "DWELLINGS", F.col("measure_value"))
        ).alias("nb_menages"),
        dsum(
            F.when(
                F.col("rp_measure") == "DWELLINGS_POPSIZE", F.col("measure_value")
            )
        ).alias("nb_personnes"),
    )
    return g.withColumn(
        "taille_moyenne",
        F.when(
            F.col("nb_menages") > 0, F.col("nb_personnes") / F.col("nb_menages")
        ),
    )


def fait_logement(stg: DataFrame, dims: dict) -> DataFrame:
    """stg_logement → overcrowding rate (005:185-187 shape)."""
    year = resolve_column(stg, "year", "time_period", "annee")
    df = _with_keys(stg, dims, year, "departement_code").filter(
        F.col("rp_measure") == "DWELLINGS"
    )
    g = df.groupBy("temps_id", "geo_id").agg(
        dsum(
            F.when(F.col("overocc_code") == "_T", F.col("dwelling_value"))
        ).alias("nb_logements"),
        dsum(
            F.when(F.col("overocc_code") == "1", F.col("dwelling_value"))
        ).alias("nb_surocupes"),
    )
    return g.withColumn(
        "taux_suroccupation",
        F.when(
            F.col("nb_logements") > 0,
            F.col("nb_surocupes") / F.col("nb_logements") * 100.0,
        ),
    )
