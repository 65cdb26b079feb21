"""Seeded demo staging data shaped like FIXTURES.md §1 (the INSEE
SDMX-style CSVs the reference ingests): one CSV per staging table over
the five départements and three years, plus the :class:`TableSpec` list
that stages them. ``run_etl --demo`` and the warehouse tests run the
full ETL on it. The generator's seed is fixed, so every run writes the
same bytes.
"""

from __future__ import annotations

import os
import random

from evolution_data_warehouse_spark.sources.staging import TableSpec

DEPTS = ["02", "59", "60", "62", "80"]
YEARS = [2019, 2020, 2021]


def _geo(year: int, dept: str) -> str:
    return f"{year}-DEP-{dept}"


def write_fixtures(root: str) -> dict[str, str]:
    """Write all staging CSVs under ``root``; returns name → path."""
    rng = random.Random(42)
    os.makedirs(root, exist_ok=True)
    paths = {}

    def w(name: str, header: str, rows: list[str]) -> None:
        p = os.path.join(root, f"{name}.csv")
        with open(p, "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")
        paths[name] = p

    pop_rows = [
        f"{_geo(y, d)},{pcs},{sex},{y},POP,{age},{rng.randint(1000, 90000)},{d}"
        for y in YEARS
        for d in DEPTS
        for pcs in ["1", "5", "_T"]
        for sex in ["M", "F", "_T"]
        for age in ["Y15T24", "_T"]
    ]
    w(
        "stg_population",
        "GEO_ID,PCS_CODE,SEX,TIME_PERIOD,RP_MEASURE,AGE_GROUP,OBS_VALUE,DEPARTEMENT_CODE",
        pop_rows,
    )

    w(
        "stg_naissances",
        "GEO_ID,EVENT_CODE,FREQUENCY,TIME_PERIOD,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},LVB,A,{y},{rng.randint(500, 5000)},{d}"
            for y in YEARS
            for d in DEPTS
        ],
    )
    w(
        "stg_deces",
        "GEO_ID,EVENT_CODE,FREQUENCY,TIME_PERIOD,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},DTH,A,{y},{rng.randint(400, 4000)},{d}"
            for y in YEARS
            for d in DEPTS
        ],
    )
    w(
        "stg_creation_entreprises",
        "GEO_ID,FREQUENCY,TIME_PERIOD,ACTIVITY_CODE,LEGAL_FORM,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},A,{y},{naf},_T,{rng.randint(10, 900)},{d}"
            for y in YEARS
            for d in DEPTS
            for naf in ["A", "C", "F", "G", "_T"]
        ],
    )
    w(
        "stg_ds_filosofi",
        "GEO_ID,TIME_PERIOD,UNIT_MEASURE,INDICATOR_CODE,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},{y},EUR,{code},{rng.randint(15000, 30000)},{d}"
            for y in YEARS
            for d in DEPTS
            for code in ["MED_SL", "D1_SL", "D9_SL", "PR_MD60"]
        ],
    )
    w(
        "stg_emploi_chomage",
        "GEO_ID,PCS_CODE,FREQUENCY,EMPSTA_ENQ,TIME_PERIOD,RP_MEASURE,AGE_GROUP,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},_T,A,{st},{y},POP,_T,{rng.randint(5000, 80000)},{d}"
            for y in YEARS
            for d in DEPTS
            for st in ["1T2", "1", "2"]
        ],
    )
    w(
        "stg_menage",
        "GEO_ID,PCS_CODE,FREQUENCY,TIME_PERIOD,RP_MEASURE,PREFPH,TPH,OCS,OBS_VALUE,DEPARTEMENT_CODE",
        [
            f"{_geo(y, d)},_T,A,{y},{m},_T,_T,DW_MAIN,{rng.randint(20000, 200000)},{d}"
            for y in YEARS
            for d in DEPTS
            for m in ["DWELLINGS", "DWELLINGS_POPSIZE"]
        ],
    )
    logement_rows = []
    for y in YEARS:
        for d in DEPTS:
            total = rng.randint(10000, 50000)
            over = int(total * rng.uniform(0.02, 0.2))
            for oc, v in (("0", total - over), ("1", over), ("_T", total)):
                logement_rows.append(
                    f"{_geo(y, d)},{oc},A,{y},DWELLINGS,DW_MAIN,{v},{d}"
                )
    w(
        "stg_logement",
        "GEO_ID,OVEROCC,FREQUENCY,TIME_PERIOD,RP_MEASURE,OCS,OBS_VALUE,DEPARTEMENT_CODE",
        logement_rows,
    )
    return paths


RENAMES = {
    "stg_population": {
        "TIME_PERIOD": "year", "OBS_VALUE": "population_value",
        "PCS_CODE": "pcs_code", "AGE_GROUP": "age_group", "SEX": "sex",
    },
    "stg_naissances": {"TIME_PERIOD": "year", "OBS_VALUE": "birth_count"},
    "stg_deces": {"TIME_PERIOD": "year", "OBS_VALUE": "death_count"},
    "stg_creation_entreprises": {
        "TIME_PERIOD": "year", "OBS_VALUE": "creation_count",
        "ACTIVITY_CODE": "activity_code", "LEGAL_FORM": "legal_form",
    },
    "stg_ds_filosofi": {
        "TIME_PERIOD": "year", "OBS_VALUE": "indicator_value",
        "INDICATOR_CODE": "indicator_code",
    },
    "stg_emploi_chomage": {
        "TIME_PERIOD": "year", "OBS_VALUE": "population_value",
        "EMPSTA_ENQ": "employment_status",
    },
    "stg_menage": {"TIME_PERIOD": "year", "OBS_VALUE": "measure_value"},
    "stg_logement": {
        "TIME_PERIOD": "year", "OBS_VALUE": "dwelling_value",
        "OVEROCC": "overocc_code",
    },
}

NUMERIC = {
    "stg_population": ["population_value"],
    "stg_naissances": ["birth_count"],
    "stg_deces": ["death_count"],
    "stg_creation_entreprises": ["creation_count"],
    "stg_ds_filosofi": ["indicator_value"],
    "stg_emploi_chomage": ["population_value"],
    "stg_menage": ["measure_value"],
    "stg_logement": ["dwelling_value"],
}


def make_specs(paths: dict[str, str]) -> list[TableSpec]:
    return [
        TableSpec(
            name=name,
            source_path=path,
            rename=RENAMES[name],
            numeric_columns=NUMERIC[name],
            dtype_overrides={"year": "int"},
        )
        for name, path in paths.items()
    ]
