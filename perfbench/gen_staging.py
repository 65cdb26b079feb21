"""Seeded INSEE-shaped staging CSV for the warehouse ETL workload.

``stg_population`` rows are at commune grain: each of ``communes``
communes in every département of ``dimensions.DEPARTEMENTS`` gets one
block of rows per year 2010-2024, with a ``GEO_ID`` such as
``2015-COM-59003`` and the commune's ``DEPARTEMENT_CODE`` (the facts
resolve keys at département grain and drop rows they cannot resolve,
so the code must stay inside the seeded département list). It also
writes ``communes.csv`` (the security step's input) and
``communes_changed.csv``, the same communes with about 5 % of them
renamed or re-counted, for the SCD2 upsert.

The same ``(seed, communes)`` always gives byte-identical files.
"""

from __future__ import annotations

import os
import random

from evolution_data_warehouse_spark.warehouse.dimensions import DEPARTEMENTS

YEARS = range(2010, 2025)
PCS = ["1", "3", "5", "_T"]
SEXES = ["M", "F", "_T"]
AGES = ["Y15T24", "Y25T54", "Y_GE55", "_T"]
SYLLABLES = ["bou", "cam", "ville", "mont", "sur", "lès", "fon", "ta", "ri", "é", "gny", "court"]

HEADER = "GEO_ID,PCS_CODE,SEX,TIME_PERIOD,RP_MEASURE,AGE_GROUP,OBS_VALUE,DEPARTEMENT_CODE"
# the reference's TableSpec for stg_population
RENAME = {
    "TIME_PERIOD": "year", "OBS_VALUE": "population_value",
    "PCS_CODE": "pcs_code", "AGE_GROUP": "age_group", "SEX": "sex",
}
COMMUNES_SCHEMA = (
    "commune_code string, commune_nom string, departement_code string, population long"
)


def _commune_name(rng: random.Random) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))).capitalize()


def make_communes(seed: int, communes: int) -> list[tuple[str, str, str, int]]:
    """(code, name, département, population) for every commune."""
    rng = random.Random(f"communes-{seed}")
    out = []
    for dept, _ in DEPARTEMENTS:
        for i in range(1, communes + 1):
            pop = int(min(250_000, 400 * rng.lognormvariate(2.5, 1.2)))
            out.append((f"{dept}{i:03d}", _commune_name(rng), dept, pop))
    return out


def change_communes(
    seed: int, communes: list[tuple[str, str, str, int]], share: float = 0.05
) -> list[tuple[str, str, str, int]]:
    """The next snapshot: ``share`` of the communes (at least one) get a
    new population, and every other changed one a new name as well."""
    rng = random.Random(f"changed-{seed}")
    k = max(1, round(share * len(communes)))
    picked = set(rng.sample(range(len(communes)), k))
    out = []
    for i, (code, name, dept, pop) in enumerate(communes):
        if i in picked:
            pop = pop + rng.randint(1, 5000)
            if i % 2:
                name = name + "-" + _commune_name(rng)
        out.append((code, name, dept, pop))
    return out


def _population_rows(rng: random.Random, geo: str, y: int, d: str, pop: int) -> list[str]:
    """One commune-year block; values scale with population."""
    return [
        f"{geo},{pcs},{sex},{y},POP,{age},{rng.randint(1, max(2, pop // 8))},{d}"
        for pcs in PCS for sex in SEXES for age in AGES
    ]


def write_staging(out_dir: str, seed: int, communes: int) -> dict[str, str]:
    """Write ``stg_population`` plus both commune snapshots; returns
    name → path (``stg_population``, ``communes``, ``communes_changed``)."""
    os.makedirs(out_dir, exist_ok=True)
    base = make_communes(seed, communes)
    paths = {}

    def write(name: str, header: str, lines: list[str]) -> None:
        path = os.path.join(out_dir, f"{name}.csv")
        with open(path, "w", encoding="utf-8", newline="\n") as f:
            f.write(header + "\n")
            f.writelines(line + "\n" for line in lines)
        paths[name] = path

    rng = random.Random(f"stg_population-{seed}")
    lines = [
        row
        for code, _, dept, pop in base
        for y in YEARS
        for row in _population_rows(rng, f"{y}-COM-{code}", y, dept, pop)
    ]
    write("stg_population", HEADER, lines)
    header = "commune_code,commune_nom,departement_code,population"
    for name, rows in (("communes", base), ("communes_changed", change_communes(seed, base))):
        write(name, header, [f"{c},{n},{d},{p}" for c, n, d, p in rows])
    return paths


def population_spec(path: str):
    """The TableSpec staging ``stg_population`` from ``path``."""
    from evolution_data_warehouse_spark.sources.staging import TableSpec

    return TableSpec(
        name="stg_population",
        source_path=path,
        rename=RENAME,
        numeric_columns=["population_value"],
        dtype_overrides={"year": "int"},
    )
