"""Literal tables as local relations (operators/arrow_map.py::local_table).

The warehouse ETL builds its literal tables — the dimension seeds, the
two log tables' rows, the security hierarchy's root and the demo
communes — as ``pyarrow.Table`` inputs, which Spark plans as a
``LocalTableScan``: no RDD, no Python worker. The matrix below pins the
helper on dirty input (exact 64-bit ints next to NULLs, NULL strings and
booleans, zero rows) and pins every ETL table it feeds to what
``createDataFrame(<python list>, schema=<DDL>)`` produced before it:
same names, types, nullability and rows, and the same parquet schema on
disk.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from evolution_data_warehouse_spark.operators import etl_log, security
from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.warehouse import dimensions
from evolution_data_warehouse_spark.warehouse.etl import write_table

COMMUNES = [
    ("59350", "Lille", "59", 236_000),
    ("62041", "Arras", "62", 42_000),
    ("80021", "Amiens", "80", 134_000),
    ("59001", "Petit", "59", 500),
]
COMMUNES_DDL = (
    "commune_code string, commune_nom string, "
    "departement_code string, population long"
)

# name → (rows, DDL, expected rows, or ValueError for a row whose width
# differs from the DDL's: refused, never cut to fit)
_DIRTY = {
    "bigint_exact_next_to_null": (
        [(2**62 + 1,), (None,), (-(2**63),)],
        "x bigint",
        [(2**62 + 1,), (None,), (-(2**63),)],
    ),
    "null_string_and_boolean": (
        [(None, None), ("", False), ("é🙂", True)],
        "s string, b boolean",
        [(None, None), ("", False), ("é🙂", True)],
    ),
    "zero_rows": ([], "x bigint, s string, d double, b boolean", []),
    "ragged_row": ([(1, "a"), (2,), (3, "c")], "x bigint, s string", ValueError),
    "too_wide_rows": ([(1, "a", True), (2, "b", False)], "x bigint, s string", ValueError),
    "too_narrow_rows": ([(1,), (2,)], "x bigint, s string", ValueError),
}

ETL_TABLES = (
    "dim_temps", "dim_geographie", "dim_demographie", "dim_activite",
    "dim_indicateur", "dim_logement",
    "security_agences", "security_employes", "security_utilisateurs_zones",
    "log_etl", "log_erreurs",
)


def _parent_create(spark, rows, schema):
    """The call every literal ETL table used before local_table."""
    return spark.createDataFrame(rows, schema=schema)


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df: DataFrame) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@contextmanager
def _recorded_writes(spark):
    """Yields the list of every DataFrame whose ``.write`` is taken, in
    order: the plan a writer such as ``log_event`` really wrote."""
    seen: list[DataFrame] = []
    cls = type(spark.range(0))
    write = cls.write

    def recording(self):
        seen.append(self)
        return write.fget(self)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cls, "write", property(recording))
        yield seen


@pytest.mark.parametrize("case", sorted(_DIRTY))
def test_local_table_dirty_input_matrix(spark, case):
    rows, ddl, expected = _DIRTY[case]
    if expected is ValueError:
        with pytest.raises(ValueError):
            local_table(spark, rows, ddl)
        return
    df = local_table(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == expected
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def _etl_tables(spark, out: str) -> dict[str, tuple[StructType, list, object]]:
    """name → (schema, rows, parquet schema) of every ETL table a literal
    table feeds, built by the module code as it stands."""
    communes = local_table(spark, COMMUNES, COMMUNES_DDL)
    frames = dict(dimensions.build_all(spark, communes))
    agencies = security.build_agencies(communes)
    employees = security.build_employees(agencies)
    frames["security_agences"] = agencies
    frames["security_employes"] = employees
    frames["security_utilisateurs_zones"] = security.build_zones(employees)
    for name, df in frames.items():
        write_table(df, out, name)

    with _recorded_writes(spark) as seen:
        etl_log.log_event(spark, f"{out}/log_etl", "facts", "fait_x", "OK", 2**62 + 1, 1.5, "")
        etl_log.log_event(spark, f"{out}/log_etl", "facts", "fait_y", "ERREUR", 0, 0.25, "boom")
        etl_log.log_error(spark, f"{out}/log_erreurs", 2**62 + 1, "2024-01-02 09:30:00", "facts", "FK", "orphan", False)
        etl_log.log_error(spark, f"{out}/log_erreurs", 7, "2024-01-03 12:00:00", "api", "Timeout", "", True)
    frames["log_etl"] = seen[0].unionByName(seen[1]).drop("date_execution")
    frames["log_erreurs"] = seen[2].unionByName(seen[3])
    log_schemas = {"log_etl": seen[0].schema, "log_erreurs": seen[2].schema}

    tables = {}
    for name, df in frames.items():
        part = next(
            f for f in sorted(os.listdir(f"{out}/{name}")) if f.endswith(".parquet")
        )
        tables[name] = (
            log_schemas.get(name, df.schema),
            _rows(df),
            pq.read_schema(f"{out}/{name}/{part}"),
        )
    return tables


@pytest.fixture(scope="module")
def etl_tables(spark, tmp_path_factory):
    """The ETL tables built through local_table and, with every call
    site switched back to createDataFrame, as the parent code built
    them."""
    local = _etl_tables(spark, str(tmp_path_factory.mktemp("local")))
    with pytest.MonkeyPatch.context() as mp:
        for module in (dimensions, security, etl_log):
            mp.setattr(module, "local_table", _parent_create)
        parent = _etl_tables(spark, str(tmp_path_factory.mktemp("parent")))
    return local, parent


@pytest.mark.parametrize("name", ETL_TABLES)
def test_etl_table_matches_create_dataframe(etl_tables, name):
    local, parent = etl_tables
    schema, rows, parquet_schema = local[name]
    assert schema == parent[name][0]
    assert rows == parent[name][1] and rows
    assert parquet_schema.equals(parent[name][2], check_metadata=True)


def test_etl_literal_tables_plan_as_local_relations(spark, tmp_path):
    communes = local_table(spark, COMMUNES, COMMUNES_DDL)
    plans = {name: _plan(df) for name, df in dimensions.build_all(spark, communes).items()}
    plans["security_employes"] = _plan(
        security.build_employees(security.build_agencies(communes))
    )
    with _recorded_writes(spark) as written:
        etl_log.log_event(spark, str(tmp_path / "log"), "staging", "all", "OK", 3)
        etl_log.log_error(spark, str(tmp_path / "err"), 1, "2024-01-01 00:00:00", "s", "t", "m")
    plans["log_event write"], plans["log_error write"] = map(_plan, written)

    assert "Range" in plans.pop("dim_temps")  # spark.range, no literal rows
    for name, plan in plans.items():
        assert "LocalTableScan" in plan, (name, plan)
        assert "ExistingRDD" not in plan, (name, plan)
