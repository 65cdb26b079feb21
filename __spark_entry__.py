"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``evolution_data_warehouse_spark``
package; this module only exposes its registry.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from evolution_data_warehouse_spark.evidence import verification_order
from evolution_data_warehouse_spark.queries import REGISTRY

_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-join +
    group-by + guarded-ratio datamart shape (vm_demographie_departement,
    Terraform/sql/005_create_datamarts.sql:14-42)."""
    return REGISTRY["join_inner_equi"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered by
    the committed CORRECTNESS_r*.json evidence next to this file:
    never-verified queries first, then oldest latest verdict first (the
    driver verifies only the front of this dict each round)."""
    order = verification_order(REGISTRY, _HERE)
    return {name: REGISTRY[name].fn for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query with SQL-expressible
    semantics; omitted keys get the driver's rows-only check."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
