"""Correctness checks against DuckDB, run outside the timed region.

Registry queries are compared with their ``REGISTRY[name].oracle`` SQL
over the same parquet files: row count plus an order-insensitive hash
of the rows, with columns sorted by name. The warehouse ETL output is
compared with DuckDB aggregates over the generated staging CSV.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import math
import os
from decimal import Decimal

import duckdb


def _canon(v) -> str:
    """One cell as text, so Spark and DuckDB values hash alike."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == int(f) and abs(f) < 1e15:
            return str(int(f))
        return repr(f)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), _canon(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return str(v)


def hash_rows(cols: list[str], rows) -> tuple[int, str]:
    """(row count, md5 of the sorted canonical rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_canon(row[i]) for i in order) for row in rows)
    return len(lines), hashlib.md5("\n".join(lines).encode()).hexdigest()


def star_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per parquet table under ``sf_dir``."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_query(con, oracle_sql: str | None, columns: list[str], rows) -> str | None:
    """None when the collected Spark result matches the oracle, else the
    reason."""
    if oracle_sql is None:
        return None if rows else "no rows (query has no oracle)"
    cur = con.execute(oracle_sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if len(columns) != len(o_cols):
        return f"{len(columns)} columns, oracle {len(o_cols)}"
    got, want = hash_rows(columns, rows), hash_rows(o_cols, o_rows)
    if got != want:
        return f"rows/hash {got} != oracle {want}"
    return None


# Rows each datamart view the API reads holds, from the star tables
# (the API check expects min(limit, rows) back).
VIEW_ROWS_SQL = {
    "vm_demographie": """SELECT count(*) FROM (SELECT DISTINCT n.n_name, year(o.o_orderdate)
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey)""",
    "vm_revenus": """SELECT count(DISTINCT n.n_name) FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey""",
}


def check_api_rows(con, view: str, rows: list[dict], limit: int) -> str | None:
    want = min(limit, con.execute(VIEW_ROWS_SQL[view]).fetchone()[0])
    if len(rows) != want:
        return f"{view}: {len(rows)} rows, expected {want}"
    return None


def check_population_fact(out_dir: str, staging_csv: str) -> str | None:
    """``fait_population``'s population total (a temps_id-partitioned
    dir) equals the sum over the staging CSV it is built from."""
    con = duckdb.connect()
    path = os.path.join(out_dir, "fait_population", "*", "*.parquet")
    got = con.execute(
        f"SELECT sum(population) FROM read_parquet('{path}', hive_partitioning=true)"
    ).fetchone()[0]
    want = con.execute(
        f"SELECT sum(CAST(OBS_VALUE AS DOUBLE)) FROM "
        f"read_csv_auto('{staging_csv}', header=true, all_varchar=true)"
    ).fetchone()[0]
    if not math.isclose(float(got or 0.0), float(want or 0.0), rel_tol=1e-9, abs_tol=1e-6):
        return f"fait_population.population: {got} != staging {want}"
    return None


def check_scd2(table_dir: str, n_communes: int, n_changed: int) -> str | None:
    """After bootstrap + one merge: one active row per commune and one
    closed version per changed commune."""
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        version = f.read().strip()
    path = os.path.join(table_dir, f"v{version}", "*.parquet")
    total, active, v2 = duckdb.connect().execute(
        f"SELECT count(*), count(*) FILTER (WHERE est_actif), "
        f"count(*) FILTER (WHERE version = 2) FROM read_parquet('{path}')"
    ).fetchone()
    want = (n_communes + n_changed, n_communes, n_changed)
    if (total, active, v2) != want:
        return f"scd2 (rows, active, v2) = {(total, active, v2)}, expected {want}"
    return None
