"""Z-order (Morton curve) multi-dimensional data layout.

The clustering leg of warehouse layout maintenance (the compaction leg
is warehouse/etl.py::compact_small_files, which publishes a versioned
table's next version, driver-checked as proc_maintenance_layout):
interleave the bits of two grid-normalized sort keys so that files
written in curve order bound BOTH dimensions — parquet min/max footer
stats then prune scans filtered on EITHER column, where a single-key
sort prunes only its leading column. This
is the standard lakehouse OPTIMIZE ZORDER BY technique (public
knowledge: Morton 1966; every major lakehouse documents it), built
here from closed-form integer expressions so a DuckDB oracle can
verify the curve math and bucket spans exactly.

Scale shape: the grid normalization is two column expressions over a
1-row min/max broadcast; the z-value is a fixed sum of shift/mask
terms (whole-stage codegen); the physical write is
repartitionByRange(z) + sortWithinPartitions — one range shuffle, the
same cost as any global sort, amortized over every future pruned scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension in the interleave (2*ZORDER_BITS-bit z-values)
ZORDER_BITS = 8


def grid_expr(col: str, vmin: str, vmax: str, bits: int = ZORDER_BITS) -> str:
    """Spark-SQL expression normalizing an INTEGRAL column into the
    [0, 2**bits) integer grid with exact integer arithmetic:
    ((v - min) * cells) div (span + 1). BIGINT multiply before the
    floor-division, so no float boundary can disagree across engines.
    The DuckDB mirror is :func:`grid_sql` (`//` instead of `div`).

    PRECONDITION (same as zorder_key's): the column must already be an
    integral type — CAST(x AS BIGINT) TRUNCATES fractional values in
    Spark but ROUNDS them in DuckDB, so a DOUBLE/DECIMAL input would
    silently diverge between an engine plan and its oracle. Bucket or
    rank non-integral columns first; zorder_layout enforces this at
    runtime."""
    cells = 1 << bits
    return (
        f"(CAST({col} AS BIGINT) - {vmin}) * {cells} div ({vmax} - {vmin} + 1)"
    )


def grid_sql(col: str, vmin: str, vmax: str, bits: int = ZORDER_BITS) -> str:
    cells = 1 << bits
    return (
        f"(CAST({col} AS BIGINT) - {vmin}) * {cells} // ({vmax} - {vmin} + 1)"
    )


def zvalue(xg: Column, yg: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton interleave of two grid coordinates — delegates to the
    canonical warehouse/etl.py::zorder_key (one interleave
    implementation in the engine); this module adds what that
    engine+tests helper lacked: exact-integer grid normalization
    (grid_expr), the DuckDB mirror (zvalue_sql), and the driver-level
    oracle query (proc_zorder_report)."""
    from evolution_data_warehouse_spark.warehouse.etl import zorder_key

    return zorder_key(xg, yg, bits=bits).cast("bigint")


def zvalue_sql(xg: str, yg: str, bits: int = ZORDER_BITS) -> str:
    """DuckDB mirror of :func:`zvalue` — one source of truth for the
    interleave term list (built from the same loop)."""
    # every term fully parenthesized: SQL `<<` binds LOOSER than `+`,
    # so `a << 1 + b << 3` would parse as `a << (1 + b) << 3`
    terms = []
    for b in range(bits):
        terms.append(f"(((({xg}) >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"(((({yg}) >> {b}) & 1) << {2 * b})")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    out_dir: str,
    n_files: int = 16,
    bits: int = ZORDER_BITS,
) -> None:
    """Physically cluster ``df`` on the Morton curve of (x_col, y_col)
    and write ``n_files`` parquet files: range-partition on the
    z-value (one shuffle) and sort within partitions so every file's
    min/max footer stats bound BOTH dimensions. Tested by reading the
    files back individually and comparing per-file span products
    against a single-key-sorted layout (test_warehouse)."""
    from pyspark.sql import types as T

    for c in (x_col, y_col):
        if not isinstance(df.schema[c].dataType, T.IntegralType):
            raise ValueError(
                f"zorder_layout requires integral sort columns; {c!r} is "
                f"{df.schema[c].dataType.simpleString()} — bucket or rank "
                "it first (grid_expr's documented precondition: BIGINT "
                "casts truncate in Spark but round in DuckDB)"
            )
    bounds = df.agg(
        F.min(x_col).alias("_xmin"), F.max(x_col).alias("_xmax"),
        F.min(y_col).alias("_ymin"), F.max(y_col).alias("_ymax"),
    )
    with_z = (
        df.join(bounds)
        .withColumn("_xg", F.expr(grid_expr(x_col, "_xmin", "_xmax", bits)))
        .withColumn("_yg", F.expr(grid_expr(y_col, "_ymin", "_ymax", bits)))
        .withColumn("_z", zvalue(F.col("_xg"), F.col("_yg"), bits))
    )
    (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_xmin", "_xmax", "_ymin", "_ymax", "_xg", "_yg", "_z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
