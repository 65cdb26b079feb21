"""The one Arrow boundary between the engine's Python values and Spark.

Every narrow pandas pass (``mapInPandas``) goes through one of two entry
points here; both take the output schema as a DDL string and leave the
Python → Arrow conversion to Spark, which casts each returned column to
the declared type (Spark SQL, SIGMOD'15: the DataFrame declares the
schema, the engine owns the conversion). So a pass returns plain Python
or numpy values — no per-column dtype casts, no empty-frame scaffolding.
The literal tables of the warehouse ETL (dimension seeds, log rows, the
security hierarchy's root) enter through the third, :func:`local_table`.

* :func:`map_rows` — ``fn(*row)`` yields zero or more output tuples in
  schema column order. Output columns are built as object-dtype series
  (not ``pd.DataFrame.from_records``, whose type inference routes a
  nullable integer column through float64 and so rounds 64-bit values
  such as ``2**62 + 1``); Arrow then converts each object to the
  declared type exactly, and ``None`` becomes NULL.
* :func:`map_columns` — ``fn(pdf)`` returns ``{name: array}`` for
  vectorised passes; arrays go through untouched, so numpy speed is
  kept.

* :func:`local_table` — literal rows typed by a DDL string become a
  ``pyarrow.Table``, which Spark plans as a ``LocalTableScan`` in the
  driver: no RDD, no Python worker, so every reuse of the table (each
  fact join, each orphan-key check) re-reads rows the JVM already
  holds. Arrow keeps nullable 64-bit ints exact (``2**62 + 1`` next to
  a NULL), where a pandas input would route them through float64.

Grouped passes (``applyInPandas``, ``cogroup``,
``applyInPandasWithState``) are not map passes and stay direct calls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Apply ``fn(*row)`` to every row of ``df``; each tuple it yields
    becomes one output row of DDL ``schema``."""
    names = StructType.fromDDL(schema).names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                t for row in pdf.itertuples(index=False, name=None)
                for t in fn(*row)
            ]
            if out:
                yield pd.DataFrame(
                    {
                        n: pd.Series(col, dtype=object)
                        for n, col in zip(names, zip(*out))
                    }
                )

    return df.mapInPandas(run, schema)


def map_columns(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], Mapping[str, object]],
    schema: str,
) -> DataFrame:
    """Apply ``fn`` to every non-empty Arrow batch of ``df`` as a pandas
    frame; the ``{name: array}`` it returns becomes the output batch of
    DDL ``schema``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame(fn(pdf))

    return df.mapInPandas(run, schema)


def local_table(
    spark: SparkSession, rows: Sequence[tuple], schema: str
) -> DataFrame:
    """The literal ``rows`` (tuples in column order, ``None`` for NULL)
    as a DataFrame of DDL ``schema``, planned as a ``LocalTableScan``.
    A row whose width differs from the schema's raises ``ValueError``."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=f.type)
            for col, f in zip(columns, arrow, strict=True)
        ],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)
