"""The one Arrow boundary between the engine's Python values and Spark.

Every stateless Python pass (``mapInArrow``, grouped ``applyInArrow``)
and every literal table goes through one of four entry points here, each
taking its output schema as a DDL string. One typing rule serves all
four (Spark SQL, SIGMOD'15: the DataFrame declares the schema, one
engine layer owns the conversion): each output column becomes
``pa.array(col, type=f.type)`` over the DDL's Arrow schema. Spark's
Arrow passes do not cast what a pass returns (an ``int32`` array under a
``bigint`` field fails in the JVM), so the rule is what makes a pass's
plain Python or numpy values — or Arrow arrays passed through — land
as the declared types, with ``None`` as NULL and no per-column dtype
casts in the passes.

* :func:`map_rows` — ``fn(*row)`` yields zero or more output tuples in
  schema column order. Each input column is read exactly: a nullable
  bigint arrives as ``int`` or ``None`` (never through float64, which
  rounds ``2**62 + 1``), a NULL double as NaN, an array as an ndarray.
  A tuple whose width differs from the schema's raises ``ValueError``.
* :func:`map_columns` — ``fn(batch)`` gets each non-empty
  ``pa.RecordBatch`` and returns ``{name: array}`` for vectorised
  passes; numpy arrays and Arrow arrays go through without a Python
  loop.
* :func:`map_groups` — ``fn(table)`` gets each group of a ``groupBy``
  as one ``pa.Table`` and returns ``{name: column}``, the
  :func:`map_columns` contract; a group may return zero rows.
* :func:`local_table` — literal rows typed by a DDL string become a
  ``pyarrow.Table``, which Spark plans as a ``LocalTableScan`` in the
  driver: no RDD, no Python worker, so every reuse of the table (each
  fact join, each orphan-key check) re-reads rows the JVM already
  holds.

The stateful ``applyInPandasWithState`` passes (streaming/events.py)
keep their state in pandas: PySpark has no Arrow form of that API.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, GroupedData, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def _typed_batch(columns: Iterable[Sequence], arrow: pa.Schema) -> pa.RecordBatch:
    """The typing rule: one ``pa.array(col, type)`` per DDL field; a
    column count that differs from the schema's raises ``ValueError``."""
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow, strict=True)],
        schema=arrow,
    )


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Apply ``fn(*row)`` to every row of ``df``; each tuple it yields
    becomes one output row of DDL ``schema``."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = [
                c.to_pandas(integer_object_nulls=True).tolist()
                for c in batch.columns
            ]
            out = [t for row in zip(*cols) for t in fn(*row)]
            if out:
                yield _typed_batch(zip(*out, strict=True), arrow)

    return df.mapInArrow(run, schema)


def map_columns(
    df: DataFrame,
    fn: Callable[[pa.RecordBatch], Mapping[str, object]],
    schema: str,
) -> DataFrame:
    """Apply ``fn`` to every non-empty Arrow batch of ``df``; the
    ``{name: array}`` it returns becomes the output batch of DDL
    ``schema``."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                out = fn(batch)
                yield _typed_batch([out[name] for name in arrow.names], arrow)

    return df.mapInArrow(run, schema)


def map_groups(
    grouped: GroupedData,
    fn: Callable[[pa.Table], Mapping[str, object]],
    schema: str,
) -> DataFrame:
    """Apply ``fn`` to every group of ``grouped`` as one ``pa.Table``;
    the ``{name: column}`` it returns becomes the group's output rows of
    DDL ``schema``."""
    arrow = to_arrow_schema(StructType.fromDDL(schema))

    def run(table: pa.Table) -> pa.Table:
        out = fn(table)
        return pa.Table.from_batches(
            [_typed_batch([out[name] for name in arrow.names], arrow)]
        )

    return grouped.applyInArrow(run, schema)


def local_table(
    spark: SparkSession, rows: Sequence[tuple], schema: str
) -> DataFrame:
    """The literal ``rows`` (tuples in column order, ``None`` for NULL)
    as a DataFrame of DDL ``schema``, planned as a ``LocalTableScan``.
    A row whose width differs from the schema's raises ``ValueError``."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows, strict=True)) or [()] * len(arrow)
    table = pa.Table.from_batches([_typed_batch(columns, arrow)])
    return spark.createDataFrame(table, schema=struct)
