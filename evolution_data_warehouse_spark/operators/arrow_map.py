"""The one Arrow boundary of the engine's Python map passes.

Every narrow pandas pass (``mapInPandas``) goes through one of two entry
points here; both take the output schema as a DDL string and leave the
Python → Arrow conversion to Spark, which casts each returned column to
the declared type (Spark SQL, SIGMOD'15: the DataFrame declares the
schema, the engine owns the conversion). So a pass returns plain Python
or numpy values — no per-column dtype casts, no empty-frame scaffolding.

* :func:`map_rows` — ``fn(*row)`` yields zero or more output tuples in
  schema column order. Output columns are built as object-dtype series
  (not ``pd.DataFrame.from_records``, whose type inference routes a
  nullable integer column through float64 and so rounds 64-bit values
  such as ``2**62 + 1``); Arrow then converts each object to the
  declared type exactly, and ``None`` becomes NULL.
* :func:`map_columns` — ``fn(pdf)`` returns ``{name: array}`` for
  vectorised passes; arrays go through untouched, so numpy speed is
  kept.

Grouped passes (``applyInPandas``, ``cogroup``,
``applyInPandasWithState``) are not map passes and stay direct calls.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame
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
