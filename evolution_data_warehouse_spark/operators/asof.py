"""As-of (point-in-time) join — engine extension.

The reference's SCD2 validity window (date_debut/date_fin_validite,
010_scd_dimensions.sql:114-127) is the natural home of an as-of join
(SURVEY.md §2.3). Spark has no native as-of join; ``asof_join`` is an
equi-join on the key + inequality filter + per-left-row row_number. One
shuffle; fine when the per-key right-side fan-out is bounded (dimension
versions: a handful per key). Fully expressible to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    left_key: str,
    right_cols: list[str] | None = None,
    tie_breaker: str | None = None,
) -> DataFrame:
    """For each left row (uniquely identified by ``left_key``), attach the
    latest right row with right_ts <= left_ts (backward as-of),
    left-outer semantics."""
    right_cols = right_cols or [c for c in right.columns if c != on]
    r = right.select(F.col(on).alias("_r_key"), *right_cols)
    j = left.join(
        r,
        (F.col(on) == F.col("_r_key")) & (F.col(right_ts) <= F.col(left_ts)),
        "left",
    )
    order = [F.desc_nulls_last(right_ts)]
    if tie_breaker:
        order.append(F.desc_nulls_last(tie_breaker))
    w = W.partitionBy(left_key).orderBy(*order)
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_r_key")
    )

