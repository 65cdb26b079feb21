"""SCD2 merge over plain parquet: read the current dimension, apply
``scd2_apply``, publish the result as the dimension's next version
(warehouse/manifest.py), plus the streaming (foreachBatch) form.

The reference's batch MERGE (010_scd_dimensions.sql:391-522) runs
inside Azure SQL; on Delta/Iceberg this module collapses into MERGE
INTO (jars not present in this image; SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.scd import scd2_apply
from evolution_data_warehouse_spark.warehouse import manifest


def read_dimension(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame | None:
    """Read the current dimension (None before the first merge), or
    time-travel to an earlier published version."""
    if version is None and manifest.current_version(spark, table_dir) == 0:
        return None
    return manifest.read_version(spark, table_dir, version=version)


def upsert_scd2(
    spark: SparkSession,
    table_dir: str,
    staged: DataFrame,
    key: str,
    attrs: list[str],
    effective_ts: Column,
) -> int:
    """Merge a staged snapshot into the stored dimension; returns the
    published version. First call bootstraps version 1 rows."""
    current = read_dimension(spark, table_dir)
    if current is None:
        merged = staged.select(
            key,
            *attrs,
            F.lit(1).alias("version"),
            F.lit(True).alias("est_actif"),
            effective_ts.alias("date_debut_validite"),
            F.lit(None).cast("timestamp").alias("date_fin_validite"),
        )
    else:
        merged = scd2_apply(current, staged, key, attrs, effective_ts)
    # append into the claimed empty directory: overwrite would delete
    # and recreate it, reopening the claim to a concurrent publisher
    return manifest.publish(
        spark, table_dir, merged.write.mode("append").parquet
    )


def scd2_foreach_batch(
    table_dir: str, key: str, attrs: list[str], ts_col: str = "_effective_ts"
):
    """foreachBatch sink applying the SCD2 merge per micro-batch — the
    Structured Streaming form of the reference's MERGE (SURVEY §2.9)."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # One deterministic effective timestamp per batch.
        if ts_col in batch_df.columns:
            eff = batch_df.agg(F.max(ts_col)).first()[0]
            eff_col = F.lit(eff).cast("timestamp")
            snapshot = batch_df.drop(ts_col)
        else:
            eff_col = F.current_timestamp()
            snapshot = batch_df
        upsert_scd2(
            batch_df.sparkSession, table_dir, snapshot, key, attrs, eff_col
        )

    return apply_batch
