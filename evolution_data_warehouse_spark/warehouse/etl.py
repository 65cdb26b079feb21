"""Full-warehouse ETL: the run_etl.py --full analog, in-process.

Stages (run_etl.py:160-272): staging → security → dimensions → facts,
then validation — as one cascade-skip DAG over Spark jobs, with
log_etl events and data-quality gates. The reference's statistics
refresh (proc_refresh_stats / sp_updatestats) has no plain-parquet
counterpart: readers plan from file sizes, and AQE re-plans at run
time. Tables persist as parquet under ``out_dir`` (partitioned facts);
a real deployment points this at object storage and the same code runs
on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.etl_log import logged_step
from evolution_data_warehouse_spark.operators.quality import (
    negative_values,
    orphan_keys,
    run_validations,
)
from evolution_data_warehouse_spark.operators.security import (
    build_agencies,
    build_employees,
    build_zones,
)
from evolution_data_warehouse_spark.pipeline import Step, run_pipeline
from evolution_data_warehouse_spark.sources.staging import (
    TableSpec,
    prepare_tables,
    tables_summary,
)
from evolution_data_warehouse_spark.warehouse import dimensions as dims_mod
from evolution_data_warehouse_spark.warehouse import facts as facts_mod
from evolution_data_warehouse_spark.warehouse import manifest


def write_table(df: DataFrame, out_dir: str, name: str) -> int:
    """Idempotent overwrite write (the skip-if-loaded guards of
    load_facts.py:162-166 become INSERT OVERWRITE semantics).

    The row count piggybacks on the write job via ``df.observe`` —
    a separate post-write ``count()`` would recompute the whole plan,
    doubling every load at scale."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, name))
    )
    return int(obs.get["rows"])


def write_fact_incremental(
    df: DataFrame, out_dir: str, name: str, partition_by: str = "temps_id"
) -> int:
    """Partition-scoped idempotent load: with dynamic partitionOverwriteMode,
    an overwrite only replaces the partitions present in ``df`` — re-running
    one period never clobbers the others. The 100 TB idiom for incremental
    fact loads (facts are partitioned by the time key, mirroring the
    reference's composite fact indexes, 003_create_facts.sql:39-42). The
    mode is a writer option, so the session's own setting is untouched."""
    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(os.path.join(out_dir, name))
    )
    return int(obs.get["rows"])


def run_full_etl(
    spark: SparkSession,
    specs: list[TableSpec],
    out_dir: str,
    communes: DataFrame | None = None,
) -> tuple:
    """Returns (PipelineReport, validation results)."""
    log_dir = os.path.join(out_dir, "log_etl")
    state: dict = {}

    def staging() -> int:
        with logged_step(spark, log_dir, "staging", "all") as info:
            state["staged"] = prepare_tables(spark, specs)
            info["lignes"] = (
                sum(r.n_rows for r in tables_summary(state["staged"]).collect())
                if state["staged"]
                else 0
            )
            return info["lignes"]

    def security() -> int:
        if communes is None:
            return 0
        with logged_step(spark, log_dir, "security", "all") as info:
            agencies = build_agencies(communes)
            employees = build_employees(agencies)
            zones = build_zones(employees)
            n = 0
            for name, df in (
                ("agences", agencies),
                ("employes", employees),
                ("utilisateurs_zones", zones),
            ):
                n += write_table(df, out_dir, f"security_{name}")
            info["lignes"] = n
            return n

    def dimensions() -> int:
        with logged_step(spark, log_dir, "dimensions", "all") as info:
            state["dims"] = dims_mod.build_all(spark, communes)
            info["lignes"] = sum(
                write_table(df, out_dir, name)
                for name, df in state["dims"].items()
            )
            return info["lignes"]

    _FACT_BUILDERS = {
        "fait_population": lambda s, d: facts_mod.fait_population(
            s["stg_population"], d
        ),
        "fait_evenements_demo": lambda s, d: facts_mod.fait_evenements_demo(
            s["stg_naissances"], s["stg_deces"], d
        ),
        "fait_entreprises": lambda s, d: facts_mod.fait_entreprises(
            s["stg_creation_entreprises"], d
        ),
        "fait_revenus": lambda s, d: facts_mod.fait_revenus(
            s["stg_ds_filosofi"], d
        ),
        "fait_emploi": lambda s, d: facts_mod.fait_emploi(
            s["stg_emploi_chomage"], d
        ),
        "fait_menages": lambda s, d: facts_mod.fait_menages(s["stg_menage"], d),
        "fait_logement": lambda s, d: facts_mod.fait_logement(s["stg_logement"], d),
    }

    def facts() -> int:
        staged, dims = state["staged"], state["dims"]
        total = 0
        state["facts"] = {}
        for name, build in _FACT_BUILDERS.items():
            # staging dependency check (load_facts.py:652-659): skip
            # facts whose staging inputs are absent.
            try:
                df = build(staged, dims)
            except KeyError:
                continue
            with logged_step(spark, log_dir, "facts", name) as info:
                # Facts partition by the time key (dims stay single-dir).
                info["lignes"] = write_fact_incremental(df, out_dir, name)
                state["facts"][name] = df
                total += info["lignes"]
        return total

    report = run_pipeline(
        [
            Step("staging", staging),
            Step("security", security),
            Step("dimensions", dimensions, depends_on=["staging"]),
            Step("facts", facts, depends_on=["dimensions"]),
        ]
    )

    # The checks read what the ETL stored: a count over an in-memory
    # fact would re-run its plan from the staging CSV.
    validations = []
    if "facts" in state and "dims" in state:
        stored = {
            name: spark.read.parquet(os.path.join(out_dir, name))
            for name in [*state["facts"], "dim_temps", "dim_geographie"]
        }
        checks = {
            f"{name}_orphan_{key}": orphan_keys(stored[name], stored[dim], f"{key}_id")
            for name in state["facts"]
            for key, dim in (("temps", "dim_temps"), ("geo", "dim_geographie"))
        }
        if "fait_population" in stored:
            checks["population_non_negative"] = negative_values(
                stored["fait_population"], "population"
            )
        validations = run_validations(checks)
    return report, validations


def write_clustered(
    df: DataFrame,
    out_dir: str,
    name: str,
    cluster_by: list[str],
    n_files: int = 8,
) -> str:
    """Write ``df`` range-clustered on ``cluster_by``: rows are
    range-partitioned so each output file owns a disjoint key range,
    then sorted within the file so parquet row-group min/max stats are
    tight. At 100 TB this is what makes selective reads prune at the
    FILE level (the footer check rejects whole files before any IO) —
    the layout half of predicate pushdown, which the planner alone
    cannot provide.

    repartitionByRange samples the key distribution, so file sizes stay
    balanced under skew; the sort is per-partition (no global sort).
    """
    path = f"{out_dir}/{name}"
    (
        df.repartitionByRange(n_files, *cluster_by)
        .sortWithinPartitions(*cluster_by)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def compact_small_files(spark: SparkSession, root: str, target_files: int) -> int:
    """Compact the versioned table at ``root`` (warehouse/manifest.py):
    publish its current version coalesced to ``target_files`` files as
    the next version and return that version's file count — the
    maintenance pass a landing zone needs after many small incremental
    appends (planning time and NameNode/listing pressure grow with file
    count, not data size).

    coalesce (not repartition): merging partitions needs no shuffle.
    Readers keep the fragmented version until the pointer flips, so
    they never see a missing or half-written table, on any scheme.
    """
    df = manifest.read_version(spark, root).coalesce(target_files)
    # keep_last=2: a reader that resolved the fragmented version before
    # the flip finishes; the next publish drops it
    v = manifest.publish(spark, root, df.write.mode("append").parquet, keep_last=2)
    return len(manifest.read_version(spark, root, version=v).inputFiles())


def zorder_key(col_a: Column, col_b: Column, bits: int = 16) -> Column:
    """Z-order (Morton) key: interleave the bits of two rank-normalized
    columns so rows close in EITHER dimension land close in the key.
    Range-clustering by this key (write_clustered) gives every file a
    bounded rectangle in (a, b) space — selective reads on either
    column prune files from footer stats, the multi-column data-skipping
    trick single-column sort cannot provide.

    Inputs must already be non-negative integers in [0, 2^bits) — rank
    or bucket the raw columns first (percent_rank × 2^bits is the usual
    normalization).
    """
    key = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftright(col_a.cast("bigint"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(col_b.cast("bigint"), i).bitwiseAND(F.lit(1))
        key = (
            key
            + F.shiftleft(bit_a, 2 * i + 1)
            + F.shiftleft(bit_b, 2 * i)
        )
    return key


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Diff two table snapshots: one FULL OUTER JOIN on the key emitting
    'added' / 'removed' / 'changed' rows (unchanged rows are dropped —
    at 100 TB they are the overwhelming majority and nobody reads
    them). Payload comparison goes through md5-of-concatenated
    PER-COLUMN md5s: each column becomes a fixed-width 32-hex token
    (NULL → the 1-char token 'N', which no md5 can equal), so the
    encoding is prefix-free — no separator character a value could
    contain can shift bytes between columns (a raw separator join
    would let ('a\\x01b','c') collide with ('a','b\\x01c') and drop a
    genuinely changed row as unchanged). The shuffle still carries
    keys + one hash instead of full rows — the backfill-validation /
    replication-audit primitive.
    """

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        payload = F.md5(
            F.concat(
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("N")
                    )
                    for c in compare_cols
                ]
            )
        )
        return df.select(
            *[F.col(k).alias(f"{tag}_{k}") for k in key_cols],
            payload.alias(f"{tag}_hash"),
        )

    o = hashed(old, "o")
    n = hashed(new, "n")
    cond = [o[f"o_{k}"].eqNullSafe(n[f"n_{k}"]) for k in key_cols]
    joined = o.join(n, cond, "full_outer")
    change = (
        F.when(o["o_hash"].isNull(), F.lit("added"))
        .when(n["n_hash"].isNull(), F.lit("removed"))
        .when(o["o_hash"] != n["n_hash"], F.lit("changed"))
    )  # NULL for unchanged → filtered
    out_keys = [
        F.coalesce(o[f"o_{k}"], n[f"n_{k}"]).alias(k) for k in key_cols
    ]
    return joined.select(*out_keys, change.alias("change_type")).filter(
        F.col("change_type").isNotNull()
    )
