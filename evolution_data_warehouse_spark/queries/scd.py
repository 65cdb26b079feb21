"""Warehouse procedures and views as oracle-checked queries: SCD merges
and maintenance procedures (``proc_*``), datamart views (``view_*``),
generated dimensions (``dim_*``), snapshot diffs (``snapshot_*``) and
time travel (``warehouse_*``).

Each SCD query synthesizes a deterministic staged/current pair from the
customer table (fixed literal effective timestamps), runs the engine
operator, and is hash-checked against a DuckDB SQL restatement of the
same merge semantics — making the SCD write-path algorithms themselves
part of the correctness gate.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.operators.layout import (
    grid_expr,
    grid_sql,
    zvalue,
    zvalue_sql,
)
from evolution_data_warehouse_spark.operators.scd import (
    scd1_apply,
    scd2_apply,
    scd2_rekey_apply,
    scd3_apply,
)
from evolution_data_warehouse_spark.plans.datamarts import (
    create_datamarts,
    DASHBOARD_SQL,
    DATAMART_SQL,
)
from evolution_data_warehouse_spark.queries.common import register, scratch, t
from evolution_data_warehouse_spark.queries.event_analytics import (
    SESSION_GAP_US,
    session_oracle,
)


T0 = "2020-01-01 00:00:00"


_T1 = "2024-01-01 00:00:00"


def current_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current dimension snapshot: every customer at version 1, active."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_key"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(1).alias("version"),
        F.lit(True).alias("est_actif"),
        F.lit(T0).cast("timestamp").alias("date_debut_validite"),
        F.lit(None).cast("timestamp").alias("date_fin_validite"),
    )


def _staged_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged snapshot: delinquent accounts reclassified + new keys."""
    c = t(spark, sf_dir, "customer")
    updates = c.select(
        F.col("c_custkey").alias("customer_key"),
        F.when(F.col("c_acctbal") < 0, F.lit("DELINQUENT"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    new_keys = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("customer_key"),
        F.lit("NEWSEG").alias("segment"),
    )
    return updates.unionByName(new_keys)


_STAGED_SQL = """
SELECT c_custkey AS customer_key,
       CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment
FROM customer
UNION ALL
SELECT c_custkey + 1000000, 'NEWSEG' FROM customer WHERE c_custkey % 50 = 0
"""


_SCD1_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
SELECT customer_key, segment FROM staged
"""


# (Every current key appears in staged, so SCD1's output == staged here;
# the Spark side still runs the full overwrite-merge.)


@register(
    "proc_scd1",
    _SCD1_ORACLE,
    doc="SCD Type 1 overwrite-in-place. Ref: 010_scd_dimensions.sql:30-91; "
    "load_dimensions.py:88-132.",
)
def proc_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = current_dim(spark, sf_dir).select("customer_key", "segment")
    staged = _staged_dim(spark, sf_dir)
    return scd1_apply(current, staged, "customer_key", ["segment"])


_SCD2_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
-- unchanged active rows
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_acctbal >= 0
UNION ALL
-- closed previous versions of changed keys
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{T0}', TIMESTAMP '{_T1}'
FROM customer WHERE c_acctbal < 0
UNION ALL
-- new active versions of changed keys
SELECT c_custkey, 'DELINQUENT', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_acctbal < 0
UNION ALL
-- brand-new business keys
SELECT customer_key, segment, CAST(1 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM staged WHERE customer_key >= 1000000
"""


@register(
    "proc_scd2",
    _SCD2_ORACLE,
    doc="SCD Type 2 batch merge: close changed rows, insert v+1, insert "
    "brand-new keys. Ref: 010_scd_dimensions.sql:391-522. One full-outer "
    "join; replaces the reference's 5-minute recency pairing hack "
    "(010:449-456) with an explicit changed-keys set.",
)
def proc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = current_dim(spark, sf_dir)
    staged = _staged_dim(spark, sf_dir)
    return scd2_apply(
        current,
        staged,
        "customer_key",
        ["segment"],
        F.lit(_T1).cast("timestamp"),
    )


_SCD3_ORACLE = f"""
WITH staged AS ({_STAGED_SQL})
SELECT c_custkey AS customer_key,
       CASE WHEN c_acctbal < 0 THEN 'DELINQUENT' ELSE c_mktsegment END AS segment,
       CASE WHEN c_acctbal < 0 THEN c_mktsegment END AS ancien_segment,
       CASE WHEN c_acctbal < 0 THEN TIMESTAMP '{_T1}' END AS date_changement
FROM customer
UNION ALL
SELECT customer_key, segment, CAST(NULL AS VARCHAR), CAST(NULL AS TIMESTAMP)
FROM staged WHERE customer_key >= 1000000
"""


@register(
    "proc_scd3",
    _SCD3_ORACLE,
    doc="SCD Type 3: shift current value into ancien_*, stamp "
    "date_changement. Ref: 010_scd_dimensions.sql:312-373; "
    "load_dimensions.py:224-270.",
)
def proc_scd3(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = current_dim(spark, sf_dir).select("customer_key", "segment")
    staged = _staged_dim(spark, sf_dir)
    return scd3_apply(
        current,
        staged,
        "customer_key",
        "segment",
        F.lit(_T1).cast("timestamp"),
    )


_SCD2_REKEY_ORACLE = f"""
-- untouched actives
SELECT c_custkey AS customer_key, c_mktsegment AS segment,
       CAST(1 AS INT) AS version, TRUE AS est_actif,
       TIMESTAMP '{T0}' AS date_debut_validite,
       CAST(NULL AS TIMESTAMP) AS date_fin_validite
FROM customer WHERE c_custkey % 97 != 0 AND c_custkey % 89 != 0
UNION ALL
-- closed previous versions of fused/renamed entities
SELECT c_custkey, c_mktsegment, CAST(1 AS INT), FALSE,
       TIMESTAMP '{T0}', TIMESTAMP '{_T1}'
FROM customer WHERE c_custkey % 97 = 0 OR c_custkey % 89 = 0
UNION ALL
-- fusion successors: NEW business key, version lineage continues
SELECT c_custkey + 2000000, 'FUSION', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 97 = 0
UNION ALL
-- rename-only successors: key kept (ISNULL(@nouveau_code, code));
-- % 97 != 0 keeps the two mapping sets disjoint (custkey 0 is in both)
SELECT c_custkey, 'RENAMED', CAST(2 AS INT), TRUE,
       TIMESTAMP '{_T1}', CAST(NULL AS TIMESTAMP)
FROM customer WHERE c_custkey % 89 = 0 AND c_custkey % 97 != 0
"""


@register(
    "proc_scd2_rekey",
    _SCD2_REKEY_ORACLE,
    doc="SCD2 re-keyed-entity merge (commune fusion): close the old "
    "business key and insert its successor — possibly under a NEW key — "
    "at version+1, in one batch. Ref: 010_scd_dimensions.sql:179-268 "
    "(close :210-225, ISNULL(@nouveau_code, commune_code) re-keyed "
    "insert :228-252); docs/E6_SCALABILITY_PROCEDURES.md:253-276.",
)
def proc_scd2_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    current = current_dim(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    fusions = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("old_key"),
        (F.col("c_custkey") + 2000000).alias("new_key"),
        F.lit("FUSION").alias("new_segment"),
    )
    renames = c.filter(
        (F.col("c_custkey") % 89 == 0) & (F.col("c_custkey") % 97 != 0)
    ).select(
        F.col("c_custkey").alias("old_key"),
        F.lit(None).cast("bigint").alias("new_key"),
        F.lit("RENAMED").alias("new_segment"),
    )
    return scd2_rekey_apply(
        current,
        fusions.unionByName(renames),
        "customer_key",
        ["segment"],
        F.lit(_T1).cast("timestamp"),
    )


_SCD_HISTORY_ORACLE = f"""
WITH merged AS ({_SCD2_ORACLE})
SELECT customer_key, segment, version, est_actif,
       date_debut_validite, date_fin_validite,
       CASE WHEN est_actif THEN 'Version courante'
            ELSE 'Version historique (v' || CAST(version AS VARCHAR) || ')'
       END AS statut_version
FROM merged
"""


@register(
    "view_scd_history",
    _SCD_HISTORY_ORACLE,
    doc="Full-history SCD2 analytic view: every version with its "
    "validity window and a human-readable statut_version. Ref: "
    "010_scd_dimensions.sql:537-553 (v_historique_geographie).",
)
def view_scd_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = proc_scd2(spark, sf_dir)
    return merged.select(
        "customer_key",
        "segment",
        "version",
        "est_actif",
        "date_debut_validite",
        "date_fin_validite",
        F.when(F.col("est_actif"), F.lit("Version courante"))
        .otherwise(
            F.concat(
                F.lit("Version historique (v"),
                F.col("version").cast("string"),
                F.lit(")"),
            )
        )
        .alias("statut_version"),
    )


_SCD3_CHANGES_ORACLE = f"""
WITH merged AS ({_SCD3_ORACLE})
SELECT customer_key,
       segment AS libelle_actuel,
       ancien_segment AS libelle_precedent,
       date_changement,
       CASE WHEN ancien_segment IS NOT NULL THEN 'Modifie'
            ELSE 'Original' END AS statut_changement
FROM merged
"""


@register(
    "view_scd3_changes",
    _SCD3_CHANGES_ORACLE,
    doc="SCD3 change-audit view: current vs previous value side by side "
    "with a Modifie/Original status. Ref: 010_scd_dimensions.sql:559-576 "
    "(v_changements_pcs).",
)
def view_scd3_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = proc_scd3(spark, sf_dir)
    return merged.select(
        "customer_key",
        F.col("segment").alias("libelle_actuel"),
        F.col("ancien_segment").alias("libelle_precedent"),
        "date_changement",
        F.when(F.col("ancien_segment").isNotNull(), F.lit("Modifie"))
        .otherwise(F.lit("Original"))
        .alias("statut_changement"),
    )


_SCD_LOG_ROWS = [
    ("SCD_TYPE1", "dim_geographie", "SUCCES", "2024-01-01 10:00:00"),
    ("SCD_TYPE2", "dim_geographie", "SUCCES", "2024-02-01 10:00:00"),
    ("SCD_TYPE2", "dim_geographie", "ERREUR", "2024-02-02 10:00:00"),
    ("SCD_TYPE3", "dim_demographie", "SUCCES", "2024-03-01 10:00:00"),
    ("MERGE_SCD2", "dim_geographie", "SUCCES", "2024-04-01 10:00:00"),
    ("MERGE_SCD2", "dim_geographie", "SUCCES", "2024-04-02 10:00:00"),
    ("STAGING", "stg_population", "SUCCES", "2024-04-03 10:00:00"),
]


_SCD_SUMMARY_ORACLE = (
    "WITH log_etl(etape, table_cible, statut, date_execution) AS (VALUES "
    + ", ".join(
        f"('{e}', '{t_}', '{s}', TIMESTAMP '{ts}')"
        for e, t_, s, ts in _SCD_LOG_ROWS
    )
    + """)
SELECT etape AS type_scd, table_cible AS dimension,
       CAST(COUNT(*) AS BIGINT) AS nb_operations,
       CAST(SUM(CASE WHEN statut = 'SUCCES' THEN 1 ELSE 0 END) AS BIGINT)
           AS nb_succes,
       CAST(SUM(CASE WHEN statut = 'ERREUR' THEN 1 ELSE 0 END) AS BIGINT)
           AS nb_erreurs,
       MAX(date_execution) AS derniere_execution
FROM log_etl
WHERE etape LIKE 'SCD_%' OR etape = 'MERGE_SCD2'
GROUP BY etape, table_cible
"""
)


@register(
    "view_scd_summary",
    _SCD_SUMMARY_ORACLE,
    doc="SCD operations dashboard: per-(type, dimension) operation / "
    "success / error counts + last execution over the ETL log. Ref: "
    "010_scd_dimensions.sql:582-596 (v_resume_scd); log schema "
    "008_configure_logging.sql:15-25 (operators/etl_log.py analog). "
    "Deterministic literal log so the aggregation shape is "
    "oracle-checkable.",
)
def view_scd_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = local_table(
        spark,
        _SCD_LOG_ROWS,
        schema="etape string, table_cible string, statut string, "
        "date_execution string",
    ).withColumn("date_execution", F.col("date_execution").cast("timestamp"))
    return (
        log.filter(
            F.col("etape").like("SCD_%") | (F.col("etape") == "MERGE_SCD2")
        )
        .groupBy(
            F.col("etape").alias("type_scd"),
            F.col("table_cible").alias("dimension"),
        )
        .agg(
            F.count("*").alias("nb_operations"),
            F.sum(F.when(F.col("statut") == "SUCCES", 1).otherwise(0))
            .cast("long")
            .alias("nb_succes"),
            F.sum(F.when(F.col("statut") == "ERREUR", 1).otherwise(0))
            .cast("long")
            .alias("nb_erreurs"),
            F.max("date_execution").alias("derniere_execution"),
        )
    )


@register(
    "proc_refresh_stats",
    "SELECT CAST(COUNT(*) AS BIGINT) AS num_rows FROM region",
    doc="ANALYZE TABLE COMPUTE STATISTICS post-load (sp_updatestats "
    "analog). Ref: run_etl.py:263; 007:165-175. Returns the row count "
    "recorded in the catalog (not a fresh scan).",
)
def proc_refresh_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    tbl = f"stats_region_{tag}"
    # External table at a scratch location: survives catalog resets
    # (a fresh session's in-memory catalog doesn't know about leftover
    # managed-table dirs and refuses the location otherwise).
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    path = scratch("refresh_stats", sf_dir)
    t(spark, sf_dir, "region").write.mode("overwrite").option(
        "path", path
    ).saveAsTable(tbl)
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
    stats = (
        spark.sql(f"DESC EXTENDED {tbl}")
        .filter(F.col("col_name") == "Statistics")
        .select("data_type")
        .first()
    )

    m = re.search(r"(\d+) rows", stats.data_type if stats else "")
    num_rows = int(m.group(1)) if m else -1
    return local_table(spark, [(num_rows,)], schema="num_rows long")


@register(
    "proc_log_etl",
    "SELECT * FROM (VALUES "
    "('staging', 'stg_x', 'OK', CAST(5 AS BIGINT)), "
    "('facts', 'fait_y', 'ERREUR', CAST(0 AS BIGINT))"
    ") AS t(etape, nom_table, statut, lignes_traitees)",
    doc="Structured ETL event log: timed steps append OK/ERREUR rows "
    "with row counts (sp_log_etl shape). Ref: 008_configure_logging.sql"
    ":94-133; load_facts.py:43-57. Runs one success + one failing step "
    "and reads the log back (duration excluded — wall-clock).",
)
def proc_log_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.etl_log import (
        logged_step,
        read_log,
    )

    log_dir = scratch("log_etl_q", sf_dir)
    shutil.rmtree(log_dir, ignore_errors=True)
    with logged_step(spark, log_dir, "staging", "stg_x") as info:
        info["lignes"] = 5
    try:
        with logged_step(spark, log_dir, "facts", "fait_y") as info:
            raise ValueError("boom")
    except ValueError:
        pass
    return read_log(spark, log_dir).select(
        "etape", "nom_table", "statut", "lignes_traitees"
    )


_ERR_ROWS = [
    (1, "2024-01-01 08:00:00", "staging", "SchemaError", "bad column", True),
    (2, "2024-01-02 09:30:00", "facts", "FKViolation", "orphan geo_id", False),
    (3, "2024-01-03 12:00:00", "api", "Timeout", "geo API timeout", False),
]


_ERR_AS_OF = "2024-01-04 00:00:00"


_OPEN_ERRORS_ORACLE = f"""
WITH log_erreurs(erreur_id, date_erreur, source, type_erreur,
                 message_erreur, est_resolu) AS (VALUES
    {", ".join(f"(CAST({i} AS BIGINT), TIMESTAMP '{d}', '{s}', '{ty}', '{m}', {str(r).upper()})" for i, d, s, ty, m, r in _ERR_ROWS)}
)
SELECT erreur_id, date_erreur, source, type_erreur, message_erreur,
       CAST(floor((epoch(TIMESTAMP '{_ERR_AS_OF}') - epoch(date_erreur))
                  / 3600) AS BIGINT) AS heures_depuis_erreur
FROM log_erreurs WHERE NOT est_resolu
"""


@register(
    "view_open_errors",
    _OPEN_ERRORS_ORACLE,
    doc="Unresolved-errors dashboard view: error log rows with "
    "est_resolu = false and their age in whole hours. Ref: "
    "008_configure_logging.sql:59-68 (log_erreurs), :190-205 "
    "(v_erreurs_ouvertes); pinned as-of timestamp instead of GETDATE() "
    "for determinism.",
)
def view_open_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.etl_log import (
        log_error,
        open_errors,
        read_error_log,
    )

    err_dir = scratch("err_log_q", sf_dir)
    shutil.rmtree(err_dir, ignore_errors=True)
    for row in _ERR_ROWS:
        log_error(spark, err_dir, *row[:5], est_resolu=row[5])
    return open_errors(
        read_error_log(spark, err_dir),
        F.lit(_ERR_AS_OF).cast("timestamp"),
    )


@register(
    "proc_backup",
    "SELECT r_regionkey, r_name FROM region",
    doc="Snapshot backup + keep-last-N retention + restore-latest "
    "round trip. Ref: backup_to_datalake.py:74-189 (BACPAC export, "
    "30-day retention) as versions of the snapshot store "
    "(warehouse/manifest.py).",
)
def proc_backup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.warehouse.manifest import (
        publish,
        read_version,
    )

    root = scratch("backup_q", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    df = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    for _ in range(3):
        # keep_last=2: the 30-day window, scaled to three backups
        publish(spark, root, df.write.mode("append").parquet, keep_last=2)
    return read_version(spark, root)


@register(
    "proc_orchestration",
    "SELECT * FROM (VALUES "
    "('staging', 'OK'), ('optional', 'SKIP'), "
    "('facts', 'ERREUR'), ('datamarts', 'IGNORE')"
    ") AS t(step_name, status)",
    doc="Cascade-skip orchestration DAG: OK / explicit SKIP / failing "
    "step ERREUR / dependent IGNORE — run_etl.py:206-224 and "
    "load_facts.py:726-734 semantics, returned as the step report.",
)
def proc_orchestration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.pipeline import Step, run_pipeline

    def ok() -> int:
        return t(spark, sf_dir, "region").count()

    def boom() -> int:
        raise ValueError("simulated load failure")

    report = run_pipeline(
        [
            Step("staging", ok),
            Step("optional", ok),
            Step("facts", boom, depends_on=["staging"]),
            Step("datamarts", ok, depends_on=["facts"]),
        ],
        skip=["optional"],
    )
    rows = [(r.name, r.status) for r in report.results]
    return local_table(spark, rows, "step_name string, status string")


_MAINT_ORACLE = """
SELECT 'files_before' AS metric, CAST(16 AS BIGINT) AS value
UNION ALL SELECT 'compacted_to_at_most_4', 1
UNION ALL SELECT 'rows_preserved', (SELECT COUNT(*) FROM orders)
"""


@register(
    "proc_maintenance_layout",
    _MAINT_ORACLE,
    doc="Layout maintenance — the immutable-parquet analog of the "
    "reference's index-maintenance proc (Terraform/sql/"
    "007_configure_performance.sql): fragment a table to 16 files, run "
    "compact_small_files down to 4 as the table's next version, and "
    "report file counts + row preservation. On parquet the B-tree "
    "rebuild becomes compaction + clustering + stats refresh; this is "
    "the compaction leg, deterministic because coalesce targets are "
    "exact.",
)
def proc_maintenance_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.warehouse.etl import (
        compact_small_files,
    )
    from evolution_data_warehouse_spark.warehouse.manifest import (
        publish,
        read_version,
    )

    path = scratch("proc_maintenance_layout", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    n_rows = orders.count()
    publish(spark, path, orders.repartition(16).write.mode("append").parquet)
    before = len(read_version(spark, path).inputFiles())
    after = compact_small_files(spark, path, target_files=4)
    preserved = read_version(spark, path).count()
    # coalesce cannot RAISE partition counts, so on low-core hosts the
    # 16 tiny files may pack into fewer than 4 read partitions — the
    # oracle-stable claim is "at most the target", not an exact count
    rows = [
        ("files_before", before),
        ("compacted_to_at_most_4", 1 if 1 <= after <= 4 else 0),
        ("rows_preserved", preserved if preserved == n_rows else -1),
    ]
    return local_table(spark, rows, "metric string, value long")


# The composed dashboard view, ``analytics.v_tableau_bord_territorial``
# (Terraform/sql/005_create_datamarts.sql:207-254): a geo × time spine
# (CROSS JOIN, reference :234-236), direct LEFT JOINs for datamarts
# already at dashboard grain, and NULLIF-guarded LEFT JOINs on
# aggregated subqueries (:239-251) for the datamarts kept at a finer
# grain (per-sector, per-statut) that must be re-rolled-up to
# (geo, annee). The Spark side goes through the actual view layer
# (plans/datamarts.create_datamarts) so the parity check exercises the
# same nested-view expansion a dashboard user hits; the oracle inlines
# the same view SQL as CTEs.
_DASHBOARD_ORACLE = "WITH " + ",\n".join(
    f"{name} AS ({DATAMART_SQL[name]})"
    for name in ("vm_demographie", "vm_entreprises", "vm_revenus", "vm_emploi")
) + DASHBOARD_SQL


@register(
    "view_dashboard_twograin",
    _DASHBOARD_ORACLE,
    doc="Composed dashboard view parity: geo × time spine with direct "
    "and re-aggregated NULLIF-guarded LEFT JOIN datamart subqueries. "
    "Ref: 005_create_datamarts.sql:207-254 "
    "(v_tableau_bord_territorial); tested via the live view layer.",
)
def view_dashboard_twograin(spark: SparkSession, sf_dir: str) -> DataFrame:
    create_datamarts(spark, sf_dir)
    return spark.table("vm_tableau_bord")


# ---------------------------------------------------------------------------
# Snapshot diff (backfill validation / replication audit)
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH old AS (
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_orderstatus
    FROM orders
),
new AS (
    SELECT o_orderkey,
           cents + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
           o_orderstatus
    FROM old WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 2000000000, cents, o_orderstatus
    FROM old WHERE o_orderkey % 101 = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.cents <> n.cents OR o.o_orderstatus <> n.o_orderstatus
"""


@register(
    "snapshot_table_diff",
    _SNAPDIFF_ORACLE,
    doc="Snapshot diff (warehouse/etl.py snapshot_diff): one FULL "
    "OUTER JOIN on the key emitting added/removed/changed rows — the "
    "backfill-validation / replication-audit primitive. Payloads "
    "travel as an md5 over null-tagged columns, so the shuffle carries "
    "keys + one hash, never full rows; unchanged rows (the 100 TB "
    "majority) are dropped in-plan. v2 synthesized deterministically "
    "(drop %97 keys, bump %5 prices, add %101 clones under new keys); "
    "doubles enter the hash as exact integer cents — float-to-string "
    "formatting never touches the comparison.",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.warehouse.etl import snapshot_diff

    old = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        "o_orderstatus",
    )
    kept = old.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(F.lit(0)),
    )
    added = old.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(2_000_000_000)
    )
    new = kept.unionByName(added)
    return snapshot_diff(
        old, new, ["o_orderkey"], ["cents", "o_orderstatus"]
    )


# ---------------------------------------------------------------------------
# Column-level drift between snapshots
# ---------------------------------------------------------------------------

_COLDRIFT_ORACLE = """
WITH old AS (
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_orderstatus, o_orderpriority
    FROM orders
),
new AS (
    SELECT o_orderkey,
           cents + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
           CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           o_orderpriority
    FROM old
),
joined AS (
    SELECT o.cents AS c_old, n.cents AS c_new,
           o.o_orderstatus AS s_old, n.o_orderstatus AS s_new,
           o.o_orderpriority AS p_old, n.o_orderpriority AS p_new
    FROM old o JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT col_name, n_changed, n_rows FROM (
    SELECT 'cents' AS col_name,
           CAST(SUM(CASE WHEN c_old <> c_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           COUNT(*) AS n_rows
    FROM joined
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*)
    FROM joined
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN p_old <> p_new THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*)
    FROM joined
)
"""


@register(
    "snapshot_column_drift",
    _COLDRIFT_ORACLE,
    doc="Column-level drift between snapshots — the WHICH-column "
    "companion to snapshot_table_diff's row-level WHAT: per column, "
    "how many common-key rows changed. One join + one aggregate with "
    "a conditional sum per column (all columns audited in a single "
    "pass — the per-column-join formulation would cost C shuffles); "
    "doubles compared as exact integer cents.",
)
def snapshot_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderstatus", "o_orderpriority",
    )
    new = old.select(
        "o_orderkey",
        (
            F.col("cents")
            + F.when(F.col("o_orderkey") % 5 == 0, 100).otherwise(0)
        ).alias("cents"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"))
    pairs = [
        ("cents", "o.cents", "n.cents"),
        ("o_orderstatus", "o.o_orderstatus", "n.o_orderstatus"),
        ("o_orderpriority", "o.o_orderpriority", "n.o_orderpriority"),
    ]
    agg = joined.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(F.col(a) != F.col(b), 1).otherwise(0))
            .cast("bigint")
            .alias(f"chg_{name}")
            for name, a, b in pairs
        ],
    )
    stack_expr = ", ".join(f"'{name}', chg_{name}" for name, _, _ in pairs)
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_name, n_changed)",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Manifest time travel (versioned snapshot store round trip)
# ---------------------------------------------------------------------------

_TT_ORACLE = """
SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 1 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
"""


@register(
    "warehouse_time_travel",
    _TT_ORACLE,
    doc="Time travel on the versioned-snapshot store "
    "(warehouse/manifest.py): publish two versions of an orders "
    "aggregate (v1 full, v2 evens-only, labelled 0 and 1), flip the "
    "version pointer atomically each time, then read BOTH the "
    "historical v1 (via read_version) and the live v2 (via "
    "read_current) back. The "
    "oracle recomputes both snapshots from the base table, so any "
    "marker/versioning/publish bug — wrong version served, torn "
    "flip, history clobbered — breaks the hash. The store root is "
    "rebuilt from scratch per run, so version numbering is "
    "deterministic.",
)
def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_current,
        read_version,
    )

    root = scratch("time_travel", sf_dir)
    if os.path.exists(root):
        shutil.rmtree(root)
    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v1 = publish_versioned(spark, {"orders": base}, root)
    v2 = publish_versioned(
        spark, {"orders": base.filter(F.col("o_orderkey") % 2 == 0)}, root
    )
    assert (v1, v2) == (1, 2) and list_versions(spark, root) == [1, 2]
    hist = (
        read_version(spark, root, "orders", 1)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(0).alias("version"), "o_orderstatus", "n_orders")
    )
    live = (
        read_current(spark, root, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(1).alias("version"), "o_orderstatus", "n_orders")
    )
    return hist.unionByName(live)


# ---------------------------------------------------------------------------
# Z-order (Morton) layout — multi-dimensional clustering evidence
# ---------------------------------------------------------------------------


def _zorder_oracle() -> str:
    return f"""
WITH b AS (
    SELECT MIN(l_partkey) AS xmin, MAX(l_partkey) AS xmax,
           MIN(l_suppkey) AS ymin, MAX(l_suppkey) AS ymax
    FROM lineitem
),
g AS (
    SELECT l.l_orderkey, l.l_linenumber, l.l_partkey,
           {grid_sql("l.l_partkey", "b.xmin", "b.xmax")} AS xg,
           {grid_sql("l.l_suppkey", "b.ymin", "b.ymax")} AS yg
    FROM lineitem l, b
),
z AS (SELECT *, {zvalue_sql("xg", "yg")} AS zv FROM g),
t AS (
    SELECT xg, yg,
           NTILE(16) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS zb,
           NTILE(16) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber)
               AS lb
    FROM z
),
za AS (
    SELECT zb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_z,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_z
    FROM t GROUP BY zb
),
la AS (
    SELECT lb AS bucket,
           CAST(MAX(xg) - MIN(xg) AS BIGINT) AS x_span_lin,
           CAST(MAX(yg) - MIN(yg) AS BIGINT) AS y_span_lin
    FROM t GROUP BY lb
)
SELECT CAST(za.bucket AS INT) AS bucket, za.n_rows,
       za.x_span_z, za.y_span_z, la.x_span_lin, la.y_span_lin
FROM za JOIN la ON za.bucket = la.bucket
"""


@register(
    "proc_zorder_report",
    _zorder_oracle(),
    doc="Z-order (Morton curve) multi-dimensional clustering "
    "(operators/layout.py) — the OPTIMIZE ZORDER BY leg of layout "
    "maintenance beside proc_maintenance_layout's compaction leg: "
    "lineitem rows grid-normalize (exact BIGINT arithmetic over a "
    "1-row min/max broadcast) and bit-interleave (l_partkey, "
    "l_suppkey) into a 16-bit curve value; 16 equal buckets in curve "
    "order report their per-dimension grid spans NEXT TO the same "
    "buckets under a plain single-key sort. The output IS the pruning "
    "evidence: z-buckets bound BOTH dimensions (y_span_z well below "
    "the 255 grid span every single-key bucket shows), which is what "
    "lets parquet min/max footer stats prune scans filtered on either "
    "column at 100 TB. NTILE here makes bucket assignment "
    "oracle-checkable; the physical write path (zorder_layout) uses "
    "repartitionByRange — one range shuffle — and is asserted on real "
    "files in test_warehouse.",
)
def proc_zorder_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("xmin"), F.max("l_partkey").alias("xmax"),
        F.min("l_suppkey").alias("ymin"), F.max("l_suppkey").alias("ymax"),
    )
    g = (
        li.join(bounds)
        .withColumn("xg", F.expr(grid_expr("l_partkey", "xmin", "xmax")))
        .withColumn("yg", F.expr(grid_expr("l_suppkey", "ymin", "ymax")))
        .withColumn("zv", zvalue(F.col("xg"), F.col("yg")))
    )
    tiled = g.select(
        "xg", "yg",
        F.ntile(16)
        .over(W.orderBy("zv", "l_orderkey", "l_linenumber"))
        .alias("zb"),
        F.ntile(16)
        .over(W.orderBy("l_partkey", "l_orderkey", "l_linenumber"))
        .alias("lb"),
    )
    za = tiled.groupBy("zb").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_z"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_z"),
    )
    la = tiled.groupBy("lb").agg(
        (F.max("xg") - F.min("xg")).cast("bigint").alias("x_span_lin"),
        (F.max("yg") - F.min("yg")).cast("bigint").alias("y_span_lin"),
    )
    return za.join(la, za["zb"] == la["lb"]).select(
        F.col("zb").cast("int").alias("bucket"),
        "n_rows", "x_span_z", "y_span_z", "x_span_lin", "y_span_lin",
    )


# ---------------------------------------------------------------------------
# dim_date_spine — generated calendar dimension over the fact date range
# ---------------------------------------------------------------------------

# Monday anchor for an engine-independent day-of-week: 1970-01-05 was a
# Monday, so dow = ((date - anchor) mod 7) with 0=Monday — pure integer
# date arithmetic, immune to the engines' differing dayofweek()
# conventions (Spark: 1=Sunday; DuckDB: 0=Sunday).
_DOW_ANCHOR = "1970-01-05"


_DATE_SPINE_ORACLE = f"""
WITH bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
           CAST(MAX(o_orderdate) AS DATE) AS d1
    FROM orders
),
spine AS (
    SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
)
SELECT day,
       CAST(year(day) AS INT) AS yr,
       CAST(month(day) AS INT) AS mo,
       CAST((month(day) + 2) // 3 AS INT) AS qtr,
       CAST(((day - DATE '{_DOW_ANCHOR}') % 7 + 7) % 7 AS INT) AS dow,
       CAST(CASE WHEN ((day - DATE '{_DOW_ANCHOR}') % 7 + 7) % 7 >= 5
            THEN 1 ELSE 0 END AS INT) AS is_weekend,
       CAST(CASE WHEN day = last_day(day) THEN 1 ELSE 0 END AS INT)
           AS is_month_end
FROM spine
"""


@register(
    "dim_date_spine",
    _DATE_SPINE_ORACLE,
    doc="Generated calendar dimension (date spine) covering the fact "
    "table's [min, max] order-date range — the gap-free scaffold "
    "every time-series join in the warehouse hangs off (win_fill_"
    "forward / ts_gap_detection consume exactly this shape). Spark "
    "side is sequence() + explode over the 1-row bounds aggregate — "
    "a generator, not a scan, so the spine costs O(days) regardless "
    "of fact size. Day-of-week comes from integer arithmetic against "
    "a pinned Monday anchor (1970-01-05) because the engines' native "
    "dayofweek() conventions differ (Spark 1=Sunday, DuckDB "
    "0=Sunday); quarter is an integer division on month. No float "
    "anywhere.",
)
def dim_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    bounds = t(spark, sf_dir, "orders").agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    dow = ((F.datediff(F.col("day"), F.lit(_DOW_ANCHOR).cast("date")) % 7) + 7) % 7
    return spine.select(
        "day",
        F.year("day").cast("int").alias("yr"),
        F.month("day").cast("int").alias("mo"),
        ((F.month("day") + 2) / 3).cast("int").alias("qtr"),
        dow.cast("int").alias("dow"),
        F.when(dow >= 5, 1).otherwise(0).cast("int").alias("is_weekend"),
        F.when(F.col("day") == F.last_day("day"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_month_end"),
    )


@register(
    "view_session_durations",
    session_oracle(),
    doc="Connexion-session duration report — the observable output of "
    "the reference's connection tracker "
    "(analytics/etl/track_connexions.py:79-92 projects the auth log; "
    "its v_connexions_actives view reports duree_connexion_min per "
    "session), re-expressed as gap-and-island sessionization over the "
    "events log: a 30-minute inactivity gap opens a new session "
    "(lag + running-sum flags — the standard island id), then one "
    "aggregate per (user, session) emits start/end/duration-minutes/"
    "event-count. Duration is integer epoch-microsecond arithmetic "
    "(floor minutes) — no float ever ranks. Plan: ONE shuffle on "
    "user_id shared by the lag window, the island running sum, and "
    "the final per-session aggregate; users sessionize independently "
    "at any event volume (no global sort, no self-join).",
)
def view_session_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.unix_micros("ts").alias("us")
    )
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("us").over(w_ord)
    new_sess = F.when(
        prev.isNull() | ((F.col("us") - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    s = ev.withColumn(
        "session_seq",
        F.sum(new_sess).over(
            w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.expr("(max(us) - min(us)) DIV 60000000")
        .cast("bigint")
        .alias("duration_min"),
        F.count("*").cast("bigint").alias("n_events"),
    ).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start",
        "session_end",
        "duration_min",
        "n_events",
    )
