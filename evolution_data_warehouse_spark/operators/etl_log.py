"""Structured ETL event logging (dwh.log_etl / dwh.log_erreurs analog).

Ref: Terraform/sql/008_configure_logging.sql:15-25,59-68 (tables),
:94-133 (sp_log_etl); Python mirror analytics/etl/load_facts.py:43-57.
Append-only parquet tables + monitoring views as DataFrames.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table

LOG_SCHEMA = (
    "etape string, nom_table string, statut string, lignes_traitees long, "
    "duree_secondes double, message string, date_execution timestamp"
)


def log_event(
    spark: SparkSession,
    log_dir: str,
    etape: str,
    nom_table: str,
    statut: str,
    lignes: int = 0,
    duree: float = 0.0,
    message: str = "",
) -> None:
    df = local_table(
        spark,
        [(etape, nom_table, statut, lignes, duree, message)],
        "etape string, nom_table string, statut string, "
        "lignes_traitees long, duree_secondes double, message string",
    ).withColumn("date_execution", F.current_timestamp())
    df.write.mode("append").parquet(log_dir)


@contextmanager
def logged_step(spark: SparkSession, log_dir: str, etape: str, nom_table: str):
    """Time a pipeline step and append OK/ERREUR on exit (sp_log_etl
    shape). Yields a dict the step can fill with 'lignes'."""
    info = {"lignes": 0}
    t0 = time.time()
    try:
        yield info
    except Exception as exc:  # noqa: BLE001 - logged then re-raised
        log_event(
            spark, log_dir, etape, nom_table, "ERREUR",
            info.get("lignes", 0), time.time() - t0, str(exc)[:500],
        )
        raise
    log_event(
        spark, log_dir, etape, nom_table, "OK",
        info.get("lignes", 0), time.time() - t0, "",
    )


def read_log(spark: SparkSession, log_dir: str) -> DataFrame:
    return spark.read.schema(LOG_SCHEMA).parquet(log_dir)


def monitoring_summary(log: DataFrame) -> DataFrame:
    """v_monitoring_etl analog (008:171-205): per step/status counts +
    conditional error counters."""
    return log.groupBy("etape", "nom_table").agg(
        F.count("*").alias("n_executions"),
        F.sum(F.when(F.col("statut") == "ERREUR", 1).otherwise(0))
        .cast("long")
        .alias("n_erreurs"),
        F.max("date_execution").alias("derniere_execution"),
        F.sum("lignes_traitees").alias("total_lignes"),
    )


def render_report_html(report_dict: dict) -> str:
    """HTML pipeline report body — the reference's email notifier
    rendering (analytics/etl/etl_notifier.py:156-303); the SMTP
    transport half lives in :func:`send_report` below."""
    status_color = {
        "OK": "#2e7d32", "SKIP": "#757575", "IGNORE": "#f9a825",
        "ERREUR": "#c62828",
    }
    rows = "".join(
        f"<tr><td>{s['name']}</td>"
        f"<td style='color:{status_color.get(s['status'], '#000')}'>"
        f"{s['status']}</td>"
        f"<td>{s['rows'] if s['rows'] is not None else ''}</td>"
        f"<td>{s['duration_sec']}s</td><td>{s['error']}</td></tr>"
        for s in report_dict["steps"]
    )
    overall = "SUCCES" if report_dict["ok"] else "ECHEC"
    return (
        "<html><body><h2>Rapport ETL — "
        f"{overall}</h2><table border='1' cellpadding='4'>"
        "<tr><th>Etape</th><th>Statut</th><th>Lignes</th>"
        "<th>Duree</th><th>Erreur</th></tr>"
        f"{rows}</table></body></html>"
    )


def send_report(
    report_dict: dict,
    smtp_config: dict,
    subject: str | None = None,
    use_tls: bool = True,
    timeout: float = 10.0,
) -> bool:
    """SMTP transport for the pipeline report — the send half of the
    reference's notifier (analytics/etl/etl_notifier.py:60-87): skip
    with a warning when user/recipient are unconfigured, build a
    multipart/alternative message carrying the HTML body, send over
    smtplib (STARTTLS + login when configured), and return success as
    a bool — a notification failure is logged, never raised, so it can
    never fail the pipeline it reports on.
    """
    import logging
    import smtplib
    from email.mime.multipart import MIMEMultipart
    from email.mime.text import MIMEText

    logger = logging.getLogger(__name__)
    if not smtp_config.get("user") or not smtp_config.get("to"):
        logger.warning(
            "notification email skipped: smtp user or recipient unconfigured"
        )
        return False
    if subject is None:
        overall = "SUCCES" if report_dict.get("ok") else "ECHEC"
        subject = f"Rapport ETL — {overall}"
    try:
        msg = MIMEMultipart("alternative")
        msg["Subject"] = subject
        msg["From"] = smtp_config["user"]
        msg["To"] = smtp_config["to"]
        msg.attach(MIMEText(render_report_html(report_dict), "html", "utf-8"))
        with smtplib.SMTP(
            smtp_config.get("host", "localhost"),
            int(smtp_config.get("port", 587)),
            timeout=timeout,
        ) as server:
            server.ehlo()
            if use_tls:
                server.starttls()
                server.ehlo()
            if smtp_config.get("password"):
                server.login(smtp_config["user"], smtp_config["password"])
            server.sendmail(
                smtp_config["user"], [smtp_config["to"]], msg.as_string()
            )
        logger.info("report emailed to %s: %s", smtp_config["to"], subject)
        return True
    except Exception as exc:  # noqa: BLE001 — notify must never raise
        logger.error("report email failed: %s", exc)
        return False


def notify_from_env(report_dict: dict, env=None) -> bool:
    """Config-gated notification: read the reference's env contract
    (ETL_SMTP_HOST/PORT/USER/PASSWORD, ETL_NOTIFY_EMAIL — etl_notifier
    .py:77-81) and send the report; a missing user/recipient makes this
    a logged no-op, exactly like the reference."""
    import os

    env = os.environ if env is None else env
    return send_report(
        report_dict,
        {
            "host": env.get("ETL_SMTP_HOST", "localhost"),
            "port": env.get("ETL_SMTP_PORT", "587"),
            "user": env.get("ETL_SMTP_USER"),
            "password": env.get("ETL_SMTP_PASSWORD"),
            "to": env.get("ETL_NOTIFY_EMAIL"),
        },
        use_tls=env.get("ETL_SMTP_STARTTLS", "1") != "0",
    )


ERROR_SCHEMA = (
    "erreur_id long, date_erreur timestamp, source string, "
    "type_erreur string, message_erreur string, est_resolu boolean"
)


def log_error(
    spark: SparkSession,
    err_dir: str,
    erreur_id: int,
    date_erreur: str,
    source: str,
    type_erreur: str,
    message: str,
    est_resolu: bool = False,
) -> None:
    """Append one row to the error log (dwh.log_erreurs analog,
    008_configure_logging.sql:59-68)."""
    local_table(
        spark,
        [(erreur_id, date_erreur, source, type_erreur, message, est_resolu)],
        "erreur_id long, date_erreur string, source string, "
        "type_erreur string, message_erreur string, est_resolu boolean",
    ).withColumn("date_erreur", F.col("date_erreur").cast("timestamp")).select(
        "erreur_id", "date_erreur", "source", "type_erreur",
        "message_erreur", "est_resolu",
    ).write.mode("append").parquet(err_dir)


def read_error_log(spark: SparkSession, err_dir: str) -> DataFrame:
    return spark.read.schema(ERROR_SCHEMA).parquet(err_dir)


def open_errors(errors: DataFrame, as_of) -> DataFrame:
    """v_erreurs_ouvertes analog (008:190-205): unresolved errors with
    their age in whole hours relative to ``as_of`` (the reference uses
    GETDATE(); a pinned as_of keeps the view deterministic and
    backfill-safe)."""
    hours = F.floor(
        (F.unix_timestamp(as_of) - F.unix_timestamp(F.col("date_erreur")))
        / F.lit(3600)
    )
    return (
        errors.filter(~F.col("est_resolu"))
        .select(
            "erreur_id",
            "date_erreur",
            "source",
            "type_erreur",
            "message_erreur",
            hours.alias("heures_depuis_erreur"),
        )
    )
