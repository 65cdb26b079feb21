"""Names and units of every metric the benchmark prints.

End-to-end metrics come from the untraced run (``--trace 0``); the
per-layer metrics from the traced run (``--trace 1``). Per-layer values
are per timed pass (the mean over the timed passes) unless the name
says otherwise; a layer a workload never reaches reads 0.
"""

END_TO_END = {
    "setup_s": "s",  # process start -> first timed op
    "pass_s": "s",  # median wall time of one pass over the op mix
    "cpu_s": "s",  # median CPU seconds per pass, whole process tree
    "peak_rss_mb": "MB",  # peak resident memory of the tree while timed
}

PER_LAYER = {
    # set-up
    "session.start_s": "s",
    "inputs.generate_s": "s",
    # query construction (registry fn() calls, incl. eager checkpoints)
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    # Catalyst, per registry query DataFrame
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    # execution, from the Spark event log
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    # the pandas/Arrow UDF boundary (MapInPandas, FlatMapGroupsInPandas,
    # ArrowEvalPython...): SQL metrics of those operators only, so other
    # Python tasks are not in them; proc.workers_cpu_s covers every
    # Python worker
    "python.worker_s": "s",
    "python.arrow_sent_mb": "MB",
    "python.arrow_returned_mb": "MB",
    # warehouse ETL, from run_full_etl's PipelineReport
    "sources.staging_s": "s",
    "sources.staged_rows": "count",
    "warehouse.security_s": "s",
    "warehouse.dimensions_s": "s",
    "warehouse.facts_s": "s",
    "warehouse.refresh_s": "s",
    "warehouse.validate_s": "s",
    # warehouse write path
    "warehouse.scd2_upsert_s": "s",
    "warehouse.fact_reload_s": "s",
    "warehouse.bytes_written_mb": "MB",
    "warehouse.files_written": "count",
    "warehouse.write_amp": "ratio",
    # CPU per pass from /proc: the driver Python process, the JVM, and
    # the pyspark daemon with its Python workers
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.workers_cpu_s": "s",
    # read layer
    "plans.create_datamarts_s": "s",
    "api.get_table_s": "s",
    # cost of tracing itself
    "trace.overhead_frac": "ratio",
}

# Workloads that must run no pandas/Arrow UDF operator.
PYTHON_FREE = ("warehouse_etl",)
PYTHON_METRICS = ("python.worker_s", "python.arrow_sent_mb", "python.arrow_returned_mb")


def render(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """``{name: {"value": v, "unit": u}}`` for every name in ``units``."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
