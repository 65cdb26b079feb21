"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a production cluster profile would set:
AQE on (runtime re-plan, skew-join handling, partition coalescing),
shuffle partitions sized to cores rather than the 200 default, Arrow on
for the Pandas-UDF paths, and a pinned UTC session timezone so results
are reproducible against the DuckDB oracle (DuckDB timestamps are
UTC-naive).

At 100 TB the same knobs change value, not shape: shuffle partitions
sized so ~128-256 MB lands per reducer, `spark.sql.files.maxPartitionBytes`
left at 128 MB for scan parallelism, AQE handles the rest at runtime.

JIT policy: a session compiles with C1 only (``-XX:TieredStopAtLevel=1``)
unless its caller passes ``TIERED_JIT`` in ``extra_conf``. C1-only suits
a cold, short batch job, such as the perfbench workloads, which exits
before C2's optimized code earns back its compile time. The entry
points measured slower under it opt out: ``bench.py`` (warm steady
state), the ``run_etl`` CLI (slower on larger inputs),
``tools/gen_sf1.py`` and the test suite. plans/jit_policy.md holds the
measurements. The flag goes in ``spark.driver.defaultJavaOptions``,
which Spark puts in front of ``spark.driver.extraJavaOptions``, so a
caller's own JVM flags sit next to it instead of replacing it. Like
every driver JVM option it applies only when the session launches the
JVM, i.e. on the process's first ``get_spark``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# C1-only JIT for batch sessions, and the opt-out (see "JIT policy" above)
_JIT_POLICY = "-XX:TieredStopAtLevel=1"
TIERED_JIT = {"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"}


def resolve_cpus() -> int:
    """Effective core count for local-mode sessions — the single source
    of truth (bench.py reports this same number as ``cpus_effective``).

    The DEFAULT is clamped to the machine's real cores: local[N] with N
    beyond the physical cores just oversubscribes the scheduler, and
    shuffle partitions sized to a phantom core count fragment every
    stage. An EXPLICIT ``SPARK_GRAFT_CPUS`` is honored as-is
    (deliberate oversubscription for IO-bound runs stays possible, and
    bench numbers stay comparable across hosts) — with a loud warning
    when it exceeds the hardware.
    """
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    hw = os.cpu_count() or 32
    if env_cpus is not None:
        cpus = int(env_cpus)
        if cpus > hw:
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_CPUS={cpus} exceeds the machine's {hw} cores; "
                "honoring it (explicit override), expect oversubscription",
                stacklevel=2,
            )
        return cpus
    return min(32, hw)


def get_spark(
    app_name: str = "evolution_data_warehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so tests and bench share one code path. ``extra_conf`` is applied
    last, so it overrides any default above, the JIT policy included.
    """
    cpus = resolve_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ICU case-mapping init (CollationAwareUTF8String <clinit>) can burn
        # ~90s of CPU in sandboxed environments when an interpreted-mode
        # string expression first runs; JVM case mappings are identical for
        # ASCII and match DuckDB's simple casing.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.defaultJavaOptions", _JIT_POLICY)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
