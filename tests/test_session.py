"""The session factory's JIT policy: C1 only unless a caller opts out.

The first tests record what ``get_spark`` asks the builder for, with no
Spark, and read the opt-out callers' source; the last one reads the
arguments the shared session's JVM was started with.
"""

from __future__ import annotations

import ast
from pathlib import Path
from types import SimpleNamespace

from pyspark.sql import SparkSession

from evolution_data_warehouse_spark.session import TIERED_JIT, get_spark

ROOT = Path(__file__).resolve().parents[1]
C1_ONLY = "-XX:TieredStopAtLevel=1"
TIERED = "-XX:TieredStopAtLevel=4"

# entry points measured slower under C1-only (plans/jit_policy.md), with
# the number of get_spark calls each makes
OPTED_OUT = {
    "bench.py": 3,
    "tools/gen_sf1.py": 1,
    "tests/conftest.py": 1,
    "evolution_data_warehouse_spark/run_etl.py": 1,
}


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: keeps every setting."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def appName(self, name):
        self.conf["spark.app.name"] = name
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def _recorded_conf(monkeypatch, **kwargs) -> dict[str, str]:
    recorder = _RecordingBuilder()
    monkeypatch.setattr(SparkSession, "builder", recorder)
    get_spark(**kwargs)
    return recorder.conf


def test_jit_policy_goes_in_default_java_options(monkeypatch):
    conf = _recorded_conf(
        monkeypatch, extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"}
    )
    assert C1_ONLY in conf["spark.driver.defaultJavaOptions"].split()
    # the caller's own JVM flags are a separate setting and survive
    assert conf["spark.driver.extraJavaOptions"] == "-XX:-UsePerfData"


def test_tiered_opt_out_replaces_the_policy(monkeypatch):
    conf = _recorded_conf(monkeypatch, extra_conf=TIERED_JIT)
    assert conf["spark.driver.defaultJavaOptions"].split() == [TIERED]


def test_opted_out_entry_points_pass_tiered_jit():
    for rel, n_calls in OPTED_OUT.items():
        calls = [
            node
            for node in ast.walk(ast.parse((ROOT / rel).read_text()))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "get_spark"
        ]
        assert len(calls) == n_calls, rel
        for call in calls:
            extra = [kw.value for kw in call.keywords if kw.arg == "extra_conf"]
            assert [getattr(v, "id", None) for v in extra] == ["TIERED_JIT"], (
                f"{rel}:{call.lineno} does not pass extra_conf=TIERED_JIT"
            )


def test_session_jvm_runs_the_suites_jit_choice(spark):
    # the suite's fixture opts out, so its JVM shows that the
    # defaultJavaOptions setting reaches the command line
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = list(runtime.getInputArguments())
    assert TIERED in args
    assert C1_ONLY not in args
