"""Run one workload: set up, time cold passes, check, report.

One process, one client: each op starts when the previous one ended.
Every timed pass runs in a fresh JVM, as a batch job does: the first
right after set-up, each further one (while ``--seconds`` has not yet
elapsed) after the session is stopped and started again. The untraced
run (``--trace 0``) prints the end-to-end metrics; the traced run
(``--trace 1``) joins the Spark event log to its spans, prints the
per-layer metrics and writes the spans and the layer table to
``.perfbench_work/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time

from perfbench import metrics as M
from perfbench import procstat, tracing
from perfbench.workloads import WORKLOADS


def process_start() -> float:
    """This process's start on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class Ctx:
    """Times, tags and checks every op of a run."""

    def __init__(self, spark, work_dir: str, tracer: tracing.Tracer):
        self.bind(spark)
        self.work_dir = work_dir
        self.tracer = tracer
        self.pass_idx = 0
        self.traced = tracer.enabled  # record spans and plan phases
        self.samples: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.etl_reports: list[dict] = []
        self.files_written: list[tuple[int, int]] = []  # (pass, parquet files)
        self.deferred: list[tuple] = []
        self.tag_s = 0.0  # time spent labelling jobs in a traced run

    def bind(self, spark) -> None:
        """Run the next ops on ``spark``."""
        self.spark = spark
        self.sc = spark.sparkContext

    def tag(self, op, phase, description=None) -> None:
        t = time.perf_counter()
        tracing.tag(self.sc, op, phase, description)
        if self.traced:
            self.tag_s += time.perf_counter() - t

    def _op_id(self) -> str:
        return f"p{self.pass_idx}.{self.attempted}"

    def _sample(self, name: str, layer: str, build_s: float, exec_s: float, ok: bool, **extra) -> None:
        self.samples.append(
            {
                "pass": self.pass_idx,
                "name": name,
                "layer": layer,
                "build_s": build_s,
                "exec_s": exec_s,
                "total_s": build_s + exec_s,
                "ok": ok,
                **extra,
            }
        )

    def _fail(self, name: str, why: str) -> None:
        self.failures.append(f"pass {self.pass_idx} {name}: {why}")

    def run_query(self, name: str, build, check) -> None:
        """Build a registry DataFrame and collect it, both timed; the
        rows are compared with the oracle by ``check(columns, rows)``
        after the timed passes."""
        self.attempted += 1
        op = self._op_id()
        phases, result = {}, None
        with self.tracer.span(name, op=op, layer="queries") as sp:
            t0 = time.perf_counter()
            try:
                self.tag(op, "build", f"perfbench {op} {name}")
                with self.tracer.span("queries.build", op=op):
                    df = build()
                t1 = time.perf_counter()
                if self.traced:
                    with self.tracer.span("plan.phases", op=op):
                        phases = tracing.plan_phases_ms(df)
                self.tag(op, "exec", f"perfbench {op} {name}")
                t2 = time.perf_counter()
                with self.tracer.span("exec.run", op=op):
                    result = (df.columns, df.collect())
                t3 = time.perf_counter()
                why = None
            except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
                t1 = t2 = t3 = time.perf_counter()
                why = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
            finally:
                self.tag(None, None, None)
            sp["ok"] = why is None
        if why is not None:
            self._fail(name, why)
        else:
            self.defer_check(name, lambda: check(*result))
        self._sample(name, "queries", t1 - t0, t3 - t2, why is None, phases=phases)

    def run_call(self, name: str, layer: str, fn, check=None):
        """Time one public call; returns its result (None if it raised)."""
        self.attempted += 1
        op = self._op_id()
        result, why = None, None
        with self.tracer.span(name, op=op, layer=layer) as sp:
            self.span_id = sp["id"]
            self.tag(op, "exec", f"perfbench {op} {name}")
            t0 = time.perf_counter()
            try:
                result = fn()
                t1 = time.perf_counter()
                why = check(result) if check is not None else None
            except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
                t1 = time.perf_counter()
                why = f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"
                result = None
            finally:
                self.tag(None, None, None)
            sp["ok"] = why is None
        if why is not None:
            self._fail(name, why)
        self._sample(name, layer, 0.0, t1 - t0, why is None)
        self.last_call = (op, t0, t1)
        return result

    def record_etl(self, report) -> None:
        """Turn the step report of the run_full_etl call that just ran
        into child spans; the time it spent outside every step is its
        validation."""
        op, t0, t1 = self.last_call
        start, steps = t0, {}
        for r in report.results:
            steps[r.name] = r.duration
            self.tracer.add(f"warehouse.{r.name}", start, start + r.duration, self.span_id, op)
            start += r.duration
        validate = max(0.0, (t1 - t0) - sum(steps.values()))
        self.tracer.add("warehouse.validate", start, t1, self.span_id, op)
        staged = next((r.rows or 0 for r in report.results if r.name == "staging"), 0)
        self.etl_reports.append(
            {"pass": self.pass_idx, "steps": steps, "validate_s": validate, "staged_rows": staged}
        )

    def defer_check(self, name: str, check) -> None:
        """Queue a check of this pass's output for after the timed loop;
        ``check()`` returns None when the output is right."""
        self.deferred.append((self.pass_idx, name, check))

    def run_deferred_checks(self) -> None:
        for pass_idx, name, check in self.deferred:
            self.attempted += 1
            try:
                why = check()
            except Exception as exc:  # noqa: BLE001 - a raising check is a failed check
                why = f"{type(exc).__name__}: {exc}"
            if why is not None:
                self.failures.append(f"pass {pass_idx} {name}: {why}")

    def count_files(self, out_dir: str) -> None:
        n = sum(
            1
            for _, _, files in os.walk(out_dir)
            for f in files
            if f.endswith(".parquet")
        )
        self.files_written.append((self.pass_idx, n))


def _session(work_dir: str, traced: bool, n: int):
    """The ``n``-th session of the run, in a fresh JVM; a traced one
    writes its event log to ``eventlog/<n>``."""
    from evolution_data_warehouse_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        # keep the JVM's files inside the work directory (no /tmp/hsperfdata)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        log_dir = os.path.join(work_dir, "eventlog", str(n))
        os.makedirs(log_dir, exist_ok=True)
        conf.update(tracing.event_log_conf(log_dir))
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload_name: str, seed: int, seconds: float, traced: bool, root: str, toy: bool = False) -> dict:
    t_proc = process_start()
    from perfbench import workloads

    wl = workloads.make(workload_name, toy=toy)
    work_dir = os.path.join(root, ".perfbench_work", f"{workload_name}-s{seed}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub))
    # Python workers are forked from the JVM's daemon: they see the
    # package only through the environment the JVM inherits.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")

    layer: dict[str, float] = {}
    tracer = tracing.Tracer(traced)
    t = time.perf_counter()
    spark = _session(work_dir, traced, 1)
    layer["session.start_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        wl.generate(os.path.join(work_dir, "inputs"), seed)
        layer["inputs.generate_s"] = time.perf_counter() - t

        ctx = Ctx(spark, work_dir, tracer)
        passes: list[dict] = []
        rng = random.Random(seed)
        peak_rss = 0
        while True:
            ctx.pass_idx += 1
            if ctx.pass_idx > 1:
                # the next pass is cold again: a fresh JVM, as the next
                # run of a batch job gets
                _stop(spark)
                spark = _session(work_dir, traced, ctx.pass_idx)
                ctx.bind(spark)
            wl.setup(ctx)
            if ctx.pass_idx == 1:
                setup_s = time.perf_counter() - t_proc
            with procstat.TreeSampler(procstat.gateway_pid(spark)) as sampler:
                sampler.peak_rss = 0
                cpu0, t0 = sampler.cpu(), time.perf_counter()
                with tracer.span("pass"):
                    wl.run_pass(ctx, rng)
                t1, cpu1 = time.perf_counter(), sampler.cpu()
                peak_rss = max(peak_rss, sampler.peak_rss)
            passes.append(
                {
                    "pass": ctx.pass_idx,
                    "wall_s": t1 - t0,
                    **{f"{k}_cpu_s": cpu1[k] - cpu0[k] for k in cpu0},
                }
            )
            if sum(p["wall_s"] for p in passes) >= seconds:
                break
        ctx.run_deferred_checks()
    finally:
        _stop(spark)

    ops = [(s["name"], s["total_s"]) for s in ctx.samples]
    out = {
        "workload": workload_name,
        "seed": seed,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "failures": ctx.failures,
        "passes": passes,
        "op_samples": len(ctx.samples),
        "ops": ops,
        "work_dir": work_dir,
    }
    if not traced:
        out["metrics"] = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "cpu_s": statistics.median(p["total_cpu_s"] for p in passes),
            "peak_rss_mb": peak_rss / (1024.0 * 1024.0),
        }
        return out

    layer.update(_layers(wl, ctx, passes, os.path.join(work_dir, "eventlog")))
    if workload_name in M.PYTHON_FREE:
        for name in M.PYTHON_METRICS:
            if layer[name] > 1e-3:
                out["failed"] += 1
                out["failures"].append(f"{name} = {layer[name]} on a workload that must run no pandas/Arrow UDF")
    out["metrics"] = layer
    trace_path = os.path.join(root, ".perfbench_work", f"trace-{workload_name}-{seed}.json")
    with open(trace_path, "w") as f:
        json.dump(
            {
                "workload": workload_name,
                "seed": seed,
                "per_layer": M.render(layer, M.PER_LAYER),
                "self_time_s": tracing.self_times(tracer.spans),
                "passes": passes,
                "samples": ctx.samples,
                "spans": tracer.spans,
            },
            f,
            indent=1,
        )
    out["trace_file"] = trace_path
    return out


def _layers(wl, ctx: Ctx, passes: list[dict], log_dir: str) -> dict[str, float]:
    """Per-layer metrics, each the mean over the timed passes."""
    n = float(len(passes))
    mine = ctx.samples
    out: dict[str, float] = {}

    def per_pass(values) -> float:
        return sum(values) / n

    queries = [s for s in mine if s["layer"] == "queries"]
    out["queries.build_s"] = per_pass(s["build_s"] for s in queries)
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_ms"] = per_pass(s["phases"].get(phase, 0.0) for s in queries)
    out["exec.run_s"] = per_pass(s["exec_s"] for s in mine)
    out["plans.create_datamarts_s"] = per_pass(s["exec_s"] for s in mine if s["layer"] == "plans")
    out["api.get_table_s"] = per_pass(s["exec_s"] for s in mine if s["layer"] == "api")

    ev: dict[tuple[str, str], dict[str, float]] = {}
    for p in passes:  # one session, so one event log, per pass
        ev.update(tracing.read_event_log(os.path.join(log_dir, str(p["pass"]))))
    tot: dict[str, float] = {}
    build_jobs = 0.0
    for (op, phase), m in ev.items():
        for k, v in m.items():
            tot[k] = tot.get(k, 0.0) + v
        if phase == "build":
            build_jobs += m.get("jobs", 0.0)
    out["queries.build_jobs"] = build_jobs / n
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        out[f"exec.{k}"] = tot.get(k, 0.0) / n
    out["python.worker_s"] = tot.get("python_worker_s", 0.0) / n
    out["python.arrow_sent_mb"] = tot.get("arrow_sent_mb", 0.0) / n
    out["python.arrow_returned_mb"] = tot.get("arrow_returned_mb", 0.0) / n

    reports = ctx.etl_reports
    if reports:
        for step, metric in (("staging", "sources.staging_s"), ("security", "warehouse.security_s"),
                             ("dimensions", "warehouse.dimensions_s"), ("facts", "warehouse.facts_s"),
                             ("refresh", "warehouse.refresh_s")):
            out[metric] = per_pass(r["steps"].get(step, 0.0) for r in reports)
        out["warehouse.validate_s"] = per_pass(r["validate_s"] for r in reports)
        out["sources.staged_rows"] = per_pass(r["staged_rows"] for r in reports)
        out["warehouse.scd2_upsert_s"] = per_pass(s["exec_s"] for s in mine if s["name"] == "scd2_upsert")
        out["warehouse.fact_reload_s"] = per_pass(s["exec_s"] for s in mine if s["name"] == "fact_reload")
        out["warehouse.bytes_written_mb"] = tot.get("output_mb", 0.0) / n
        out["warehouse.files_written"] = per_pass(c for _, c in ctx.files_written)
        out["warehouse.write_amp"] = out["warehouse.bytes_written_mb"] * 1024 * 1024 / wl.csv_bytes

    for role in ("driver", "jvm", "workers"):
        out[f"proc.{role}_cpu_s"] = per_pass(p[f"{role}_cpu_s"] for p in passes)

    # the passes are cold, so no untraced pass of the same run is their
    # twin: the overhead is the time spent in the tracing calls themselves
    spent = sum(s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "plan.phases")
    spent += ctx.tag_s
    wall = sum(p["wall_s"] for p in passes)
    out["trace.overhead_frac"] = spent / (wall - spent)
    return out


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description="Run one perfbench workload and print its metrics.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs and mixes, for smoke tests")
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), root, toy=args.toy)
    shutil.rmtree(res["work_dir"], ignore_errors=True)
    units = M.PER_LAYER if args.trace else M.END_TO_END
    summary = {k: v for k, v in res.items() if k != "metrics"}
    print(json.dumps(summary), flush=True)
    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": M.render(res["metrics"], units),
            }
        ),
        flush=True,
    )
    return 0
