#!/usr/bin/env python3
"""Time the ``run_etl`` CLI under C1-only and under tiered compilation.

    python3 tools/time_run_etl.py --communes 200 --pairs 3 --work /tmp/etl_jit \\
        --out runs.jsonl

Writes one staging set once: the demo fixtures (``warehouse/demo.py``)
with ``stg_population`` replaced by perfbench's seeded generator at
``--communes`` communes per département (perfbench's ``warehouse_etl``
uses 2, i.e. 7,200 rows; 200 gives 720,000). Then, for each pair, runs
the ``run_etl`` CLI's ``main(["--staging-dir", ...])`` once under C1
only (``c1``) and once under ``session.TIERED_JIT`` (``tiered``), each
in a fresh process that starts its session first, so that its JIT
choice is the one the JVM launches with and ``run_etl`` reuses that
session. Which side goes first alternates from pair to pair. Each run
prints and appends one JSON line: wall seconds of the whole process,
CPU seconds of the driver JVM (its threads and reaped children) plus
the Python driver, and the JVM's peak RSS.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_staging(staging: str, communes: int, seed: int) -> int:
    """Demo fixtures plus a scaled ``stg_population``; returns its rows."""
    from evolution_data_warehouse_spark.warehouse.demo import write_fixtures
    from perfbench import gen_staging

    write_fixtures(staging)
    gen = os.path.join(staging, "_gen")
    paths = gen_staging.write_staging(gen, seed, communes)
    shutil.move(paths["stg_population"], os.path.join(staging, "stg_population.csv"))
    shutil.rmtree(gen)
    with open(os.path.join(staging, "stg_population.csv")) as f:
        return sum(1 for _ in f) - 1


def _child(side: str, staging: str, out: str) -> int:
    """One CLI run in this process; the session is created first so the
    JIT choice reaches the JVM, and ``run_etl`` reuses it."""
    import resource

    from evolution_data_warehouse_spark import run_etl
    from evolution_data_warehouse_spark.session import TIERED_JIT, get_spark

    spark = get_spark(app_name="run_etl", extra_conf=TIERED_JIT if side == "tiered" else None)
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    jvm_args = list(runtime.getInputArguments())
    if ("-XX:TieredStopAtLevel=1" in jvm_args) != (side == "c1"):
        raise RuntimeError(f"{side}: the JVM started with {jvm_args}")
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rc = run_etl.main(["--staging-dir", staging, "--out", out])
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    tick = os.sysconf("SC_CLK_TCK")
    jvm_cpu = sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    me = resource.getrusage(resource.RUSAGE_SELF)
    print(json.dumps({"rc": rc, "cpu_s": round(jvm_cpu + me.ru_utime + me.ru_stime, 1),
                      "jvm_peak_rss_mb": hwm_kb // 1024}))
    return 0


def run_once(side: str, staging: str, out: str) -> dict:
    shutil.rmtree(out, ignore_errors=True)
    cmd = [sys.executable, __file__, "--child", side, "--staging", staging, "--work", out]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{side}: exited {p.returncode}\n{p.stderr[-2000:]}")
    rec = json.loads(p.stdout.strip().splitlines()[-1])
    if rec["rc"] != 0:
        raise RuntimeError(f"{side}: run_etl returned {rec['rc']}")
    return {"side": side, "wall_s": round(wall, 1), **rec}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--communes", type=int, default=200)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--work", required=True, help="scratch directory for staging and output")
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--child", choices=("c1", "tiered"), help=argparse.SUPPRESS)
    ap.add_argument("--staging", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    sys.path.insert(0, REPO)
    if args.child:
        return _child(args.child, args.staging, args.work)

    staging = os.path.join(args.work, "staging")
    rows = write_staging(staging, args.communes, args.seed)
    runs = []
    for i in range(args.pairs):
        for side in ("c1", "tiered") if i % 2 == 0 else ("tiered", "c1"):
            rec = {"communes": args.communes, "rows": rows, "pair": i,
                   **run_once(side, staging, os.path.join(args.work, "out"))}
            runs.append(rec)
            print(json.dumps(rec), flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    for metric in ("wall_s", "cpu_s", "jvm_peak_rss_mb"):
        med = {s: statistics.median(r[metric] for r in runs if r["side"] == s)
               for s in ("tiered", "c1")}
        print(f"{metric}: tiered {med['tiered']:g} -> c1 {med['c1']:g}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
