"""Run one workload several times, one seed each, and summarise every
metric: median, quartiles and spread (inter-quartile range ÷ median).

    python3 -m perfbench.steady --workload corpus_curation --seeds 1-10 --trace 0 [--out FILE]

The benchmark counts as steady when every end-to-end spread is below a
third of its bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarise(runs: list[dict]) -> dict[str, dict]:
    out = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
        out[name] = {
            "unit": runs[0]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": values,
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs, walls = [], []
    for seed in _seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t)
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        if proc.returncode != 0 or not res["correct"]:
            print(f"seed {seed}: rc={proc.returncode} {proc.stdout[-2000:]}", file=sys.stderr)
            return 1
        runs.append(res)
        print(f"seed {seed}: {walls[-1]:.1f}s wall, attempted {res['attempted']}", file=sys.stderr)

    summary = {
        "workload": args.workload,
        "trace": args.trace,
        "seconds": seconds,
        "run_wall_s": {"median": statistics.median(walls), "total": sum(walls)},
        "metrics": summarise(runs),
    }
    for name, m in summary["metrics"].items():
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if m["spread"] < bound / 3 else f"  WIDE (bound {bound})")
        print(f"{name:28s} median {m['median']:12.4f} {m['unit']:6s} spread {m['spread']:.3f}{flag}", file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "metrics"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
