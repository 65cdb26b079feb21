#!/usr/bin/env python3
"""Alternating paired perfbench runs of two checkouts of the repository.

    python3 tools/paired_perfbench.py --base ../parent --change . \\
        --workload warehouse_etl --seeds 11-15 --trace 0 --out pairs.jsonl
    python3 tools/paired_perfbench.py --out pairs.jsonl --workload warehouse_etl --summary-only

For each seed both checkouts run ``perfbench/run.py`` once, in a fresh
process; which side goes first alternates from seed to seed, so a drift
in the host's load lands on both sides. Every run is appended to
``--out`` as one JSON line. The printed markdown has one row per run and
one per metric: the median of each side, the base's spread
(inter-quartile range ÷ median) and in how many pairs the change read
lower. The benchmark's own files are not touched; each checkout runs
its own ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    return {"correct": result["correct"], "failed": result["failed"],
            "attempted": result["attempted"], "wall_s": round(wall, 1), "metrics": metrics}


def _spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return (q3 - q1) / med if med else 0.0


def summary(records: list[dict]) -> str:
    """Markdown: every run, then per metric the medians and pair wins."""
    by_seed: dict[int, dict[str, dict]] = {}
    for r in records:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for _, p in sorted(by_seed.items()) if {"base", "change"} <= p.keys()]
    if not pairs:
        return "(no complete pairs)"
    names = list(pairs[0]["base"]["metrics"])
    head = "| seed | side | correct | " + " | ".join(f"`{n}`" for n in names) + " |"
    lines = [head, "|" + "---|" * (len(names) + 3)]
    for p in pairs:
        for side in ("base", "change"):
            r = p[side]
            cells = " | ".join(f"{r['metrics'][n]:g}" for n in names)
            lines.append(f"| {r['seed']} | {side} | {r['correct']} | {cells} |")
    lines += ["", "| metric | base median | change median | change/base | base spread | change lower |",
              "|---|---|---|---|---|---|"]
    for n in names:
        base = [p["base"]["metrics"][n] for p in pairs]
        change = [p["change"]["metrics"][n] for p in pairs]
        mb, mc = statistics.median(base), statistics.median(change)
        wins = sum(c < b for b, c in zip(base, change))
        ratio = f"{mc / mb:.3f}" if mb else "n/a"
        lines.append(f"| `{n}` | {mb:g} | {mc:g} | {ratio} | {_spread(base):.2f} | {wins}/{len(pairs)} |")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="JSON-lines file the runs are appended to")
    ap.add_argument("--summary-only", action="store_true")
    args = ap.parse_args(argv)
    if not args.summary_only and not (args.base and args.change):
        ap.error("--base and --change are required unless --summary-only")

    if not args.summary_only:
        sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
        for i, seed in enumerate(_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                rec = {"workload": args.workload, "trace": args.trace, "seed": seed, "side": side}
                rec.update(run_once(sides[side], args.workload, seed, args.seconds, args.trace))
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                print(json.dumps(rec), flush=True)

    with open(args.out) as f:
        records = [json.loads(line) for line in f if line.strip()]
    print(summary([r for r in records
                   if r["workload"] == args.workload and r["trace"] == args.trace]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
