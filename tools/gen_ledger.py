"""Regenerate the COVERAGE.md evidence ledger from CORRECTNESS_r*.json.

Latest driver verdict per registry query, in the driver's verification
order (evolution_data_warehouse_spark/evidence.py, the order
``__spark_entry__.queries()`` returns). Rewrites
everything in COVERAGE.md from the ledger table header to EOF, plus the
pass/err/never-verified summary line.

Usage: python tools/gen_ledger.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from evolution_data_warehouse_spark.evidence import (
        latest_verdicts,
        verification_order,
    )
    from evolution_data_warehouse_spark.queries import REGISTRY

    latest = latest_verdicts(REPO)

    rows = []
    n_pass = n_err = n_never = 0
    for name in verification_order(REGISTRY, REPO):
        q = REGISTRY[name]
        check = "oracle" if q.oracle is not None else "rows-only"
        if name in latest:
            rnd, ok = latest[name]
            verdict, rtag = ("pass" if ok else "FAIL"), f"r{rnd}"
            n_pass += ok
            n_err += not ok
        else:
            verdict, rtag = "never in window", "—"
            n_never += 1
        rows.append(f"| {name} | {check} | {verdict} | {rtag} |")

    summary = (
        f"**{n_pass} pass / {n_err} err / {n_never} never-verified "
        f"of {len(REGISTRY)} registry queries.**"
    )
    table = (
        "| query | check | latest verdict | round |\n|---|---|---|---|\n"
        + "\n".join(rows)
        + "\n"
    )

    cov_path = f"{REPO}/COVERAGE.md"
    with open(cov_path) as f:
        text = f.read()
    text = re.sub(r"\*\*\d+ pass / \d+ err / \d+ never-verified[^*]*\*\*", summary, text)
    head = text[: text.index("| query | check | latest verdict | round |")]
    with open(cov_path, "w") as f:
        f.write(head + table)
    print(summary)


if __name__ == "__main__":
    main()
