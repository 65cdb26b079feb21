"""Generate QUERIES.md: the full registry catalog (name, oracle status,
one-line doc) grouped by family module, with the name prefixes each
family owns.

Usage: python tools/gen_catalog.py   (re-run after adding queries)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from evolution_data_warehouse_spark.queries import FAMILIES, REGISTRY

    by_module: dict[str, list] = defaultdict(list)
    for name, q in REGISTRY.items():
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        by_module[mod].append((name, q))

    out = [
        "# QUERIES — the oracle-checked registry catalog",
        "",
        f"{len(REGISTRY)} queries; every entry is a Spark callable "
        "paired with a DuckDB oracle (hash-compared by the driver at "
        "sf0.01 and by tools/drive_contract.py). Each query lives in the "
        "family module its name prefix names (queries/__init__.py::"
        "FAMILIES); this catalog follows that grouping. The driver's "
        "verification order is computed from the committed "
        "CORRECTNESS_r*.json evidence (evolution_data_warehouse_spark/"
        "evidence.py). One-line docs are the first sentence of each "
        "query's registered doc.",
        "",
        "| module | prefixes | queries |",
        "|---|---|---|",
    ]
    for mod, prefixes in FAMILIES.items():
        cells = ", ".join(f"`{p}_*`" for p in prefixes)
        out.append(f"| `queries/{mod}.py` | {cells} | {len(by_module[mod])} |")
    out.append("")
    for mod, prefixes in FAMILIES.items():
        entries = by_module[mod]
        out.append(f"## {mod} ({len(entries)})")
        out.append("")
        out.append("| query | oracle | summary |")
        out.append("|---|---|---|")
        for name, q in sorted(entries):
            first = (q.doc or "").split(". ")[0].split(" — ")[0].strip()
            first = first.replace("|", "\\|")
            if len(first) > 110:
                first = first[:107] + "..."
            oracle = "sql" if q.oracle else "rows-only"
            out.append(f"| `{name}` | {oracle} | {first} |")
        out.append("")

    with open(f"{REPO}/QUERIES.md", "w") as f:
        f.write("\n".join(out))
    print(f"QUERIES.md written: {len(REGISTRY)} queries, "
          f"{len(by_module)} modules")


if __name__ == "__main__":
    main()
