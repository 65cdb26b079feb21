"""Count duplicated code lines in the query package.

Slides a window of WINDOW consecutive code lines (non-blank, not ``#``
comments, whitespace-stripped) over every ``*.py`` file in
``evolution_data_warehouse_spark/queries`` and marks the lines of each
window whose text occurs more than once anywhere in that directory.
Prints the code-line total, the duplicated line count, and the TOP most
repeated windows.

Usage: python tools/dup_scan.py
"""

from __future__ import annotations

import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.path.join(REPO, "evolution_data_warehouse_spark", "queries")
WINDOW = 6
TOP = 10


def code_lines(path: str) -> list[tuple[int, str]]:
    out = []
    with open(path) as f:
        for i, line in enumerate(f, 1):
            s = line.strip()
            if s and not s.startswith("#"):
                out.append((i, s))
    return out


def scan(directory: str, window: int) -> tuple[int, int, list]:
    files = {
        name: code_lines(os.path.join(directory, name))
        for name in sorted(os.listdir(directory))
        if name.endswith(".py")
    }
    seen: dict[tuple[str, ...], list[tuple[str, int]]] = defaultdict(list)
    for name, lines in files.items():
        for k in range(len(lines) - window + 1):
            key = tuple(s for _, s in lines[k : k + window])
            seen[key].append((name, k))
    dup: set[tuple[str, int]] = set()
    repeated = []
    for key, where in seen.items():
        if len(where) > 1:
            repeated.append((len(where), key, where))
            for name, k in where:
                dup.update((name, k + j) for j in range(window))
    total = sum(len(v) for v in files.values())
    repeated.sort(key=lambda r: -r[0])
    return total, len(dup), repeated


def main() -> None:
    total, n_dup, repeated = scan(QUERIES, WINDOW)
    print(f"{total} code lines, {n_dup} in a repeated {WINDOW}-line window")
    for n, key, where in repeated[:TOP]:
        print(f"  x{n} {where[0][0]}: {key[0][:70]}")


if __name__ == "__main__":
    main()
