"""Driver-verdict evidence: the latest ``CORRECTNESS_r{N}.json`` verdict
per query, and the verification order built from it.

The driver verifies only the first entries of ``queries()`` each round,
so ``__spark_entry__.queries()`` lists the queries whose evidence is
missing or oldest first. tools/gen_ledger.py reads the same verdicts
for the COVERAGE.md ledger. Spark-free.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Iterable

_VERDICT_FILE = re.compile(r"^CORRECTNESS_r(\d+)\.json$")


def verdict_ok(rec: dict) -> bool:
    """True when one driver record shows a clean match."""
    return bool(
        rec.get("err") is None
        and rec.get("rows_match")
        and rec.get("schema_match") is not False
        and rec.get("hash_match") is not False
    )


def latest_verdicts(directory: str) -> dict[str, tuple[int, bool]]:
    """name → (round, ok) of the highest-round verdict in ``directory``.

    Rounds compare as integers, so r9 comes before r10."""
    latest: dict[str, tuple[int, bool]] = {}
    for fname in os.listdir(directory):
        m = _VERDICT_FILE.match(fname)
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(directory, fname)) as f:
            data = json.load(f)
        for name, rec in data.items():
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, verdict_ok(rec))
    return latest


def verification_order(names: Iterable[str], directory: str) -> list[str]:
    """Never-verified names first, then by the round of their latest
    verdict (oldest first), ties broken by name."""
    latest = latest_verdicts(directory)
    return sorted(
        names, key=lambda n: (n in latest, latest.get(n, (0, True))[0], n)
    )
