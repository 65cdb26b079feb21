"""Broadcast-hint lock: every hint left in the package has audit evidence.

Join strategy is Catalyst's call. plans/broadcast_audit.md records, per
hint, whether removing it changes the physical plan; hints that changed
nothing were deleted. This test parses the package (no Spark) and fails
when an ``F.broadcast(...)`` or ``gated_broadcast(...)`` call has no
audit row whose action is ``kept`` or ``gated`` with at least one
``changes`` verdict. Calls are keyed on (file, enclosing function,
first-argument source), not line numbers, so edits elsewhere in a file
do not disturb the lock.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "evolution_data_warehouse_spark"
AUDIT = REPO / "plans" / "broadcast_audit.md"

_CELL_SPLIT = re.compile(r"(?<!\\)\|")


def _norm(src: str) -> str:
    return " ".join(src.split())


def _is_hint(call: ast.Call) -> bool:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr == "broadcast" and isinstance(f.value, ast.Name) and (
            f.value.id == "F"
        )
    return isinstance(f, ast.Name) and f.id == "gated_broadcast"


def hint_calls() -> Counter:
    """(file, enclosing function, argument source) of every hint call."""
    found: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = str(path.relative_to(PKG))

        def visit(node: ast.AST, func: str) -> None:
            for child in ast.iter_child_nodes(node):
                name = func
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = child.name
                if isinstance(child, ast.Call) and _is_hint(child):
                    arg = ast.get_source_segment(src, child.args[0])
                    found[(rel, name, _norm(arg))] += 1
                visit(child, name)

        visit(ast.parse(src), "<module>")
    return found


def audit_rows() -> list[dict]:
    rows = []
    for line in AUDIT.read_text().splitlines():
        if not line.startswith("| `"):
            continue
        cells = [c.strip() for c in _CELL_SPLIT.split(line)[1:-1]]
        site, func, arg, _callers, *verdicts, action = cells
        rows.append(
            {
                "file": site.strip("`").rsplit(":", 1)[0],
                "func": func.strip("`"),
                "arg": _norm(arg.strip("`").replace("\\|", "|")),
                "verdicts": verdicts,
                "action": action.split()[0].lower(),
            }
        )
    return rows


def test_audit_covers_every_parent_site():
    rows = audit_rows()
    assert len(rows) >= 183
    assert all(len(r["verdicts"]) == 6 for r in rows)
    # a deleted hint must have been plan-neutral wherever it was reached
    for r in rows:
        if r["action"] == "deleted":
            assert "changes" not in r["verdicts"], r


def test_every_remaining_hint_has_plan_changing_evidence():
    evidence: Counter = Counter(
        (r["file"], r["func"], r["arg"])
        for r in audit_rows()
        if r["action"] in ("kept", "gated") and "changes" in r["verdicts"]
    )
    calls = hint_calls()
    assert calls, "hint scan found no calls: parser out of date?"
    missing = {k: n for k, n in calls.items() if n > evidence[k]}
    assert not missing, (
        "broadcast hints without a 'changes plan' row in "
        f"plans/broadcast_audit.md: {missing}"
    )
