"""Query-layout lock (no Spark): queries live in family modules.

Every registry query sits in the module of its family, chosen by the
query name's prefix. Modules named after the build round that added them
(``extensions*``, ``*_r<N>``, ``llm_ops``) are not allowed back, and no
query module reaches into another one's private (``_``-prefixed) names:
a helper two families need is public in the family that owns it or lives
in queries/common.py.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from evolution_data_warehouse_spark.queries import FAMILIES

REPO = Path(__file__).resolve().parent.parent
QUERIES = REPO / "evolution_data_warehouse_spark" / "queries"
PKG = "evolution_data_warehouse_spark.queries"

# name prefix → family module
FAMILY = {p: module for module, prefixes in FAMILIES.items() for p in prefixes}
SHARED = ("__init__", "common", "opq_model", "pq_codebooks")

_ROUND_NAMED = re.compile(r"^(extensions.*|.*_r\d+[a-z]?|llm_ops)$")


def _modules() -> dict[str, ast.Module]:
    return {p.stem: ast.parse(p.read_text()) for p in sorted(QUERIES.glob("*.py"))}


def test_no_round_named_modules():
    bad = [name for name in _modules() if _ROUND_NAMED.match(name)]
    assert not bad, f"round-named query modules: {bad}"


def test_no_private_imports_between_query_modules():
    bad = []
    for name, tree in _modules().items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            mod = node.module or ""
            if not mod.startswith(PKG + ".") or mod == f"{PKG}.{name}":
                continue
            bad += [
                f"{name}.py:{node.lineno} {mod}.{a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
    assert not bad, f"private names imported across query modules: {bad}"


def test_family_modules_exist():
    assert sorted(FAMILIES) == sorted(n for n in _modules() if n not in SHARED)


def test_every_query_lives_in_its_family_module():
    misplaced = []
    for name, tree in _modules().items():
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef):
                continue
            for deco in node.decorator_list:
                if not isinstance(deco, ast.Call):
                    continue
                if getattr(deco.func, "id", None) == "register":
                    query = deco.args[0].value
                    family = FAMILY.get(query.split("_")[0])
                    if family != name:
                        misplaced.append(f"{query}: in {name}.py, family {family}")
    assert not misplaced, misplaced
