"""Query-layout lock (no Spark): queries live in family modules.

Every registry query sits in the module of its family, chosen by the
query name's prefix. Modules named after the build round that added them
(``extensions*``, ``*_r<N>``, ``llm_ops``) are not allowed back, and no
query module reaches into another one's private (``_``-prefixed) names:
a helper two families need is public in the family that owns it or lives
in queries/common.py.

The package's stateless Python passes share one Arrow boundary: only
operators/arrow_map.py calls ``.mapInArrow(`` or ``.applyInArrow(``,
nothing calls ``.mapInPandas(``, the only ``applyInPandas`` left is
streaming/events.py's stateful ``applyInPandasWithState(``, no module
but streaming/events.py imports pandas, and no pass hand-casts its
output with ``np.int32(`` — the boundary types every column to the
declared schema. Literal tables cross the same boundary:
they are built with ``arrow_map.local_table`` (a ``LocalTableScan``, no
Python worker); the one ``createDataFrame(`` site left besides it
(rows from outside the program) is pinned in an allowlist that may
only shrink.

Versioned tables have one store: only warehouse/manifest.py names the
version pointer file, and no module imports a store's private
``_publish``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from evolution_data_warehouse_spark.queries import FAMILIES

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "evolution_data_warehouse_spark"
QUERIES = PACKAGE / "queries"
BOUNDARY = PACKAGE / "operators" / "arrow_map.py"
STATEFUL = PACKAGE / "streaming" / "events.py"
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


def _package_files_containing(needle: str) -> list[str]:
    return [
        str(p.relative_to(REPO))
        for p in sorted(PACKAGE.rglob("*.py"))
        if needle in p.read_text()
    ]


def _imports_pandas(path: Path) -> bool:
    """Whether ``path`` imports pandas anywhere, at any depth."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""]
        else:
            continue
        if any(name.split(".")[0] == "pandas" for name in names):
            return True
    return False


def test_map_passes_go_through_the_arrow_boundary():
    boundary = [str(BOUNDARY.relative_to(REPO))]
    stateful = [str(STATEFUL.relative_to(REPO))]
    assert _package_files_containing(".mapInArrow(") == boundary
    assert _package_files_containing(".applyInArrow(") == boundary
    assert _package_files_containing(".mapInPandas(") == []
    assert _package_files_containing("applyInPandas(") == []
    assert _package_files_containing("applyInPandasWithState(") == stateful
    assert [
        str(p.relative_to(REPO))
        for p in sorted(PACKAGE.rglob("*.py"))
        if _imports_pandas(p)
    ] == stateful


def test_no_hand_cast_int32_outputs():
    assert _package_files_containing("np.int32(") == []


# (module, enclosing top-level function) of every ``createDataFrame(`` call
# in the package: literal tables use ``arrow_map.local_table`` instead.
# Remove an entry when its site goes; never add one.
CREATE_DATAFRAME_ALLOWED = sorted(
    [
        ("operators/arrow_map.py", "local_table"),
        ("sources/external.py", "rest_to_dataframe"),
    ]
)


def _create_dataframe_sites() -> list[tuple[str, str]]:
    """(module, enclosing top-level function or '<module>') of every
    ``.createDataFrame(`` call in the package."""
    sites = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = str(path.relative_to(PACKAGE))
        for top in ast.parse(path.read_text()).body:
            owner = top.name if isinstance(top, ast.FunctionDef) else "<module>"
            sites += [
                (module, owner)
                for node in ast.walk(top)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    return sorted(sites)


def test_etl_path_builds_literal_tables_as_local_relations():
    sites = _create_dataframe_sites()
    assert sites == CREATE_DATAFRAME_ALLOWED, "use arrow_map.local_table"


def test_one_versioned_snapshot_store():
    pointer = re.compile(r"\b_current\b", re.IGNORECASE)
    assert [
        str(p.relative_to(REPO))
        for p in sorted(PACKAGE.rglob("*.py"))
        if pointer.search(p.read_text())
    ] == ["evolution_data_warehouse_spark/warehouse/manifest.py"]
    importers = [
        str(p.relative_to(REPO))
        for root in (PACKAGE, REPO / "tests", REPO / "tools")
        for p in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.ImportFrom)
        and any(a.name == "_publish" for a in node.names)
    ]
    assert importers == []
    # one way to replace a stored table: no rename-aside swaps
    assert [
        str(p.relative_to(REPO))
        for p in sorted(PACKAGE.rglob("*.py"))
        if ".rename(" in p.read_text()
    ] == ["evolution_data_warehouse_spark/warehouse/manifest.py"]
    assert not (PACKAGE / "operators" / "backup.py").exists()
