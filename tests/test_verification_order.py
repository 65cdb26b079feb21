"""The driver's verification window is computed from the committed
evidence (no Spark): ``__spark_entry__.queries()`` lists never-verified
queries first, then the rest by the round of their latest
CORRECTNESS_r{N}.json verdict, oldest first, ties by name."""

from __future__ import annotations

import json
from pathlib import Path

from evolution_data_warehouse_spark.evidence import (
    latest_verdicts,
    verdict_ok,
    verification_order,
)

REPO = Path(__file__).resolve().parent.parent

_OK = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _write(d: Path, rnd: int, names: dict[str, dict]) -> None:
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(names))


def test_order_on_synthetic_evidence(tmp_path):
    _write(tmp_path, 2, {"a": _OK, "b": _OK, "c": _OK, "d": _OK})
    _write(tmp_path, 9, {"b": _OK, "c": {**_OK, "hash_match": False}})
    _write(tmp_path, 10, {"c": _OK, "e": _OK})
    (tmp_path / "CORRECTNESS_notes.json").write_text("{}")  # not a round file
    latest = latest_verdicts(str(tmp_path))
    # rounds compare as integers: r10 is newer than r9 and r02
    assert latest == {
        "a": (2, True),
        "b": (9, True),
        "c": (10, True),
        "d": (2, True),
        "e": (10, True),
    }
    names = ["e", "c", "zz_new", "b", "a", "d", "aa_new"]
    assert verification_order(names, str(tmp_path)) == [
        "aa_new", "zz_new", "a", "d", "b", "c", "e",
    ]


def test_verdict_ok():
    assert verdict_ok(_OK)
    assert not verdict_ok({**_OK, "hash_match": False})
    assert not verdict_ok({**_OK, "err": "boom"})


def test_entry_order_follows_committed_evidence():
    import __spark_entry__ as entry
    from evolution_data_warehouse_spark.queries import REGISTRY

    order = list(entry.queries())
    assert sorted(order) == sorted(REGISTRY)
    latest = latest_verdicts(str(REPO))
    keys = [(n in latest, latest.get(n, (0, True))[0], n) for n in order]
    assert keys == sorted(keys)
