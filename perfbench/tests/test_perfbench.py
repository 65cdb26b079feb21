"""The benchmark's own tests: input generators, metric names, and a
toy-size run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen_staging, gen_star, metrics  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _csv_rows(path: str) -> int:
    with open(path, encoding="utf-8") as f:
        return sum(1 for _ in f)


def test_staging_same_seed_same_bytes(tmp_path):
    a = gen_staging.write_staging(str(tmp_path / "a"), seed=7, communes=2)
    b = gen_staging.write_staging(str(tmp_path / "b"), seed=7, communes=2)
    assert a.keys() == b.keys()
    for name in a:
        assert filecmp.cmp(a[name], b[name], shallow=False), name


def test_staging_other_seed_other_values_same_rows(tmp_path):
    a = gen_staging.write_staging(str(tmp_path / "a"), seed=7, communes=2)
    b = gen_staging.write_staging(str(tmp_path / "b"), seed=8, communes=2)
    for name in a:
        assert _csv_rows(a[name]) == _csv_rows(b[name]), name
        assert not filecmp.cmp(a[name], b[name], shallow=False), name


def test_staging_departements_are_seeded_ones(tmp_path):
    from evolution_data_warehouse_spark.warehouse.dimensions import DEPARTEMENTS

    known = {code for code, _ in DEPARTEMENTS}
    paths = gen_staging.write_staging(str(tmp_path), seed=3, communes=2)
    with open(paths["stg_population"], encoding="utf-8") as f:
        header = f.readline().rstrip("\n").split(",")
        col = header.index("DEPARTEMENT_CODE")
        assert {line.rstrip("\n").split(",")[col] for line in f} <= known


def test_changed_snapshot_touches_about_five_percent():
    base = gen_staging.make_communes(5, 20)
    changed = gen_staging.change_communes(5, base)
    n = sum(a != b for a, b in zip(base, changed))
    assert n == round(0.05 * len(base))
    assert [c[0] for c in base] == [c[0] for c in changed]


def test_star_same_seed_same_tables_other_seed_same_rows():
    a, b, c = (gen_star.build_tables(s, scale=0.2) for s in (1, 1, 2))
    assert a.keys() == b.keys() == c.keys() == set(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
    assert not a["lineitem"].equals(c["lineitem"])


def test_corpus_shape_does_not_follow_the_seed():
    """Other seeds give other words and vectors but the same document
    lengths, near-copy count, languages and label sizes, so a pass does
    the same work whatever the seed."""

    def shape(seed):
        t = gen_star.build_tables(seed, scale=0.5)
        docs, emb = t["documents"].to_pydict(), t["embeddings"].to_pydict()
        return (
            sorted(len(x.split(" ")) for i, x in enumerate(docs["text"]) if i < 10 or i % 10),
            sum("dup" in x.split(" ") for x in docs["text"]),
            sorted(docs["lang"]),
            sorted(emb["label"]),
        )

    assert shape(1) == shape(2)
    a, b = (gen_star.build_tables(s, scale=0.5) for s in (1, 2))
    assert not a["documents"].equals(b["documents"])
    assert not a["embeddings"].equals(b["embeddings"])


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: int = 1):
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace), "--toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_toy_run_of_each_workload(workload, tmp_path):
    """Traced toy run: every per-layer metric, nothing failed. It runs
    from outside the repository, so the pandas UDFs of corpus_curation
    only pass if the Python workers can import the package too."""
    proc = _run(workload, trace=1, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, proc.stdout
    assert {k: v["unit"] for k, v in res["metrics"].items()} == metrics.PER_LAYER
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.start_s"] > 0 and m["exec.jobs"] > 0
    if workload == "corpus_curation":
        assert m["python.worker_s"] > 0 and m["queries.build_s"] > 0
        assert m["plan.optimization_ms"] > 0
    if workload == "warehouse_etl":
        assert m["warehouse.facts_s"] > 0 and m["warehouse.validate_s"] > 0
        assert m["warehouse.files_written"] > 0 and m["api.get_table_s"] > 0
        assert m["queries.build_jobs"] == 0 and m["python.worker_s"] == 0


def test_untraced_toy_run_prints_end_to_end_metrics():
    """A toy pass is shorter than --seconds, so the run times a second
    cold pass in a fresh JVM, and checks the results of both."""
    proc = _run("corpus_curation", trace=0, seconds=25)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary, res = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    assert len(summary["passes"]) >= 2
    assert res["correct"] and res["failed"] == 0
    assert res["attempted"] == 2 * summary["op_samples"]  # every op and its check
    assert {k: v["unit"] for k, v in res["metrics"].items()} == metrics.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
