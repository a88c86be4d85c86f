"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last test starts Spark twice (about four minutes); the others take
seconds.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_manifest_matches_metric_registry():
    b = _manifest()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert [w["name"] for w in b["workloads"]] == ["migration", "serve"]
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]}
    assert e2e == metrics.END_TO_END
    per = {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}
    want = {
        k: (u, "higher" if k in metrics.HIGHER else "lower")
        for k, u in metrics.per_layer().items()
    }
    assert per == want


def test_manifest_within_contract_limits():
    b = _manifest()
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [x["name"] for x in b["workloads"] + b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_generator_is_a_function_of_the_seed(tmp_path):
    a = gen.serve_inputs(5, str(tmp_path / "a"))
    b = gen.serve_inputs(5, str(tmp_path / "b"))
    c = gen.serve_inputs(6, str(tmp_path / "c"))
    for name in ("documents", "embeddings", "orders"):
        assert _digest(a[name]) == _digest(b[name])
        assert _digest(a[name]) != _digest(c[name])
    m1 = gen.migration_inputs(5, str(tmp_path / "m1"), n=2_000)
    m2 = gen.migration_inputs(5, str(tmp_path / "m2"), n=2_000)
    m3 = gen.migration_inputs(6, str(tmp_path / "m3"), n=2_000)
    for name in ("shares", "meta"):
        assert _digest(m1[name]) == _digest(m2[name])
        assert _digest(m1[name]) != _digest(m3[name])
    assert m1["fractions"] == m2["fractions"] != m3["fractions"]


def test_generator_imports_nothing_from_the_engine():
    with open(os.path.join(BENCH, "gen.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    mods = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import) for a in n.names}
    mods |= {n.module for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)}
    assert mods <= {"__future__", "os", "numpy", "pyarrow", "pyarrow.parquet"}


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _traced_run(seed: int) -> tuple[dict, list[tuple]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "migration", "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    record = next(json.loads(line) for line in p.stdout.splitlines()
                  if line.startswith('{"workload"'))
    spans = os.path.join(ROOT, ".perfbench_out", f"migration-seed{seed}-spans.jsonl")
    with open(spans, encoding="utf-8") as fh:
        counts = [
            (s["op"], s["name"], s.get("jobs"), s.get("stages"), s.get("tasks"))
            for s in map(json.loads, fh)
        ]
    return record, counts


@pytest.mark.skipif(not os.path.isdir(os.path.join(ROOT, "cernbox_migration_database_spark")),
                    reason="needs the engine package")
def test_same_seed_same_outputs_and_counts():
    r1, c1 = _traced_run(3)
    r2, c2 = _traced_run(3)
    assert r1["output_hash"] == r2["output_hash"] is not None
    assert c1 == c2
