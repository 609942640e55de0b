"""End-to-end runs of the benchmark command itself.

The smoke runs boot Spark once per workload at the tiny input size, so
they take a few minutes; run them with ``python -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent


def run_bench(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_fails_without_the_engine_next_to_it(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = run_bench(tmp_path, "--workload", "packets", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert "correct" not in out.stdout


def test_unknown_workload_is_an_error():
    out = run_bench(ROOT, "--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0 and out.stdout == ""


@pytest.mark.parametrize("workload", ["packets", "query_mix"])
def test_tiny_traced_run_is_correct_and_reports_every_layer(workload):
    pytest.importorskip("pyspark")
    out = run_bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "0", "--trace", "1", "--size", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    # the traced cold operation, then untraced, traced and untraced warm ones
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 4
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = result["metrics"]
    assert sorted(metrics) == sorted(m["name"] for m in spec["per_layer"])
    for m in spec["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
    assert metrics["spark.jobs"]["value"] > 0
    assert 0.0 <= metrics["trace.attributed_ratio"]["value"] <= 1.0
    expected = {
        "packets": {
            "migration.swap_writes": 2.0,
            "migration.write_amplification": 2.0,
            "pg_catalog.refreshes": 1.0,
            "export.rows": 1010.0,
        },
        "query_mix": {"query.q36_s": 0.0},  # not in the tiny mix
    }[workload]
    for name, value in expected.items():
        assert metrics[name]["value"] == value, name
    if workload == "query_mix":
        assert metrics["query.mm05_s"]["value"] > 0 and metrics["query.ev03_s"]["value"] > 0
    assert not (ROOT / ".perfbench_work" / workload).exists()


def test_untraced_run_reports_every_end_to_end_metric():
    pytest.importorskip("pyspark")
    out = run_bench(ROOT, "--workload", "packets", "--seed", "4", "--seconds", "0", "--trace", "0", "--size", "tiny")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["attempted"] == 1
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert sorted(result["metrics"]) == sorted(m["name"] for m in spec["end_to_end"])
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "packets failed_ratio = 0 ratio (n=1)" in out.stdout
    assert "packets archive_bytes_ratio = " in out.stdout
