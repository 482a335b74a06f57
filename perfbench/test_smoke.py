"""Smoke test of the benchmark at tiny input size, plus a schema check of
what it prints. Run from the repository root:

    python3 -m pytest -q perfbench/test_smoke.py

Each case starts its own Spark driver, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--scale", "0.05",
        ],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_schema(result: dict, specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert set(got) == {"value", "unit"}
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_spec_lists_every_workload():
    from run import END_TO_END, PER_LAYER  # noqa: F401  (perfbench on sys.path)

    assert {w["name"] for w in SPEC["workloads"]} == {"steady-wave", "warc-curate"}
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("workload", ["steady-wave", "warc-curate"])
def test_end_to_end_run(workload):
    result = _result(_run(ROOT, workload, 0))
    _check_schema(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_run():
    result = _result(_run(ROOT, "warc-curate", 1))
    _check_schema(result, SPEC["per_layer"])
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["wave.jobs"] > 0 and m["warc.records"] > 0 and m["html_extract.rows"] > 0
    assert m["dedup.confirmed_pairs"] > 0 and m["cascade.rows_in"] > 0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(str(tmp_path), "steady-wave", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
