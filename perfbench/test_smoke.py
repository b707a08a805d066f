"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs three times at ``--size tiny`` (a few seconds of Spark
work after session start): untraced, traced, and with one expected value
corrupted. The test asserts that every metric named in BENCHMARK.json is
printed with its unit, and that the corrupted run fails its check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("table_io", "ann_serve")

sys.path.insert(0, HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


def _tiny(workload: str, *extra: str) -> tuple[int, dict | None]:
    return _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "2",
                "--size", "tiny", *extra)


def test_spec_matches_runner():
    import run

    spec = _spec()
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] \
        == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == run.per_layer_spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ("0", "1"))
def test_every_metric_printed(workload, trace):
    rc, result = _tiny(workload, "--trace", trace)
    assert rc == 0 and result is not None
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    key = "end_to_end" if trace == "0" else "per_layer"
    want = {m["name"]: m["unit"] for m in _spec()[key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    for name, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), name
        if trace == "0":
            assert v["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_expectation_fails(workload):
    rc, result = _tiny(workload, "--trace", "0", "--corrupt-expected")
    assert rc != 0
    assert result is not None and result["correct"] is False
    assert result["failed"] >= 1


def test_fails_without_the_library(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, result = _run(str(tmp_path), "--workload", "table_io", "--seed", "1",
                      "--seconds", "1", "--trace", "0")
    assert rc != 0 and result is None
