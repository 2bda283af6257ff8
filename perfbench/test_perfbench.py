"""Fast checks of the benchmark itself, at the tiny input scale (sf0.001
tables, 2k-event medallion):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Each workload runs once untraced and once traced (about five minutes in
all on four cores).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
PACKAGE = "telecom_dataengineering_pipeline_spark"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=200)


@pytest.fixture(scope="module")
def results():
    cache: dict = {}

    def get(workload: str, trace: int) -> dict:
        if (workload, trace) not in cache:
            proc = bench(workload, trace)
            assert proc.returncode == 0, proc.stderr[-3000:]
            cache[workload, trace] = json.loads(proc.stdout.strip().splitlines()[-1])
        return cache[workload, trace]

    return get


def test_metric_names_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + WORKLOADS
    assert len(names) == len(set(names))
    bad = [n for n in names if not NAME.match(n)]
    assert not bad, bad


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(results, workload, trace):
    out = results(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    assert all(NAME.match(k) for k in out["metrics"])
    if trace:
        assert out["metrics"]["failed_ops"]["value"] == 0
        assert out["metrics"]["trace.overhead"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def checkout(tmp_path, with_package: bool) -> str:
    """A copy of the benchmark, with or without the engine package."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    if with_package:
        os.symlink(os.path.join(ROOT, PACKAGE), tmp_path / PACKAGE)
    return str(tmp_path)


def test_corrupted_fingerprint_counts_as_failed_op(tmp_path):
    root = checkout(tmp_path, with_package=True)
    path = os.path.join(root, "perfbench", "expected.json")
    expected = json.load(open(path))
    op = expected["sf0.001"]["ops"]["pricing_summary_rollup"]
    op["fingerprint"] = "0" * len(op["fingerprint"])
    with open(path, "w") as f:
        json.dump(expected, f)
    proc = bench("analytics", 1, cwd=root)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is False and out["failed"] >= 1
    assert out["metrics"]["failed_ops"]["value"] > 0


def test_fails_without_the_engine_package(tmp_path):
    proc = bench("analytics", 0, cwd=checkout(tmp_path, with_package=False))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
