"""The benchmark's own smoke test, at the tiny input size.

    python3 -m pytest perfbench/test_bench.py -q

Checks that every workload prints each end-to-end metric of BENCHMARK.json
by name and unit (and a traced run each per-layer metric), that a
deliberately wrong answer is counted as a failure, and that the benchmark
refuses to run without the package next to it.  Takes a few minutes: each
run starts Spark.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def _result(stdout: str) -> dict:
    out = json.loads(stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def _assert_metrics(metrics: dict, spec: list[dict]) -> None:
    assert set(metrics) == {m["name"] for m in spec}
    for m in spec:
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_prints(workload):
    p = _run("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0",
             "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    out = _result(p.stdout)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stdout
    _assert_metrics(out["metrics"], SPEC["end_to_end"])
    assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]


def test_traced_run_prints_every_per_layer_metric():
    p = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "1",
             "--size", "tiny")
    assert p.returncode == 0, p.stderr[-2000:]
    out = _result(p.stdout)
    assert out["correct"], p.stdout
    _assert_metrics(out["metrics"], SPEC["per_layer"])
    assert "per-layer (traced window" in p.stdout


def test_wrong_answer_counts_as_failure(monkeypatch):
    from openpoiservice_spark import api

    from perfbench import run

    real = api.PoiEngine._feature_collection

    def drop_one(self, payload, cq):
        fc = real(self, payload, cq)
        fc["features"] = fc["features"][:-1]
        return fc

    monkeypatch.setattr(api.PoiEngine, "_feature_collection", drop_one)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run.main(["--workload", "poi_requests", "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--size", "tiny"])
    assert rc == 0
    out = _result(buf.getvalue())
    assert not out["correct"]
    assert out["failed"] >= 1
    assert out["metrics"]["ok_share"]["value"] < 1.0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", "__pycache__"))
    p = _run("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
