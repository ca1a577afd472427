"""Each workload runs end to end on a small input and prints the
metrics BENCHMARK.json names; without the engine next to it the
benchmark refuses to run. Each case starts its own Spark JVM (about
30-60 s)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(root: str, *args: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_smoke(workload):
    res = _result(_run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--sf", "0.001"))
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 2
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


def test_traced_smoke(tmp_path):
    res = _result(_run(ROOT, "--workload", "orders_pipeline", "--seed", "2", "--seconds", "1",
                       "--trace", "1", "--sf", "0.001", "--out", str(tmp_path)))
    assert res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.triggers"] >= 2 and m["spark.jobs"] >= 1 and m["state.rows_total"] > 0
    dump = json.loads((tmp_path / "orders_pipeline-seed2.json").read_text())
    assert any(s["name"] == "op:wave" for s in dump["spans"])


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "--workload", "batch_queries", "--seed", "1", "--seconds", "1",
                "--trace", "0", timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
