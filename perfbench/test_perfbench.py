"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The smoke runs start Spark (tiny inputs, about a minute each); the rest is
pure Python. They run from a temporary working directory, so they also
check that the benchmark does not depend on the caller's directory.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.join(os.path.dirname(HERE), "tools"))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench(tmp_path, *args: str) -> tuple[dict, str, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "3", "--seconds", "1", "--smoke", *args],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout, proc.stderr


def test_benchmark_json_names_match_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_emits_every_metric_with_its_unit(tmp_path, trace):
    result, out, _ = _bench(tmp_path, "--workload", "all", "--trace", str(trace))
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] > 0
    units = run.LAYER_UNITS if trace else run.E2E_UNITS
    want = {f"{w}.{m}": u for w in workloads.WORKLOADS for m, u in units.items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    for w in workloads.WORKLOADS:
        for m, u in run.E2E_UNITS.items():
            assert any(line.startswith(f"{w} {m} ") and line.endswith(f" {u}") for line in out.splitlines())
        assert f"{w} failed_ops_ratio 0.0000" in out


def test_injected_failing_op_is_counted(tmp_path):
    result, out, err = _bench(tmp_path, "--workload", "operator_queries", "--inject", "raise")
    first = workloads.OPERATOR_QUERIES[0][0]
    assert result["correct"] is False
    # the first op fails in every pass and nothing else does
    assert 0 < result["failed"] == result["attempted"] // len(workloads.OPERATOR_QUERIES)
    assert f"op {first} failed" in err
    assert "failed_ops_ratio 0.0000" not in out


def test_injected_wrong_result_is_counted(tmp_path):
    result, _, err = _bench(tmp_path, "--workload", "markov_pipeline", "--inject", "wrong")
    assert result["correct"] is False and result["failed"] > 0
    assert "op tica failed" in err


def test_benchmark_fails_without_the_package(tmp_path):
    """A checkout holding only the benchmark exits non-zero, printing no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("__pycache__"), dirs_exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "operator_queries", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_generated_trajectories_are_seeded():
    x1, x2 = datagen.make_trajectories(5, 3, 50), datagen.make_trajectories(5, 3, 50)
    assert x1.shape == (3, 50, 4) and np.array_equal(x1, x2)
    assert not np.array_equal(x1, datagen.make_trajectories(6, 3, 50))


def test_compare_frames_is_exact_and_order_insensitive():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert workloads.compare_frames(want.iloc[::-1], want) == []
    assert workloads.compare_frames(want.assign(v=[0.5, 1.5, 2.5000001]), want) == ["column v: 1 values differ"]
    assert workloads.compare_frames(want.iloc[:2], want) == ["row count 2 != 3"]
    # equal numbers of another kind still fail: the gate hashes int and float apart
    assert workloads.compare_frames(want.assign(k=[1.0, 2.0, 3.0]), want) == ["column k: dtype float64 != int64"]


def test_markov_reference_covariances_match_direct_formula():
    frames = datagen.make_trajectories(1, 4, 200)
    c00, c0t, mean = workloads.reference_covariances(frames, 10)
    x = frames[:, :-10].reshape(-1, 4)
    y = frames[:, 10:].reshape(-1, 4)
    z = np.concatenate([x, y])
    # the symmetrized instantaneous covariance pools both legs around
    # their common mean
    assert np.allclose(mean, z.mean(0))
    assert np.allclose(c00, (z - mean).T @ (z - mean) / 2 / (len(x) - 1))
    assert np.allclose(c0t, c0t.T)


def test_event_log_attribution(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g-a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        # reuses stage 1 (skipped) and runs stage 2; no group: a pooled thread
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1300, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 10, "Shuffle Read Metrics": {"Local Bytes Read": 1_000_000}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000, "Stage IDs": [3],
         "Properties": {}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, per_job = eventlog.parse(str(path))
    spans = [{"group": "g-a", "start_ms": 900.0, "end_ms": 2000.0}]
    assert eventlog.attribute(spans, jobs, per_job) == 1
    s = spans[0]
    assert s["jobs"] == 2 and s["unattributed_jobs"] == 1 and s["tasks"] == 2
    assert s["jobs_union_s"] == pytest.approx(0.6)
    assert s["driver_gap_s"] == pytest.approx(0.5)
    assert s["executor_run_s"] == pytest.approx(0.05)
    assert s["executor_cpu_s"] == pytest.approx(0.03)
    assert s["shuffle_write_mb"] == pytest.approx(2.0)
    assert s["shuffle_read_mb"] == pytest.approx(1.0)
