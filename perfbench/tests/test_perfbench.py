"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q

Runs every workload at tiny size from outside the repository and checks
that every declared metric is printed with its unit; checks that a
perturbed expected value and a step that raises both fail the run's
correctness check and lower success_rate; checks that the command refuses to run without the engine next to it. The
remaining tests cover the pure helpers without Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO)

from perfbench import inputs, layer_diff, run, trace, workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(tmp_path, workload: str, *extra: str, cwd=None) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=cwd or tmp_path, capture_output=True, text=True,
                          timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_printed_with_unit(tmp_path, workload):
    code, lines = _run(tmp_path, workload, "--trace", "0")
    assert code == 0
    result = _result(lines)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit
        assert isinstance(got[name]["value"], float) and got[name]["value"] > 0
    assert got["success_rate"]["value"] == 1.0
    record = json.loads(lines[-2])
    assert record["workload"] == workload
    if workload == "spatial_sql_mix":  # one latency sample per query
        n_queries = len(workloads.MIX_QUERIES) + 1
        assert record["samples"] >= n_queries and record["samples"] % n_queries == 0
    assert {"cores", "ram_gb", "cpu_model"} <= set(record["host"])
    assert {"load1_before", "passed"} <= set(record["load_gate"])


def test_traced_run_prints_every_layer_metric(tmp_path):
    code, lines = _run(tmp_path, "geotag_broadcast", "--trace", "1")
    assert code == 0
    result = _result(lines)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["arrow.rows_to_python"] > 0 and m["scan.rows"] > 0
    assert m["checkpoint.bytes_written"] == 0


def test_wrong_expected_value_fails_the_check(tmp_path):
    code, lines = _run(tmp_path, "geotag_broadcast", "--trace", "0",
                       "--corrupt-expected")
    assert code == 0
    result = _result(lines)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert result["metrics"]["success_rate"]["value"] < 1.0


class _RaisingStep:
    """A workload whose step raises inside its timed operation."""

    primary = "pass"

    def step(self, spark, rec):
        rec.run("pass", lambda: 1 / 0, rows=10)
        return True


def test_raising_step_is_recorded_and_fails_the_run():
    rec = workloads.Recorder()
    attempted, failed = run._measure(_RaisingStep(), None, rec, 0.0)
    assert (attempted, failed) == (1, 1)
    assert rec.ops[0]["failed"] and rec.ops[0]["wall_s"] >= 0.0
    declared = SPEC["end_to_end"]
    for ops in (rec.ops, []):  # [] as if the step raised before its first operation
        metrics = run.end_to_end(_RaisingStep(), ops, {"setup_s": 1.0}, attempted, failed)
        result = json.loads(json.dumps(run.result_line(declared, metrics, attempted, failed)))
        assert not result["correct"] and result["failed"] == 1
        assert set(result["metrics"]) == {m["name"] for m in declared}
        assert result["metrics"]["success_rate"]["value"] == 0.0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geotag_broadcast",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_parse_metric_reads_status_store_formats():
    assert trace.parse_metric("1,234", "sum") == 1234
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "3.5 MiB (1.0 MiB, 1.0 MiB, 1.5 MiB (stage 1.0: task 2))",
                              "size") == 3.5 * 2**20
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "1.2 m (1 ms, 2 ms, 3 ms (stage 1.0: task 2))",
                              "timing") == pytest.approx(72.0)
    assert trace.parse_metric("36 ms", "timing") == pytest.approx(0.036)


def test_tail_needs_ten_samples_beyond():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    value, pct = run.tail([float(i) for i in range(40)])
    assert value == 29.0 and pct == 75.0


def test_hot_share_lies_inside_a_polygon_ring():
    ids = inputs.hot_ids(500, seed=3)
    assert len(set(ids)) == 500 and ids.min() >= inputs.PERIOD
    lon, lat = inputs.lonlat_np(ids)
    rings = [r for _p, _n, r in inputs.admin.admin_rings()]
    assert any(inputs._inside_convex(r, lon, lat).all() for r in rings)


def test_page_ids_depend_on_the_seed():
    a, b = inputs.page_ids(1, 1000), inputs.page_ids(2, 1000)
    assert len(np.intersect1d(a, b)) == 0
    assert (inputs.page_ids(1, 1000) == a).all()


def test_layer_diff_ranks_and_refuses_other_hosts():
    host = {"cores": 4, "ram_gb": 16.0, "cpu_model": "x"}
    before = [{"workload": "w", "host": host, "metrics": {"a": 1.0, "b": 10.0, "c": 0.0}}]
    after = [{"workload": "w", "host": host, "metrics": {"a": 1.1, "b": 5.0, "c": 0.0}}]
    rows = layer_diff.diff(before, after)["w"]
    assert [r[0] for r in rows] == ["b", "a", "c"]
    other = [dict(after[0], host=dict(host, cores=8))]
    with pytest.raises(ValueError):
        layer_diff.diff(before, other)
