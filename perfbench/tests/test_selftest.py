"""Self-test of the benchmark itself (not part of the engine's suite).

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each end-to-end case starts a Spark session on tiny inputs (about a
minute each). The checks: every metric named in ``BENCHMARK.json`` is
printed with its unit, the traced run reports every per-layer metric
and writes its spans, an injected mismatch trips the correctness gate,
and the command fails without printing a result when the engine is
absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import trace, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(*extra: str, cwd: str = ROOT, timeout: int = 300):
    cmd = [*SPEC["command"], "--seed", "7", "--seconds", "4", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, result


def assert_reports(result: dict, spec_metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    got = result["metrics"]
    assert set(got) == {m["name"] for m in spec_metrics}
    for m in spec_metrics:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    p, result = run_bench("--workload", workload, "--trace", "0", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-4000:]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert_reports(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values()), result["metrics"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_and_writes_spans(workload):
    spans = os.path.join(ROOT, ".perfbench_work", f"spans-{workload}-7.json")
    if os.path.exists(spans):
        os.unlink(spans)
    p, result = run_bench("--workload", workload, "--trace", "1", "--scale", "tiny")
    assert p.returncode == 0, p.stderr[-4000:]
    assert result["correct"] is True
    assert_reports(result, SPEC["per_layer"])
    with open(spans) as f:
        dumped = json.load(f)
    names = {s["name"] for s in dumped["spans"]}
    assert {"apply", "skew_probe", "lineage", "merge", "footer_stats", "scan", "compact"} <= names
    if workload == "relay_freshness":
        assert {"sync", "changes_between", "dir_merge", "fast_path_probe"} <= names
    else:
        assert "touched_probe" in names


def test_injected_mismatch_trips_the_gate():
    p, result = run_bench(
        "--workload", "cow_ingest", "--trace", "0", "--scale", "tiny", "--inject-mismatch"
    )
    assert p.returncode != 0
    assert result["correct"] is False and result["failed"] >= 1
    assert "MISMATCH" in p.stderr


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p, result = run_bench("--workload", WORKLOADS[0], "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert result is None


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    p, v = workloads.tail_percentile(xs)
    assert v == 90.0 and p == 90.0
    assert sum(1 for x in xs if x > v) == 10
    assert workloads.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_self_time_subtracts_the_union_of_children():
    rec = trace.SpanRecorder()
    rec.spans = [
        {"id": 0, "name": "p", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 5.0, "parent": 0},
        {"id": 3, "name": "c", "start": 9.0, "end": 12.0, "parent": 0},
    ]
    assert rec.self_time(rec.spans[0]) == pytest.approx(10.0 - 4.0 - 1.0)
