"""The benchmark's own tests: each listed workload end to end at smoke
size (output checks included), the traced path, the failure mode outside
a full checkout, and the span arithmetic.

    python3 -m pytest perfbench/test_perfbench.py -q
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
sys.path.insert(0, HERE)

from common import Tracer, pct  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int, seconds: int = 4, smoke: bool = True):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("live_bars", 0), ("batch_paths", 1)])
def test_workload_smoke(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    detail = json.loads(p.stdout.strip().splitlines()[-2])["detail"]
    prov = detail["provenance"]
    assert prov["seed"] == 7 and prov["traced"] is bool(trace) and prov["cores"] >= 1
    assert not os.path.exists(os.path.join(ROOT, ".bench_work"))


def test_workloads_match_spec():
    import run

    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "live_bars", 0, seconds=1, smoke=False)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_self_time_subtracts_child_coverage():
    tr = Tracer(enabled=True)
    tr.spans = [
        {"name": "pass", "parent": None, "start": 0.0, "end": 10.0},
        {"name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"name": "b", "parent": 0, "start": 3.0, "end": 5.0},  # overlaps a
        {"name": "c", "parent": 0, "start": 8.0, "end": 9.0},
    ]
    by_name = {s["name"]: s for s in tr.self_times()}
    assert by_name["pass"]["self_s"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert by_name["a"]["self_s"] == pytest.approx(3.0)
    assert by_name["b"]["parent"] == "pass"


def test_percentile_interpolates():
    assert pct([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert pct(list(range(11)), 90) == pytest.approx(9.0)
    assert pct([], 90) == 0.0
