"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The tiny runs start a Spark session each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import oracle  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )


def test_benchmark_json_names_match_the_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == {
        name: (unit, better) for name, (unit, better, _) in report.END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        name: (unit, better) for name, (unit, better, *_) in report.PER_LAYER.items()
    }
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    a = pa.table({"k": [1, 2], "v": [0.1 + 0.2, 2.5]})
    b = pa.table({"v": [2.5, 0.3], "k": [2, 1]})
    c = pa.table({"k": [1, 2], "v": [0.31, 2.5]})
    assert oracle.canonical(a) == oracle.canonical(b)
    assert oracle.canonical(a) != oracle.canonical(c)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_tiny_run_prints_every_metric_and_runs_the_gate(workload, trace):
    proc = _bench(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", trace, "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    wanted = spec["per_layer"] if trace == "1" else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    for value in result["metrics"].values():
        assert isinstance(value["value"], (int, float))
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "warehouse_sync":
        # counted from the write stages' records, not from the generator
        assert result["metrics"]["warehouse.rows_rewritten_per_changed_row"]["value"] > 1
    # the correctness gate ran over every operation and passed
    detail = info["detail"]
    if workload == "analyst_queries":
        assert detail["checked"] == result["attempted"] and detail["failed_queries"] == []
    else:
        assert detail["gate"]["ok"] is True and len(detail["gate"]) > 1
    assert info["stamp"]["seed"] == 3 and info["stamp"]["nproc"] >= 1


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = _bench(str(tmp_path), "--workload", run.WORKLOADS[0], "--seed", "1",
                  "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
