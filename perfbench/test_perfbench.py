"""Tests of the benchmark itself: the span self-time arithmetic, and a
tiny-size smoke run of each workload in both modes.

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import ROOT, WORKLOADS
from perfbench.trace import Span, covered, self_times


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, "r", start, end)


def test_covered_merges_overlaps_and_skips_empty():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6), (4, 4)]) == pytest.approx(4)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),  # sequential child
        _span(2, 0, 5.0, 9.0),  # two concurrent children under span 2
        _span(3, 2, 5.0, 8.0),
        _span(4, 2, 6.0, 9.5),  # runs past its parent: clipped to it
        _span(5, 3, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3)
    assert st[2] == pytest.approx(0)  # children cover 5..9 entirely
    assert st[3] == pytest.approx(3 - 1)
    assert st[4] == pytest.approx(3.5)
    assert st[5] == pytest.approx(1)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_emits_every_metric(workload, trace):
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["failed"] == 0 and result["correct"] and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0


def test_exits_nonzero_without_the_package(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: no result, non-zero exit."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
