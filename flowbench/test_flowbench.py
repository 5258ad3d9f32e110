"""Tests of the flow benchmark itself.

    python3 -m pytest flowbench/test_flowbench.py -q

The fast tests cover the span arithmetic, the metric helpers and the
input generators. ``test_traced_counts_repeat`` runs each benchmarked
workload traced twice with one seed (about two minutes per workload) and
requires the Spark jobs, stages and tasks of every traced op to repeat
exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flowbench import gen, metrics  # noqa: E402
from flowbench.trace import _covered  # noqa: E402


def test_covered_merges_overlaps_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert _covered([], 0, 10) == 0


def test_drift():
    assert metrics.drift([1, 1, 1, 1, 2, 2, 2, 2]) == 2.0
    assert metrics.drift([3.0]) == 1.0


def test_label_batches_repeat_for_a_seed():
    a, b = gen.LabelHistory(3), gen.LabelHistory(3)
    assert a.flat_labels() == b.flat_labels()
    assert a.next_batch() == b.next_batch()
    assert gen.LabelHistory(4).flat_labels() != a.flat_labels()


def test_history_has_the_sf01_events_shape():
    h = gen.LabelHistory(6)
    counts = [len(evs) for evs in h.reports.values()]
    assert len(counts) == gen.SF01_USERS
    assert abs(sum(counts) / len(counts) - gen.REPORTS_MEAN) < 1
    types = [e[3] for evs in h.reports.values() for e in evs]
    assert all(0.19 < types.count(t) / len(types) < 0.21 for t in gen.EVENT_TYPES)


def test_rebatch_redelivers_old_reports():
    """A batch's report pages carry every earlier report of an address,
    so the merge must be idempotent on them."""
    h = gen.LabelHistory(5)
    before = {e[0] for evs in h.reports.values() for e in evs}
    batch = h.next_batch()
    assert before & {e[0] for e in batch["events"]}


def test_documents_repeat_for_a_seed():
    assert gen.documents(1, 200).equals(gen.documents(1, 200))
    assert not gen.documents(1, 200).equals(gen.documents(2, 200))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _traced_record(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, "flowbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in _spec()["per_layer"]}
    path = os.path.join(ROOT, ".flowbench", "records", f"{workload}-seed{seed}-trace1.json")
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_counts_repeat(workload):
    first = _traced_record(workload, 11, 20)["op_counts"]
    second = _traced_record(workload, 11, 20)["op_counts"]
    n = min(len(first), len(second))
    assert n >= 1
    assert first[:n] == second[:n]


def test_fails_without_the_library(tmp_path):
    """Where only the benchmark's own files exist, it exits non-zero
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "flowbench"), tmp_path / "flowbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "flowbench/run.py", "--workload", "label_refresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
