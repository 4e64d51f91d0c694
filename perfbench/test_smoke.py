"""The benchmark's own test: every workload runs end to end on the
sf0.001 tables, one cold process each, with its output checks, and
reports every metric it declares.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the repository root; takes about two minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced(workload):
    r = _run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "1")
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
    assert set(r["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert r["metrics"][m["name"]]["unit"] == m["unit"]
    assert r["metrics"]["session.s"]["value"] > 0


def test_untraced_run_reports_end_to_end_metrics():
    r = _run("--workload", "corpus_curation", "--seed", "3", "--seconds", "1", "--trace", "0")
    assert r["correct"] and r["failed"] == 0
    assert set(r["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert r["metrics"][m["name"]]["unit"] == m["unit"]
        assert r["metrics"][m["name"]]["value"] > 0


def test_accounting_counts_raised_and_wrong_operations():
    ops = [
        SimpleNamespace(name="ok", check=lambda: None),
        SimpleNamespace(name="raised", check=None),
        SimpleNamespace(name="wrong", check=lambda: "3 rows, oracle 4"),
        SimpleNamespace(name="unchecked", check=lambda: 1 / 0),
    ]
    attempted, failed, wrong = run.account([SimpleNamespace(ops=ops)])
    assert (attempted, failed) == (4, 3)
    assert wrong == [  # either sets correct to false
        "wrong: 3 rows, oracle 4",
        "unchecked: check raised ZeroDivisionError: division by zero",
    ]
    attempted, failed, wrong = run.account([SimpleNamespace(ops=ops[:2])])
    assert (attempted, failed, wrong) == (2, 1, [])  # a raise shows in failed only
