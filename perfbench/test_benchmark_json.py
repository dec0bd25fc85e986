"""Form check for BENCHMARK.json, plus a short smoke run of every
workload that must print exactly the declared metric names and units.

    python -m pytest perfbench/test_benchmark_json.py -q

The smoke runs start a Spark session each (about a minute apiece);
``-k form`` runs only the file checks.
"""

from __future__ import annotations

import json
import os
import re
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_form_keys_and_paths(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/") and ".." not in p
        assert os.path.isdir(os.path.join(REPO, p))
    cmd = bench["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    assert not any(c.startswith("/") or ".." in c for c in cmd)
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_form_names_and_limits(bench):
    workloads = bench["workloads"]
    assert 2 <= len(workloads) <= 8
    for w in workloads:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"]) and "\n" not in w["why"] and len(w["why"]) <= 200
    e2e, layers = bench["end_to_end"], bench["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layers) <= 128
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    names = [w["name"] for w in workloads] + [m["name"] for m in e2e + layers]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in e2e + layers)
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)
    assert len(json.dumps(bench).encode()) <= 64 * 1024


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["cdc_paced", "query_inventory"])
def test_smoke_run_prints_declared_metrics(bench, workload, trace):
    cmd = bench["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)
    ]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
