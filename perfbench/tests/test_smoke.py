"""Smoke test of the benchmark at sf0.001: one traced run per workload.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7

# Known engine defects that make a workload's queries fail.  Each entry
# turns ``test_no_query_fails`` into a strict expected failure for that
# workload, so the entry has to go once the defect is fixed.
KNOWN_FAILURES = {
    "pandas_roundtrip": "read_parquet of a path that to_parquet has just "
                        "overwritten returns the cached scan of the old "
                        "files (FILE_NOT_EXIST)",
}


def bench(*args, root=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def traced(request):
    proc = bench("--workload", request.param, "--seed", str(SEED),
                 "--seconds", "0", "--trace", "1", "--sf", "sf0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    spans_path = os.path.join(ROOT, ".perfbench",
                              f"spans-{request.param}-seed{SEED}.jsonl")
    with open(spans_path) as fh:
        spans = [json.loads(line) for line in fh]
    return request.param, proc.stdout, spans


def test_prints_every_metric_with_its_unit(traced):
    _, out, _ = traced
    units = {**run.E2E_UNITS, **run.LAYER_UNITS, "failed_frac": "ratio"}
    for name, unit in units.items():
        assert re.search(rf"^{re.escape(name)} = \S+ {re.escape(unit)}\b",
                         out, re.M), f"{name} [{unit}] not printed"
    passes = re.search(r"^passes: untraced (\d+), traced (\d+)", out, re.M)
    assert int(passes.group(1)) >= 1 and int(passes.group(2)) >= 1
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(run.LAYER_UNITS)
    assert result["correct"]


def test_no_query_fails(traced, request):
    name, out, _ = traced
    if name in KNOWN_FAILURES:
        request.applymarker(pytest.mark.xfail(reason=KNOWN_FAILURES[name],
                                              strict=True))
    assert json.loads(out.strip().splitlines()[-1])["failed"] == 0


def test_spans_have_parents(traced):
    _, _, spans = traced
    ids = {s["id"] for s in spans}
    children = [s for s in spans if s["parent"] is not None]
    assert children, "no span has a parent"
    assert all(s["parent"] in ids for s in children)
    assert {"query", "build"} <= {s["name"] for s in spans}
    assert all(s["query"] for s in spans)


def test_self_times_are_not_negative(traced):
    _, out, spans = traced
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    for name in ("build.self_s", "delivery.self_s"):
        assert metrics[name]["value"] >= 0, name
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) \
                + s["end"] - s["start"]
    for s in spans:
        assert s["end"] - s["start"] - covered.get(s["id"], 0.0) >= 0, s


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "relational", "--seed", "1", "--seconds", "1",
                 "--trace", "0", root=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()
