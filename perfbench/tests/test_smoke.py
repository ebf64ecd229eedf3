"""Smoke runs of every workload on the sf0.001 fixture.

Each run starts its own Spark session, so this file takes a few
minutes: ``python3 -m pytest perfbench/tests/test_smoke.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import PER_LAYER_UNITS, ROOT
from perfbench.workloads import WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(tmp_path, workload, trace, extra=()):
    results = tmp_path / "results.jsonl"
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001", "--results", str(results), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record = json.loads(results.read_text().splitlines()[-1])
    return result, record


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(tmp_path, workload):
    extra = ("--replicas", "2") if WORKLOADS[workload].corpus_replicas \
        else ()
    result, record = _run(tmp_path, workload, 0, extra)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, record["problems"]
    assert result["failed"] == 0
    assert result["attempted"] >= 2 * len(WORKLOADS[workload].queries)
    expected = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in result["metrics"].values())
    stamp = record["stamp"]
    assert stamp["workload"] == workload and stamp["seed"] == 7
    assert stamp["master"] == f"local[{stamp['cores']}]"
    assert stamp["fixture"] and all(f["sha256"] for f in stamp["fixture"])


def test_traced_smoke_reports_every_layer(tmp_path):
    result, record = _run(tmp_path, "trend", 1)
    assert result["correct"] is True, record["problems"]
    expected = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert set(expected) == set(PER_LAYER_UNITS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["storage.snaptable.merge.busy_s"] > 0
    assert m["sources.avro.splits"] > 0
    assert m["ext.text_arrow.kernel_calls"] == 0
    spans = [json.loads(s) for s in open(os.path.join(
        ROOT, ".perfbench", "trace", "trend-seed7.jsonl"))]
    assert {s["layer"] for s in spans} >= {
        "queries", "registry", "storage.snaptable", "sources.avro",
        "plans.footer_stats", "spark.plan", "spark.execute"}


def test_same_seed_gives_same_corpus(tmp_path):
    from perfbench import fixture
    base = fixture.fixture_dir(0.001)
    paths = [fixture.write_corpus(str(tmp_path / d), seed, base, 3)
             for d, seed in (("a", 3), ("b", 3), ("c", 4))]
    a, b, c = (open(p, "rb").read() for p in paths)
    assert a == b
    assert a != c
