"""The benchmark's percentile, regression, compare and stamp rules."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import compare, stats


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    assert stats.percentile(list(range(1, 101)), 90) == 90
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_reportable_percentile_keeps_ten_samples_beyond():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.reportable_percentile(100) == 90
    assert stats.reportable_percentile(99) == 75
    assert stats.reportable_percentile(1000) == 99
    assert stats.reportable_percentile(20) == 50
    assert stats.reportable_percentile(19) is None


def test_worse_by_respects_direction():
    assert stats.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert stats.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)
    assert stats.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)


METRICS = [{"name": "cycle_s", "unit": "s", "better": "lower",
            "bound": 0.1},
           {"name": "input_rows_per_s", "unit": "1/s", "better": "higher",
            "bound": 0.1}]


def test_regression_rule_uses_medians_and_bounds():
    parent = [{"cycle_s": v, "input_rows_per_s": 100.0}
              for v in (1.0, 1.0, 1.0)]
    within = [{"cycle_s": v, "input_rows_per_s": 95.0}
              for v in (1.05, 1.09, 3.0)]   # one outlier, median 1.09
    rows = stats.regressions(parent, within, METRICS)
    assert [r["verdict"] for r in rows] == ["ok", "ok"]
    slower = [{"cycle_s": 1.2, "input_rows_per_s": 85.0}] * 3
    rows = stats.regressions(parent, slower, METRICS)
    assert [r["verdict"] for r in rows] == ["regressed", "regressed"]
    assert stats.regressions(parent, [{}], METRICS)[0]["verdict"] == \
        "missing"


STAMP = {"workload": "trend", "seed": 1, "seconds": 8, "trace": 0,
         "cores": 4, "master": "local[4]", "spark": "4.1.2",
         "python": "3.11.7", "pyarrow": "16.1.0", "commit": "aaa",
         "fixture": [{"path": "x.parquet", "size": 1, "sha256": "f"}]}


def test_stamps_may_differ_only_in_commit():
    other = dict(STAMP, commit="bbb")
    assert stats.stamp_mismatch(STAMP, other) == []
    assert stats.stamp_mismatch(STAMP, dict(other, cores=8)) == ["cores"]
    assert stats.stamp_mismatch(
        STAMP, dict(STAMP, fixture=[{"path": "x.parquet", "size": 2,
                                     "sha256": "g"}])) == ["fixture"]
    assert stats.stamp_mismatch(STAMP, {k: v for k, v in STAMP.items()
                                        if k != "spark"}) == ["spark"]


def _record(stamp, cycle_cpu_s, correct=True, failed=0):
    with open(os.path.join(compare.ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["end_to_end"]]
    metrics = {n: {"value": 1.0, "unit": "-"} for n in names}
    metrics["cycle_cpu_s"]["value"] = cycle_cpu_s
    return {"stamp": stamp,
            "result": {"correct": correct, "attempted": 20,
                       "failed": failed, "metrics": metrics}}


def _write(path, records):
    path.write_text("".join(json.dumps(r) + "\n" for r in records))
    return str(path)


def test_compare_refuses_unlike_environments(tmp_path, capsys):
    parent = _write(tmp_path / "a.jsonl", [_record(STAMP, 1.0)])
    same = _write(tmp_path / "b.jsonl",
                  [_record(dict(STAMP, commit="bbb"), 1.01)])
    assert compare.main([parent, same]) == 0
    unlike = _write(tmp_path / "c.jsonl",
                    [_record(dict(STAMP, commit="bbb", cores=8), 1.0)])
    assert compare.main([parent, unlike]) == 2
    assert "stamps differ in cores" in capsys.readouterr().out
    unpaired = _write(tmp_path / "d.jsonl",
                      [_record(dict(STAMP, seed=2), 1.0)])
    assert compare.main([parent, unpaired]) == 2


def test_compare_flags_a_regression(tmp_path):
    parent = _write(tmp_path / "a.jsonl", [_record(STAMP, 1.0)])
    slow = _write(tmp_path / "b.jsonl",
                  [_record(dict(STAMP, commit="bbb"), 2.0)])
    assert compare.main([parent, slow]) == 1


def test_failure_rule_needs_correct_runs_and_no_more_failures():
    ok = {"correct": True, "attempted": 10, "failed": 0}
    rows = stats.failures([ok], [ok])
    assert [r["verdict"] for r in rows] == ["ok", "ok"]
    wrong = dict(ok, correct=False)
    assert stats.failures([ok], [wrong])[0]["verdict"] == "regressed"
    failing = dict(ok, failed=1)
    rows = stats.failures([ok], [failing])
    assert rows[1]["metric"] == "failed_frac"
    assert rows[1]["change"] == pytest.approx(0.1)
    assert rows[1]["verdict"] == "regressed"
    assert stats.failures([failing], [failing])[1]["verdict"] == "ok"


def test_compare_flags_failing_calls_that_look_faster(tmp_path):
    parent = _write(tmp_path / "a.jsonl", [_record(STAMP, 1.0)])
    change = dict(STAMP, commit="bbb")
    failing = _write(tmp_path / "b.jsonl",
                     [_record(change, 0.5, correct=False, failed=3)])
    assert compare.main([parent, failing]) == 1
    wrong = _write(tmp_path / "c.jsonl",
                   [_record(change, 0.5, correct=False)])
    assert compare.main([parent, wrong]) == 1
