#!/usr/bin/env python3
"""Compare two sets of benchmark results, parent against change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds records appended by ``perfbench/run.py`` (its
``--results`` file).  Untraced records are paired by workload and seed;
a pair whose environment stamps differ in anything but the commit is
refused, since its numbers would not be like for like.  For every
end-to-end metric of BENCHMARK.json the change's median must not be
worse than the parent's by more than the metric's bound.  Every change
run must also be correct, and the share of calls that failed must not
be larger than the parent's: a change whose calls fail early must not
pass as a faster one.

Exit status: 0 no regression, 1 a metric regressed, 2 refused.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def load(path: str) -> dict[tuple[str, int], dict]:
    """Untraced records keyed by (workload, seed); the last one wins."""
    out = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            st = rec["stamp"]
            if st["trace"] == 0:
                out[(st["workload"], st["seed"])] = rec
    return out


def compare(parent: dict, change: dict, metrics: list[dict]):
    """(refusals, {workload: verdict rows})."""
    refusals = []
    keys = sorted(set(parent) | set(change))
    for key in keys:
        if key not in parent or key not in change:
            refusals.append(f"{key[0]} seed {key[1]}: only in one set")
            continue
        diff = stats.stamp_mismatch(parent[key]["stamp"],
                                    change[key]["stamp"])
        if diff:
            refusals.append(f"{key[0]} seed {key[1]}: stamps differ in "
                            + ", ".join(diff))
    if refusals:
        return refusals, {}

    def results(recs, workload):
        return [r["result"] for (w, _), r in sorted(recs.items())
                if w == workload]

    def values(recs, workload):
        return [{k: v["value"] for k, v in r["metrics"].items()}
                for r in results(recs, workload)]

    rows = {}
    for workload in sorted({w for w, _ in keys}):
        rows[workload] = stats.failures(
            results(parent, workload), results(change, workload)
        ) + stats.regressions(values(parent, workload),
                              values(change, workload), metrics)
    return [], rows


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    refusals, rows = compare(load(argv[0]), load(argv[1]), metrics)
    for r in refusals:
        print(f"refused: {r}")
    if refusals:
        return 2
    worst = 0
    for workload, table in rows.items():
        for r in table:
            if r["verdict"] == "missing":
                print(f"{workload:14s} {r['metric']:22s} missing")
                worst = max(worst, 1)
                continue
            if "bound" not in r:
                print(f"{workload:14s} {r['metric']:22s} parent "
                      f"{r['parent']:.4g} change {r['change']:.4g} "
                      f"{r['verdict']}")
            else:
                print(f"{workload:14s} {r['metric']:22s} parent "
                      f"{r['parent']:.4g} change {r['change']:.4g} worse "
                      f"by {r['worse_by']:+.1%} (bound {r['bound']:.0%}) "
                      f"{r['verdict']}")
            if r["verdict"] == "regressed":
                worst = 1
    return worst


if __name__ == "__main__":
    sys.exit(main())
