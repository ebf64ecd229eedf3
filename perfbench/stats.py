"""Pure statistics and comparison rules of the benchmark.

Kept free of Spark so the rules are unit-tested on their own.
"""

from __future__ import annotations

import math
import statistics

# Percentiles a latency may be reported at, highest first.
PERCENTILES = (99, 95, 90, 75, 50)
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def samples_beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reportable_percentile(n: int) -> int | None:
    """The highest of ``PERCENTILES`` that has at least ``TAIL_SAMPLES``
    samples beyond it in ``n`` samples, or None."""
    for p in PERCENTILES:
        if samples_beyond(n, p) >= TAIL_SAMPLES:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)


def worse_by(parent: float, change: float, better: str) -> float:
    """How much worse ``change`` is than ``parent``, as a share of
    ``parent`` (negative when it is better)."""
    if parent == 0:
        return 0.0 if change == parent else math.inf
    delta = (change - parent) / abs(parent)
    return delta if better == "lower" else -delta


def regressions(parent_runs: list[dict], change_runs: list[dict],
                metrics: list[dict]) -> list[dict]:
    """Compare per-metric medians of two run sets.  ``metrics`` are the
    ``end_to_end`` entries of BENCHMARK.json; a metric regresses when
    the change's median is worse than the parent's by more than its
    ``bound``.  Returns one row per metric with the verdict."""
    rows = []
    for m in metrics:
        name = m["name"]
        a = [r[name] for r in parent_runs if name in r]
        b = [r[name] for r in change_runs if name in r]
        if not a or not b:
            rows.append({"metric": name, "verdict": "missing"})
            continue
        ma, mb = median(a), median(b)
        w = worse_by(ma, mb, m["better"])
        rows.append({"metric": name, "parent": ma, "change": mb,
                     "worse_by": w, "bound": m["bound"],
                     "verdict": "regressed" if w > m["bound"] else "ok"})
    return rows


def failures(parent_results: list[dict],
             change_results: list[dict]) -> list[dict]:
    """The change's run results (the printed result lines) against the
    parent's: every change run must be correct, and the share of calls
    that failed, over all runs, must not grow."""
    def frac(results):
        attempted = sum(r["attempted"] for r in results)
        return sum(r["failed"] for r in results) / attempted \
            if attempted else 0.0

    def bad(results):
        return sum(1 for r in results if not r["correct"])

    fp, fc = frac(parent_results), frac(change_results)
    return [
        {"metric": "incorrect_runs", "parent": bad(parent_results),
         "change": bad(change_results),
         "verdict": "regressed" if bad(change_results) else "ok"},
        {"metric": "failed_frac", "parent": fp, "change": fc,
         "verdict": "regressed" if fc > fp else "ok"},
    ]


# Stamp fields that may differ between two results being compared.
STAMP_FREE = frozenset({"commit"})


def stamp_mismatch(a: dict, b: dict) -> list[str]:
    """Stamp fields other than the commit in which ``a`` and ``b``
    differ; an empty list means the two results are comparable."""
    keys = sorted((set(a) | set(b)) - STAMP_FREE)
    return [k for k in keys if a.get(k) != b.get(k)]
