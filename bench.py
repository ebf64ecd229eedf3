#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": total_sec, "unit": "sec",
 "queries": {name: median_sec, ...}, "spread": {name: max-min, ...},
 "passes": 3, "sf": ...}

Forcing: each measured run executes the FULL plan via a noop-format
write (``df.write.format("noop")``) — unlike ``count()``, which can
let Spark prune final-projection columns on scan-shaped queries, the
noop sink materializes every output column, so the numbers are the
cost of actually producing the result.  (Driver collection stays out
of the measurement either way.)

Jitter: one measured pass per query made ±20% run-to-run swings
uninterpretable (round-4 verdict).  Each query now runs 2 warmups +
3 measured passes; ``queries`` reports the per-query MEDIAN and
``spread`` the max−min across the measured passes, so a regression
is only real when it clears the reported spread.

Self-certification: a leading contention gate (synthetic rebaseline
probe, retry-until-quiet, ``contended`` stamp) refuses to silently
measure a loaded box, and the attribution repass set is selected
dynamically from the movers vs the previous committed BENCH instead
of a static watch list (r10 verdict items 1-2).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# The headline set: the Minerva core path (time agg chain, entity
# rollup, windows, as-of, trigger, sessionize, upsert) plus the
# scale-critical extensions (dedup LSH, similarity, text stats).
#
# Round 4 added the snapshot-table write path (MERGE + CDC-maintained
# aggregate) — ~2 s each at sf0.1, reflected in the total; rounds 1-3
# benched 17 read-path queries, so compare per-query numbers (or the
# 17-query subtotal in PERF.md) across rounds, not raw totals.
HEADLINE = [
    "agg_time_1h",
    "agg_time_1d",
    "agg_reagg_avg",
    "rollup_entity",
    "join_inner",
    "join_asof",
    "attr_compact",
    "win_moving_avg",
    "topk_worst",
    "trigger_threshold",
    "events_sessionize",
    "upsert_last_wins",
    "upsert_merge_table",
    "cdc_incremental_agg",
    "dedup_exact",
    "dedup_simhash",
    "avro_ingest",
    "sim_topk",
    "text_token_stats",
    "text_quality_score",
    # round 9 additions: Gopher n-gram repetition (scan-local fold
    # chain) and DSIR selection (two weight aggregations + a
    # scan-local scoring pass + TopK) — tracked from r9 on; the
    # r1-comparable subtotal in PERF.md excludes them
    "text_gopher_ngrams",
    "dataset_dsir_select",
    # round 10 addition: the C4 cleaning recipe over synthesized
    # pages (one scan + one shuffle) — tracked from r10 on; excluded
    # from earlier-round comparable subtotals
    "text_c4_rules",
    # round 11 addition: the candidate-bounded sorted-neighborhood
    # simhash (the clique-safe scale path; 100x exponent 0.15 vs the
    # full band join's 1.11) — tracked from r11 on; excluded from
    # earlier-round comparable subtotals
    "dedup_simhash_neighbors",
    # round 12 addition: the zero-Exchange bucketed layout twin of
    # rollup_entity (same oracle; the fact-side shuffle removed by
    # co-bucketed bucket-sorted tables) — tracked from r12 on;
    # excluded from earlier-round comparable subtotals
    "rollup_entity_bucketed",
    # round 13 addition: the bucketed twin of join_inner (same
    # oracle; in the cluster regime where customer outgrows every
    # broadcast the co-bucketed layout removes both join shuffles —
    # scripts/probe_bucketed_regime.py) — tracked from r13 on;
    # excluded from earlier-round comparable subtotals
    "join_inner_bucketed",
]

WARMUP_PASSES = 2
MEASURED_PASSES = 3

# Contention gate (r10 verdict item 1): BENCH_r10 measured a loaded
# box — its own rebaseline probe read 2.63 s at start vs 0.70 s quiet,
# and the "regressions" were exactly the first queries in run order —
# and the harness committed the numbers without flagging them.  The
# gate itself lives in benchgate.py since r12 (verdict item 7) so the
# scripts/ probes share it; constants re-exported for the unit tests.
from benchgate import (GATE_FACTOR, GATE_RETRIES,  # noqa: E402,F401
                       GATE_WAIT_SEC, QUIET_REBASELINE_SEC,
                       contention_gate, fs_probe)
from benchgate import force as _force  # noqa: E402
from benchgate import rebaseline as _rebaseline_impl  # noqa: E402

# Repass floor: run-to-run jitter on sub-second queries makes a pure
# spread test trip on noise; a mover must clear BOTH its spread and
# this absolute floor before it earns a repass.
REPASS_FLOOR_SEC = 0.15


def _rebaseline(spark) -> float:
    """Fixed synthetic compute yardstick — shared impl in benchgate."""
    return _rebaseline_impl(spark, WARMUP_PASSES, MEASURED_PASSES)


def _prior_bench() -> dict:
    """The newest committed BENCH_r*.json — the previous round's
    medians/spreads, used to auto-select the repass set.  The driver
    wraps this script's JSON line under a ``parsed`` key (next to the
    raw ``tail``); unwrap it so callers see the bench dict itself."""
    import glob
    import re
    best_rnd, best = -1, {}
    for path in glob.glob(os.path.join(REPO, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if rnd > best_rnd:
            try:
                with open(path) as fh:
                    data = json.load(fh)
            except (OSError, json.JSONDecodeError):
                continue
            if isinstance(data.get("parsed"), dict):
                data = data["parsed"]
            if isinstance(data.get("queries"), dict):
                best, best_rnd = data, rnd
    return best


def _measure_once(spark, q, sf_dir: str, warmups: int):
    for _ in range(warmups):
        _force(q.spark(spark, sf_dir))
    samples = []
    for _ in range(MEASURED_PASSES):
        t0 = time.perf_counter()
        _force(q.spark(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return (round(statistics.median(samples), 4),
            round(max(samples) - min(samples), 4))


# A query whose own passes disagree this much was measured through a
# load transient (the gate only certifies the START of the run; this
# box demonstrably gets hammered mid-run too).  Bounded retry; keep
# the retry only when its own spread is quiet.
NOISY_SPREAD_FRAC = 0.5
NOISY_SPREAD_FLOOR = 0.3


def _regate(spark) -> dict:
    """Re-run the contention gate mid-run.  r12: both of this round's
    first bench attempts started quiet and were then hit by multi-
    minute hypervisor-steal waves mid-run (dedup_simhash 21 s ± 16 s
    with a 0.79 s quiet repass); the old fixed 15 s settle could not
    outlast them, so a noisy query now waits for the same
    retry-until-quiet gate the run start uses before its re-measure."""
    return contention_gate(spark)


NOISY_MAX_RETRIES = 3


def _is_quiet(med: float, spr: float) -> bool:
    return spr <= max(NOISY_SPREAD_FRAC * med, NOISY_SPREAD_FLOOR)


def _measure(spark, queries, name: str, sf_dir: str,
             remeasured: list | None = None):
    """2 warmups + 3 measured noop-forced passes -> (median, spread).
    A noisy attempt (spread over the threshold — the passes straddled
    a load transient) earns up to NOISY_MAX_RETRIES gated retries:
    each retry waits behind the retry-until-quiet rebaseline gate
    first (r12: a single retry after a fixed settle lost to this
    box's multi-minute steal waves — the retry itself landed in the
    next wave).  The FIRST attempt whose own spread is quiet wins; if
    none is, the tightest attempt is kept and the record shows every
    attempt + the gate probes between them, so the artifact carries
    the evidence that the figure was measured through load."""
    q = queries[name]
    med, spr = _measure_once(spark, q, sf_dir, WARMUP_PASSES)
    if _is_quiet(med, spr):
        return med, spr
    attempts = [[med, spr]]
    regates = []
    kept = None
    for _ in range(NOISY_MAX_RETRIES):
        gate = _regate(spark)
        regates.append(gate["rebaseline_gate"])
        med2, spr2 = _measure_once(spark, q, sf_dir, 0)  # still warm
        attempts.append([med2, spr2])
        if _is_quiet(med2, spr2):
            kept = len(attempts) - 1
            break
    if kept is None:  # nothing quiet: keep the tightest attempt
        kept = min(range(len(attempts)), key=lambda i: attempts[i][1])
    if remeasured is not None:
        remeasured.append({"name": name,
                           "kept": f"attempt{kept}",
                           "attempts": attempts,
                           "quiet": kept is not None
                           and _is_quiet(*attempts[kept]),
                           "regates": regates})
    return tuple(attempts[kept])


def _select_movers(medians: dict, spreads: dict, prior: dict) -> list:
    """A query earns a repass when its median moved vs the prior
    committed BENCH by more than max(own spread, prior spread,
    REPASS_FLOOR_SEC).  Pure selection math, unit-tested."""
    prior_q = prior.get("queries", {})
    prior_s = prior.get("spread", {})
    movers = []
    for name in medians:
        if name not in prior_q:
            continue
        delta = abs(medians[name] - prior_q[name])
        tol = max(spreads.get(name, 0.0), prior_s.get(name, 0.0),
                  REPASS_FLOOR_SEC)
        if delta > tol:
            movers.append(name)
    return movers


def _compact_line(total: float, medians: dict, spreads: dict,
                  sf_val, contended: bool) -> dict:
    """The ONE printed JSON line: bounded contract fields only
    (metric/value/unit/queries/spread/passes/sf/contended — ~60 bytes
    per query), so the driver's tail capture can never truncate it the
    way the r11 line (with embedded retry/gate evidence) was.  All
    unbounded evidence goes to the BENCH_evidence.json sidecar."""
    return {
        "metric": "headline_query_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": medians,
        "spread": spreads,
        "passes": MEASURED_PASSES,
        "sf": sf_val,
        "contended": contended,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Opt-in scale tier (r12 verdict item 7): the sf0.1 bench is
    # fixed-overhead bound and cannot show parallelism (its 8-core
    # run BEATS the 32-core one), so each round also commits a
    # BENCH_100x artifact — this same script pointed at the 100x
    # fixture via $SPARK_GRAFT_SF_DIR with the data-volume query
    # subset selected here.  The default driver invocation (no
    # filter) is unchanged.
    headline = HEADLINE
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        want = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = [s for s in want if s not in HEADLINE]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        headline = want
    from python_minerva_etl_spark.queries.catalog import all_queries
    from python_minerva_etl_spark.session import get_spark

    # session defaults (2×cores shuffle partitions + AQE coalescing)
    # measured fastest across the headline set — narrower partition
    # counts help the small shuffles but hurt the explode-heavy dedup
    # plans more.
    # The session's 4096-entry generated-class cache holds the whole
    # headline set's stages.  Spark's default of 100 does not, and a
    # round-robin session then re-JITs plans that already ran: a 9%
    # steady-state tax on this set (26.5 -> 24.3 s/sweep, PERF.md).  A
    # scheduler session re-running the same materializations every
    # period pays it too, so the default is the product's, not a
    # bench-only override.
    spark = get_spark(app_name="minerva-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    probe_before = fs_probe()

    # Contention gate: refuse to measure on a visibly loaded box
    # (shared with the scripts/ probes — benchgate.contention_gate).
    gate = contention_gate(spark)
    rebase = gate["rebaseline_sec"]
    contended = gate["contended"]
    if len(gate["rebaseline_gate"]) > 1:
        probe_before = fs_probe()

    # Warmup + measure per query: warmups immediately followed by the
    # measured passes, so each median is that plan's steady state.
    # (With Spark's default 100-entry generated-class cache, a full
    # warmup pass followed by a full measure pass re-JITted half the
    # plans: +2.3 s on dedup_simhash alone.  The session's 4096-entry
    # cache removes that eviction in any order.)
    remeasured_noisy: list[dict] = []
    medians: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in headline:
        medians[name], spreads[name] = _measure(spark, queries, name,
                                                sf_dir, remeasured_noisy)

    # Dynamic attribution re-pass (r10 verdict item 2): re-measure,
    # LATE in the session, every query whose median moved vs the
    # previous committed BENCH by more than its own spread (either
    # round's) AND the absolute floor.  r10's static watch list
    # missed exactly the three biggest movers; selection is now
    # derived from the measurement itself.  A repass matching the
    # prior round pins the first figure to transient load; a repass
    # matching the first pass makes the move real.
    prior = _prior_bench()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    if prior.get("sf") != sf_val:
        prior = {}  # cross-sf deltas are meaningless
    movers = _select_movers(medians, spreads, prior)
    watch_repass: dict[str, float] = {}
    for name in movers:
        watch_repass[name], _ = _measure(spark, queries, name, sf_dir)
    rebase_after = _rebaseline(spark)

    total = round(sum(medians.values()), 4)
    # r12 verdict item 2: the one printed line outgrew the driver's
    # tail capture (BENCH_r11.json was truncated at the HEAD of the
    # line, nulling every prev_sec in PERF_r12).  The line now carries
    # only the bounded contract fields — metric/value/unit/queries/
    # spread/passes/sf/contended (~1.6 KB at 30 queries) — and ALL
    # unbounded evidence (gate probes, fs probes, repass medians,
    # per-attempt noisy-retry records) goes to a sidecar next to the
    # repo artifacts, committed each round as BENCH_evidence.json.
    evidence = {
        # environment self-evidence (round-6 verdict item 4): raw-fs
        # throughput bracketing the run + a fixed synthetic
        # compute-shuffle job measured in THIS session.  In-tree
        # reference figures (local[32], 128 GiB): fs write ~400-500
        # MB/s, read ~5000+ MB/s, rebaseline ~0.8-1.1 s — PERF.md.
        "fs_probe": {"before": probe_before, "after": fs_probe()},
        "rebaseline_sec": rebase,
        "rebaseline_after": rebase_after,
        # contention gate: every leading probe taken before the gate
        # opened (or gave up), plus the final verdict on the box.  A
        # BENCH with contended:true is evidence of environment, not
        # of the plans.
        "rebaseline_gate": gate["rebaseline_gate"],
        "contended": bool(contended),
        # auto-selected movers (delta vs prior BENCH > max(spread,
        # prior spread, floor)), re-measured late in the session
        "watch_repass": watch_repass,
        "repass_auto_selected": movers,
        # queries whose first 3 passes straddled a load transient
        # (excess spread) and earned the bounded settle-and-retry;
        # each record carries both attempts and which one was kept
        "remeasured_noisy": remeasured_noisy,
        "prior_bench_total": prior.get("value"),
        "total": total,
        "queries": medians,
        "spread": spreads,
        "sf": sf_val,
    }
    evidence_path = os.environ.get(
        "SPARK_GRAFT_BENCH_EVIDENCE",
        os.path.join(REPO, "BENCH_evidence.json"))
    try:
        with open(evidence_path, "w") as fh:
            json.dump(evidence, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # never fail the bench over the sidecar
        print(f"# bench: could not write {evidence_path}: {exc}",
              file=sys.stderr)
    print(json.dumps(_compact_line(total, medians, spreads, sf_val,
                                   bool(contended))))
    spark.stop()


if __name__ == "__main__":
    main()
