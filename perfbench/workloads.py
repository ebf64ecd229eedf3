"""The benchmark's workloads and what each should exercise.

Every workload is a fixed list of declared queries (see
``python_minerva_etl_spark/queries/catalog.py``) run over the fixture
tables of :mod:`perfbench.fixture`.  Why each was chosen is in
``BENCHMARK.json`` and ``perfbench/README.md``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# fixture tables the trend workload reads
TREND_TABLES = ["nation", "customer", "orders", "lineitem", "events"]

# trend-store reads: small inputs, so per-call fixed costs dominate
TREND_READS = ("agg_time_1h", "rollup_entity", "join_asof",
               "trigger_threshold", "topk_worst")
# the periodic-batch write path: Avro decode, then two SnapTable MERGE
# commits, the change feed between them and the CDC-maintained rollup
TREND_LOADS = ("avro_ingest", "cdc_incremental_agg")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    sf: float                     # scale factor of the fixture read
    # replicas of the fixture's documents in the generated corpus; 0
    # reads the fixture's trend tables in place instead
    corpus_replicas: int = 0
    # queries re-checked after the measured loop (stale-state guard)
    end_checks: tuple[str, ...] = ()
    # layer -> True (must record spans) / False (must record none)
    coverage: dict[str, bool] = field(default_factory=dict)


WORKLOADS = {w.name: w for w in (
    Workload(
        name="trend",
        queries=TREND_READS + TREND_LOADS,
        sf=0.01,
        end_checks=TREND_LOADS,
        coverage={"registry": True, "plans.footer_stats": True,
                  "sources.avro": True, "storage.snaptable": True,
                  "ext.text_arrow": False}),
    Workload(
        name="corpus_scale",
        # the two text-kernel crossover entry points, text_counts_arrow
        # and c4_rules_kernel
        queries=("text_quality_score", "text_c4_rules"),
        sf=0.1,
        corpus_replicas=12,
        coverage={"registry": True, "ext.text_arrow": True,
                  "plans.footer_stats": False,
                  "storage.snaptable": False, "sources.avro": False}),
)}
