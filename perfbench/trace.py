"""Spans around the calls the benchmark makes into each layer.

``Tracer.install`` wraps the public functions of each layer's module
(and the names other modules bound to them at import time) from the
outside; nothing in the program changes.  Spans are kept in memory and
written out once at the end of the run.  ``CallStats`` reads Spark's
own counters (status store, codegen and file-listing metrics) around
one query call.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time
from collections import defaultdict

# Physical/logical plan nodes that run Python code in a worker.
PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "AggregateInPandas", "PythonMapInArrow")
_PY_NODE_RE = re.compile("|".join(PYTHON_NODES))

# ext.text_arrow entry points that choose a side of the text-kernel
# crossover; corpus_scale calls both.
TEXT_KERNEL_ENTRIES = ("text_counts_arrow", "c4_rules_kernel")


def runs_python(df) -> bool:
    """Whether ``df``'s plan contains a Python worker node."""
    return bool(_PY_NODE_RE.search(
        df._jdf.queryExecution().logical().toString()))


class Tracer:
    """Span recorder.  Spans of one query call share ``call_id``."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.enabled = False
        self.call_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans) + len(self._stack)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "parent": parent, "call": self.call_id,
               "name": name, "layer": layer}
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None,
             after=None):
        """Replace ``owner.attr`` with a spanned wrapper.  ``after(rec,
        args, result)`` runs outside the span to attach annotations."""
        orig = getattr(owner, attr)
        name = name or f"{layer}.{attr}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, layer) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def uninstall(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self):
        """Wrap every layer boundary the workloads cross."""
        import python_minerva_etl_spark.queries.base as qbase
        import python_minerva_etl_spark.queries.trend as qtrend
        from python_minerva_etl_spark import registry
        from python_minerva_etl_spark.ext import text_arrow
        from python_minerva_etl_spark.plans import footer_stats
        from python_minerva_etl_spark.sources import avro
        from python_minerva_etl_spark.storage.snaptable import SnapTable

        # queries.base binds load_table by name: wrap both bindings
        self.wrap(registry, "load_table", "registry")
        self.wrap(qbase, "load_table", "registry",
                  name="registry.load_table")
        for fn in ("table_minmax", "table_max", "ts_midpoint_day"):
            self.wrap(footer_stats, fn, "plans.footer_stats")
        for fn in ("table_max", "ts_midpoint_day"):
            self.wrap(qtrend, fn, "plans.footer_stats",
                      name=f"plans.footer_stats.{fn}")
        self.wrap(avro, "read_avro", "sources.avro")
        self.wrap(avro, "write_avro", "sources.avro")
        self.wrap(avro, "plan_splits", "sources.avro",
                  after=lambda rec, a, out: self._count(
                      "sources.avro.splits", len(out)))
        for fn in TEXT_KERNEL_ENTRIES:
            self.wrap(text_arrow, fn, "ext.text_arrow",
                      after=self._kernel_side)
        self.wrap(SnapTable, "read", "storage.snaptable",
                  name="storage.snaptable.read")
        self.wrap(SnapTable, "changes", "storage.snaptable",
                  name="storage.snaptable.changes")
        self._wrap_merge(SnapTable)
        self._wrap_publish(SnapTable)

    def _count(self, key: str, n: float = 1):
        self.counters[key] += n

    def _kernel_side(self, rec, args, out):
        side = "kernel" if runs_python(out) else "jvm"
        rec["side"] = side
        self._count(f"ext.text_arrow.{side}_calls")

    def _wrap_merge(self, cls):
        """SnapTable.merge, with the files, bytes and rows it wrote read
        from the manifests before and after the commit."""
        orig = cls.merge
        tracer = self

        @functools.wraps(orig)
        def merge(tbl, spark, batch, key, seq_col, *args, **kwargs):
            if not tracer.enabled:
                return orig(tbl, spark, batch, key, seq_col, *args,
                            **kwargs)
            base_v = tbl.latest_version()
            base = {e["path"] for e in tbl.files(base_v)} \
                if base_v is not None else set()
            sc = spark.sparkContext
            sc.setJobGroup("perfbench-aux", "trace: merge batch size")
            batch_rows = batch.count()
            sc.setJobGroup(f"call-{tracer.call_id}", "perfbench call")
            with tracer.span("storage.snaptable.merge",
                             "storage.snaptable"):
                out = orig(tbl, spark, batch, key, seq_col, *args,
                           **kwargs)
            new_v = tbl.latest_version()
            files = tbl.files(new_v)
            live = {e["path"] for e in files}
            new = [e for e in files if e["path"] not in base]
            mdir = os.path.join(tbl.path, "_manifests")
            manifest_bytes = sum(
                os.path.getsize(os.path.join(mdir, f"v{v:08d}.json"))
                for v in tbl.versions()
                if base_v is None or v > base_v)
            rows = sum(e["rows"] for e in new)
            tracer._count("storage.snaptable.merges")
            tracer._count("storage.snaptable.files_written", len(new))
            tracer._count("storage.snaptable.bytes_written",
                          sum(e["bytes"] for e in new) + manifest_bytes)
            tracer._count("storage.snaptable.rows_written", rows)
            tracer._count("storage.snaptable.batch_rows", batch_rows)
            if base:
                tracer._count("storage.snaptable.files_live", len(base))
                tracer._count("storage.snaptable.files_rewritten",
                              len(base - live))
            return out

        cls.merge = merge
        self._patches.append((cls, "merge", orig))

    def _wrap_publish(self, cls):
        orig = cls._publish
        tracer = self

        @functools.wraps(orig)
        def publish(tbl, manifest, version):
            ok = orig(tbl, manifest, version)
            if tracer.enabled and not ok:
                tracer._count("storage.snaptable.commit_retries")
            return ok

        cls._publish = publish
        self._patches.append((cls, "_publish", orig))

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                fh.write(json.dumps(s) + "\n")


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: ``calls`` and ``busy_s`` of the spans that enter it
    (their parent is in another layer or absent), and ``self_s``, the
    time spent in the layer minus its child spans."""
    by_id = {s["id"]: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
    per_name: dict[str, dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "busy_s": 0.0})
    for s in spans:
        dur = s["end"] - s["start"]
        t = out[s["layer"]]
        t["self_s"] += dur - child_time[s["id"]]
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != s["layer"]:
            t["calls"] += 1
            t["busy_s"] += dur
            per_name[s["name"]]["calls"] += 1
            per_name[s["name"]]["busy_s"] += dur
    out.update({f"name:{k}": v for k, v in per_name.items()})
    return dict(out)


# SparkPlanGraph metric strings look like "7.1 s" or
# "total (min, med, max (stageId: taskId))\n7.1 s (1.2 s, ...)".
_TIME_RE = re.compile(r"([0-9.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_timing(text: str) -> float:
    """Total seconds from a Spark SQL timing metric string."""
    body = text.split("\n", 1)[-1]
    m = _TIME_RE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class CallStats:
    """Spark-side counters diffed around one query call."""

    STAGE_FIELDS = {
        "spark.tasks": ("numCompleteTasks", 1),
        "spark.executor_run_s": ("executorRunTime", 1e-3),
        "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
        "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
        "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
        "spark.gc_s": ("jvmGcTime", 1e-3),
    }

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._jsc = self.sc._jsc.sc()
        self._codegen = (jvm.org.apache.spark.metrics.source
                         .CodegenMetrics.METRIC_COMPILATION_TIME())
        self._files = (jvm.org.apache.spark.metrics.source
                       .HiveCatalogMetrics.METRIC_FILES_DISCOVERED())
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._store = self._jsc.statusStore()

    def _flush(self):
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        tail = self._sql.executionsList(int(n) - 1, 1)
        return tail.apply(0).executionId() if tail.size() else -1

    def begin(self, group: str) -> dict:
        self._flush()
        self.sc.setJobGroup(group, "perfbench call")
        return {"group": group,
                "codegen": self._codegen.getCount(),
                "files": self._files.getCount(),
                "exec_id": self._last_execution_id()}

    def end(self, mark: dict) -> dict[str, float]:
        self._flush()
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        out["spark.spill_bytes"] = 0.0
        tracker = self.sc.statusTracker()
        for job in tracker.getJobIdsForGroup(mark["group"]):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            for stage in info.stageIds:
                sd = self._store.lastStageAttempt(int(stage))
                for key, (field, scale) in self.STAGE_FIELDS.items():
                    out[key] += getattr(sd, field)() * scale
                out["spark.spill_bytes"] += (sd.memoryBytesSpilled()
                                             + sd.diskBytesSpilled())
        out["spark.codegen.compilations"] = float(
            self._codegen.getCount() - mark["codegen"])
        out["registry.files_discovered"] = float(
            self._files.getCount() - mark["files"])
        out["ext.python_stage_run_s"] = self._python_run_s(mark["exec_id"])
        return out

    def _python_run_s(self, after_id: int) -> float:
        """Python worker run time of the SQL executions after
        ``after_id``, from their plan-graph metrics."""
        n = int(self._sql.executionsCount())
        k = min(n, 256)
        execs = self._sql.executionsList(n - k, k)
        total = 0.0
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= after_id:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            it = nodes.iterator()
            while it.hasNext():
                node = it.next()
                if not _PY_NODE_RE.search(node.name()):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() != "time to run Python workers":
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        total += parse_timing(v.get())
        return total
