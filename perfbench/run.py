#!/usr/bin/env python3
"""Run one benchmark workload and print its result as a JSON line.

    python3 perfbench/run.py --workload trend --seed 1 \
        --seconds 10 --trace 0

One client, one closed loop: each cycle runs every query of the workload
once, in a seed-permuted order, and each call is forced with a ``noop``
write.  Set-up starts the session with ``session.get_spark()`` defaults
on ``local[N]`` (N = usable cores), generates the seeded corpus where
the workload has one and checks every query once against its DuckDB
oracle, which also warms the session; the load queries are checked
again after the measured loop.  With ``--trace 1`` cycles alternate
between traced and untraced, and the per-layer metrics replace the
end-to-end ones.

The last line of standard output is
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``.
A fuller record (environment stamp, per-query latencies) is appended
to ``.perfbench/results.jsonl``; traced runs write their spans under
``.perfbench/trace/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "python_minerva_etl_spark"

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.workloads import TREND_TABLES, WORKLOADS  # noqa: E402

# measured cycles per run at least, however short --seconds is
MIN_CYCLES = 3
# how far above the text-kernel crossover the corpus must be
MIN_CROSSOVER_RATIO = 1.2

E2E_UNITS = {"setup_s": "s", "cycle_cpu_s": "s",
             "input_rows_per_cpu_s": "1/s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the fixture scale read (tests: 0.001)")
    p.add_argument("--replicas", type=int, default=None,
                   help="override the corpus replica count")
    p.add_argument("--results", default=os.path.join(WORK, "results.jsonl"))
    return p.parse_args(argv)


def prepare_environment() -> int:
    """Point Spark, its Python workers and temp files at this checkout;
    return the core count the session uses."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: no {PACKAGE} package under {ROOT}")
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    return cores


def commit_id() -> str | None:
    """The git commit of the checkout, or None outside git."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def stamp(args, cores: int, tables: dict[str, str], params: dict) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "params": params,
        "cores": cores, "master": f"local[{cores}]",
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "duckdb": duckdb.__version__, "commit": commit_id(),
        # a checkout's mtimes are its own, and the corpus is regenerated
        # every run, so content digests stand in for mtimes
        "fixture": [{"path": os.path.relpath(p, ROOT),
                     "size": os.path.getsize(p), "sha256": file_digest(p)}
                    for _, p in sorted(tables.items())],
    }


def force(df) -> None:
    """Run the plan to completion, materializing every output column."""
    df.write.format("noop").mode("overwrite").save()


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process
    under it: the JVM and its Python workers.  A process's reaped
    children count too, so a worker that exits mid-call is not lost."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(f) for f in fields[11:15]) / tick
    ours = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in ours and pid not in ours:
                ours.add(pid)
                grew = True
    return sum(cpu[p] for p in ours if p in cpu)


class TableRecorder:
    """Records which registry tables a call loads (set-up only)."""

    def __init__(self):
        self.seen: set[str] = set()
        self._patches = []

    def __enter__(self):
        import python_minerva_etl_spark.queries.base as qbase
        from python_minerva_etl_spark import registry
        for owner in (registry, qbase):
            orig = owner.load_table

            def rec(spark, sf_dir, name, _orig=orig):
                self.seen.add(name)
                return _orig(spark, sf_dir, name)

            owner.load_table = rec
            self._patches.append((owner, orig))
        return self

    def __exit__(self, *exc):
        for owner, orig in self._patches:
            owner.load_table = orig


class Bench:
    def __init__(self, args):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.oracles: dict = {}
        self._pool = None
        self.check_times: list[tuple] = []
        # --sf and --replicas shrink a workload for smoke tests; the
        # crossover and kernel-side checks hold only at the default size
        self.default_size = args.sf is None and args.replicas is None
        self.sf = args.sf or self.w.sf
        self.replicas = args.replicas or self.w.corpus_replicas
        self.corpus = os.path.join(WORK, "data", args.workload)
        self.data = None              # the directory the queries read

    # ------------------------------------------------------------ set-up

    def make_inputs(self) -> dict[str, str]:
        from perfbench import fixture
        sf_dir = fixture.fixture_dir(self.sf)
        if not self.replicas:
            self.data = sf_dir
            return fixture.fixture_tables(sf_dir, TREND_TABLES)
        shutil.rmtree(self.corpus, ignore_errors=True)
        self.data = self.corpus
        return {"documents": fixture.write_corpus(
            self.corpus, self.args.seed, sf_dir, self.replicas)}

    def check_corpus_size(self) -> dict:
        """The corpus must sit ``MIN_CROSSOVER_RATIO`` times above the
        text-kernel crossover by the program's own estimate, unless its
        size was overridden."""
        from python_minerva_etl_spark.ext import text_arrow
        from python_minerva_etl_spark.registry import load_table
        size = text_arrow._estimated_input_bytes(
            load_table(self.spark, self.data, "documents"))
        ratio = size / text_arrow.TEXT_KERNEL_MIN_INPUT_BYTES
        if self.default_size and ratio < MIN_CROSSOVER_RATIO:
            self.problems.append(
                f"corpus {size} B is {ratio:.2f}x the kernel crossover, "
                f"below {MIN_CROSSOVER_RATIO}x")
        return {"corpus_bytes": size, "crossover_ratio": ratio}

    def start_oracles(self) -> None:
        """Start the DuckDB oracles in a background thread, so they run
        while Spark makes its first pass; the inputs never change during
        a run, so the end-of-run checks reuse them."""
        from concurrent.futures import ThreadPoolExecutor

        from perfbench.oracle import oracle_hash
        self._pool = ThreadPoolExecutor(max_workers=1)
        self.oracles = {
            n: self._pool.submit(oracle_hash, self.queries[n].oracle,
                                 self.data)
            for n in self.w.queries}

    def run_check(self, name: str) -> None:
        """Run one query and check its collected result against its
        DuckDB oracle."""
        from perfbench.oracle import result_hash
        q = self.queries[name]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = result_hash(q.spark(self.spark, self.data).toPandas())
            want = self.oracles[name].result()
            ok = got == want and got[0] > 0
        except Exception:
            traceback.print_exc()
            ok, got, want = False, None, None
        self.check_times.append((name, time.perf_counter() - t0))
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: result {got} != {want}")

    def setup(self) -> dict:
        from python_minerva_etl_spark.queries.catalog import all_queries
        from python_minerva_etl_spark.session import get_spark
        self.tables = self.make_inputs()
        self.queries = all_queries()
        self.start_oracles()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        info = {"inputs_s": t0 - T_START,
                "session_s": time.perf_counter() - t0}
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.replicas:
            info.update(self.check_corpus_size())
        self.reads: dict[str, list[str]] = {}
        for name in self.w.queries:
            with TableRecorder() as rec:
                self.run_check(name)
            self.reads[name] = sorted(rec.seen)
        import pyarrow.parquet as pq
        self.rows = {t: pq.ParquetFile(p).metadata.num_rows
                     for t, p in self.tables.items()}
        self.call_rows = {n: sum(self.rows.get(t, 0) for t in ts)
                          for n, ts in self.reads.items()}
        info["reads"] = self.reads
        return info

    # --------------------------------------------------------- measuring

    def call(self, name: str, tracer=None, call_stats=None,
             call_id: int = 0):
        """One closed-loop call; returns (latency, stats or None)."""
        q = self.queries[name]
        self.attempted += 1
        try:
            if tracer is None:
                t0 = time.perf_counter()
                force(q.spark(self.spark, self.data))
                return time.perf_counter() - t0, None
            tracer.call_id = call_id
            mark = call_stats.begin(f"call-{call_id}")
            t0 = time.perf_counter()
            with tracer.span("queries.build", "queries"):
                df = q.spark(self.spark, self.data)
            with tracer.span("spark.plan", "spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute", "spark.execute"):
                force(df)
            lat = time.perf_counter() - t0
            return lat, call_stats.end(mark)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"{name}: raised")
            return None, None

    def measure(self, rng, seconds=0.0, min_cycles=1, tracer=None):
        """Run cycles until ``seconds`` have passed, at least
        ``min_cycles`` of them.  With a tracer, traced and untraced
        cycles take turns, so the tracing overhead compares like
        cycles."""
        deadline = time.perf_counter() + seconds
        cycles, calls = [], []
        layer_stats: dict[str, float] = {}
        n = 0
        while n < min_cycles or time.perf_counter() < deadline:
            traced = tracer is not None and n % 2 == 0
            if tracer is not None:
                tracer.enabled = traced
            order = list(self.w.queries)
            rng.shuffle(order)
            c0, cpu0 = time.perf_counter(), tree_cpu_s()
            for name in order:
                lat, st = self.call(
                    name, tracer if traced else None,
                    self.call_stats if traced else None,
                    call_id=len(calls))
                calls.append({"query": name, "latency": lat,
                              "traced": traced, "cycle": n})
                for k, v in (st or {}).items():
                    layer_stats[k] = layer_stats.get(k, 0.0) + v
            cycles.append({"seconds": time.perf_counter() - c0,
                           "cpu_s": tree_cpu_s() - cpu0,
                           "traced": traced})
            n += 1
        if tracer is not None:
            tracer.enabled = False
        return cycles, calls, layer_stats

    # ----------------------------------------------------------- metrics

    def wall_times(self, cycles, calls) -> dict:
        """Wall-clock figures of the untraced cycles and their calls."""
        off = [c["seconds"] for c in cycles if not c["traced"]]
        done = [c for c in calls
                if c["latency"] is not None and not c["traced"]]
        rows = sum(self.call_rows.get(c["query"], 0) for c in done)
        return {
            "wall.cycle_s": stats.median(off),
            "wall.query_latency_p50_s": stats.median(
                [c["latency"] for c in done]),
            "wall.input_rows_per_s": rows / sum(off),
        }

    def end_to_end(self, setup_s, cycles, calls):
        done = [c for c in calls if c["latency"] is not None]
        rows = sum(self.call_rows.get(c["query"], 0) for c in done)
        values = {
            "setup_s": setup_s,
            "cycle_cpu_s": stats.median([c["cpu_s"] for c in cycles]),
            "input_rows_per_cpu_s":
                rows / sum(c["cpu_s"] for c in cycles),
        }
        return {k: {"value": v, "unit": E2E_UNITS[k]}
                for k, v in values.items()}

    def per_layer(self, tracer, cycles, calls, layer_stats, peak_mb):
        from perfbench.trace import layer_totals
        traced_calls = [c for c in calls if c["traced"]]
        n_cyc = max(1, sum(1 for c in cycles if c["traced"]))
        on = [c["seconds"] for c in cycles if c["traced"]]
        off = [c["seconds"] for c in cycles if not c["traced"]]
        tot = layer_totals(tracer.spans)
        cnt = tracer.counters

        def layer(name, key):
            return tot.get(name, {}).get(key, 0.0)

        def named(name):
            return tot.get(f"name:{name}", {}).get("busy_s", 0.0)

        wall = sum(c["latency"] or 0.0 for c in traced_calls)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        merged_in = cnt["storage.snaptable.batch_rows"]
        ev_rows = self.rows.get("events", 0)
        ev_bytes = (os.path.getsize(self.tables["events"])
                    if "events" in self.tables else 0)
        in_bytes = ev_bytes * merged_in / ev_rows if ev_rows else 0.0

        def ratio(a, b):
            return a / b if b else 0.0

        per_cycle = {
            "registry.load_table.calls": layer("registry", "calls"),
            "registry.load_table.busy_s": layer("registry", "busy_s"),
            "registry.files_discovered":
                layer_stats.get("registry.files_discovered", 0.0),
            "queries.build_self_s": layer("queries", "self_s"),
            "spark.plan_s": layer("spark.plan", "busy_s"),
            "spark.codegen.compilations":
                layer_stats.get("spark.codegen.compilations", 0.0),
            "spark.execute_s": layer("spark.execute", "busy_s"),
            "ext.text_arrow.kernel_calls":
                cnt["ext.text_arrow.kernel_calls"],
            "ext.text_arrow.jvm_calls": cnt["ext.text_arrow.jvm_calls"],
            "ext.python_stage_run_s":
                layer_stats.get("ext.python_stage_run_s", 0.0),
            "plans.footer_stats.calls":
                layer("plans.footer_stats", "calls"),
            "plans.footer_stats.busy_s":
                layer("plans.footer_stats", "busy_s"),
            "sources.avro.read_avro.busy_s":
                named("sources.avro.read_avro"),
            "sources.avro.splits": cnt["sources.avro.splits"],
            "storage.snaptable.merge.busy_s":
                named("storage.snaptable.merge"),
            "storage.snaptable.changes.busy_s":
                named("storage.snaptable.changes"),
            "storage.snaptable.read.busy_s":
                named("storage.snaptable.read"),
            "storage.snaptable.files_written":
                cnt["storage.snaptable.files_written"],
            "storage.snaptable.bytes_written":
                cnt["storage.snaptable.bytes_written"],
            "storage.snaptable.commit_retries":
                cnt["storage.snaptable.commit_retries"],
        }
        for key in ("spark.tasks", "spark.executor_run_s",
                    "spark.executor_cpu_s", "spark.shuffle_write_bytes",
                    "spark.shuffle_read_bytes", "spark.spill_bytes",
                    "spark.gc_s"):
            per_cycle[key] = layer_stats.get(key, 0.0)
        values = {k: v / n_cyc for k, v in per_cycle.items()}
        values.update({
            "registry.load_table.busy_frac":
                ratio(layer("registry", "busy_s"), sum(on)),
            "spark.core_busy_frac": ratio(
                layer_stats.get("spark.executor_run_s", 0.0),
                wall * cores),
            "storage.snaptable.files_touched_frac": ratio(
                cnt["storage.snaptable.files_rewritten"],
                cnt["storage.snaptable.files_live"]),
            "storage.snaptable.rewrite_useful_frac": ratio(
                merged_in, cnt["storage.snaptable.rows_written"]),
            "storage.snaptable.write_amplification": ratio(
                cnt["storage.snaptable.bytes_written"], in_bytes),
            "trace.overhead_frac":
                stats.median(on) / stats.median(off) - 1.0,
            "process.peak_rss_mb": peak_mb,
            **self.wall_times(cycles, calls),
        })
        self.check_coverage(tot, cnt)
        return {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                for k, v in values.items()}

    def check_coverage(self, tot, cnt):
        """Every wrapped boundary records spans where the workload should
        cross it and none where it should not."""
        for layer, expect in self.w.coverage.items():
            seen = tot.get(layer, {}).get("calls", 0)
            if bool(seen) != expect:
                self.problems.append(
                    f"coverage: {layer} recorded {seen} spans, expected "
                    f"{'some' if expect else 'none'}")
        if self.replicas and self.default_size \
                and cnt["ext.text_arrow.jvm_calls"]:
            self.problems.append(
                "coverage: a text-kernel call took the JVM side")

    # -------------------------------------------------------------- main

    def run(self) -> dict:
        args = self.args
        cores = prepare_environment()
        info = self.setup()
        rng = random.Random(args.seed)
        # a warm cycle, part of set-up, so no measured call is a query's
        # second run; then at least MIN_CYCLES measured cycles, whose
        # median is the cycle figure
        self.measure(rng)
        tracer = None
        if args.trace:
            from perfbench.trace import CallStats, Tracer
            tracer = Tracer()
            tracer.install()
            self.call_stats = CallStats(self.spark)
        setup_s = time.perf_counter() - T_START
        cycles, calls, layer_stats = self.measure(
            rng, args.seconds, MIN_CYCLES, tracer)
        if tracer is not None:
            tracer.uninstall()
        for name in self.w.end_checks:
            self.run_check(name)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        if tracer is None:
            metrics = self.end_to_end(setup_s, cycles, calls)
        else:
            metrics = self.per_layer(tracer, cycles, calls, layer_stats,
                                     peak_mb)
            tracer.write(os.path.join(
                WORK, "trace", f"{args.workload}-seed{args.seed}.jsonl"))
        result = {"correct": not self.problems and self.failed == 0,
                  "attempted": self.attempted, "failed": self.failed,
                  "metrics": metrics}
        params = {"sf": self.sf, "replicas": self.replicas}
        lat = [c["latency"] for c in calls if c["latency"] is not None]
        tail = stats.reportable_percentile(len(lat))
        record = {"stamp": stamp(args, cores, self.tables, params),
                  "result": result, "problems": self.problems,
                  "peak_rss_mb": peak_mb,
                  "wall": self.wall_times(cycles, calls),
                  "latency_tail": {
                      "samples": len(lat), "percentile": tail,
                      "seconds": tail and stats.percentile(lat, tail)},
                  "setup": info, "checks": self.check_times,
                  "cycles": cycles, "calls": calls}
        os.makedirs(os.path.dirname(args.results), exist_ok=True)
        with open(args.results, "a") as fh:
            fh.write(json.dumps(record) + "\n")
        for p in self.problems:
            print(f"perfbench: {p}", file=sys.stderr)
        return result

    def close(self):
        """Stop Spark and its JVM, wait for them, remove the inputs."""
        if self._pool is not None:
            self._pool.shutdown(wait=True, cancel_futures=True)
        spark = getattr(self, "spark", None)
        if spark is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            spark.stop()
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        if self.data is not None:
            from python_minerva_etl_spark.queries.trend import _scratch_tag
            tag = _scratch_tag(self.data)
            scratch = os.path.join(ROOT, ".scratch")
            if os.path.isdir(scratch):
                for d in os.listdir(scratch):
                    if d.endswith(f"_{tag}"):
                        shutil.rmtree(os.path.join(scratch, d),
                                      ignore_errors=True)
        shutil.rmtree(self.corpus, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)


PER_LAYER_UNITS = {
    "registry.load_table.calls": "count",
    "registry.load_table.busy_s": "s",
    "registry.load_table.busy_frac": "ratio",
    "registry.files_discovered": "count",
    "queries.build_self_s": "s",
    "spark.plan_s": "s",
    "spark.codegen.compilations": "count",
    "spark.execute_s": "s",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "ext.text_arrow.kernel_calls": "count",
    "ext.text_arrow.jvm_calls": "count",
    "ext.python_stage_run_s": "s",
    "plans.footer_stats.calls": "count",
    "plans.footer_stats.busy_s": "s",
    "sources.avro.read_avro.busy_s": "s",
    "sources.avro.splits": "count",
    "storage.snaptable.merge.busy_s": "s",
    "storage.snaptable.changes.busy_s": "s",
    "storage.snaptable.read.busy_s": "s",
    "storage.snaptable.files_written": "count",
    "storage.snaptable.bytes_written": "B",
    "storage.snaptable.files_touched_frac": "ratio",
    "storage.snaptable.rewrite_useful_frac": "ratio",
    "storage.snaptable.commit_retries": "count",
    "storage.snaptable.write_amplification": "ratio",
    "trace.overhead_frac": "ratio",
    "process.peak_rss_mb": "MB",
    "wall.cycle_s": "s",
    "wall.query_latency_p50_s": "s",
    "wall.input_rows_per_s": "1/s",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = Bench(args)
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
