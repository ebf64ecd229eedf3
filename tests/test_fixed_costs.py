"""Per-call fixed costs a long-lived session pays once: the parquet
schema memo (``registry.read_parquet``), the staleness stamp it shares
with the fixture caches and bucketed layouts, and the session's
generated-class cache."""

from __future__ import annotations

import ast
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import python_minerva_etl_spark as pkg
from python_minerva_etl_spark import registry
from python_minerva_etl_spark.queries.catalog import all_queries

from .compare import diff_frames, run_oracle
from .conftest import SF_SMOKE


def _jobs_started(spark, group: str, fn):
    """Run ``fn()`` under job group ``group``: (number of Spark jobs it
    started, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "fixed-cost test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_SMOKE, "orders.parquet"), tmp_path)
    sf = str(tmp_path)

    def load():
        return registry.load_table(spark, sf, "orders")

    first, _ = _jobs_started(spark, "memo-first", load)
    assert first >= 1  # schema inference is a Spark job
    again, df = _jobs_started(spark, "memo-again", load)
    assert again == 0
    assert df.count() == pq.read_metadata(
        os.path.join(sf, "orders.parquet")).num_rows


def test_rewritten_file_with_extra_column_is_seen(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), p)
    assert registry.read_parquet(spark, p).columns == ["a"]
    assert registry.read_parquet(spark, p).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), p)
    df = registry.read_parquet(spark, p)
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]


def test_schema_conf_flip_reinfers(spark, tmp_path):
    from pyspark.sql import types as T

    p = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), p)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert isinstance(registry.read_parquet(spark, p).schema["b"]
                          .dataType, T.BinaryType)
        spark.conf.set(conf, "true")
        df = registry.read_parquet(spark, p)
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert df.collect()[0].b == "x"
    finally:
        spark.conf.set(conf, before)


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "SCHEMA_MEMO_ENTRIES", 3)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"f{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), p)
        paths.append(p)
        registry.read_parquet(spark, p)
    assert len(registry._schema_memo) == 3
    memo_files = {f for key in registry._schema_memo for f, *_ in key[2]}
    assert memo_files == set(paths[2:])  # least recently used went first


def test_bucketed_layout_follows_fixture_rewrite(spark, tmp_path):
    """A fixture rewritten in place is served a new bucketed layout,
    not the one built from the old file."""
    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    q = all_queries()["join_inner_bucketed"]
    before = {t.name for t in spark.catalog.listTables()}
    try:
        for rewrite in (False, True):
            if rewrite:
                p = os.path.join(sf, "orders.parquet")
                tbl = pq.read_table(p)
                pq.write_table(tbl.slice(0, tbl.num_rows // 2), p)
            problems = diff_frames(q.spark(spark, sf).toPandas(),
                                   run_oracle(q.oracle, sf))
            assert not problems, (rewrite, problems)
    finally:
        for t in spark.catalog.listTables():
            if t.name not in before:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_trend_workload_second_pass_compiles_nothing(spark):
    """The session's generated-class cache holds the whole trend
    workload, so a round-robin scheduler's second period recompiles
    none of its plans."""
    from perfbench.workloads import WORKLOADS

    queries = all_queries()
    counter = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME())

    def one_pass():
        for name in WORKLOADS["trend"].queries:
            (queries[name].spark(spark, SF_SMOKE).write.format("noop")
             .mode("overwrite").save())

    one_pass()
    compiled = counter.getCount()
    one_pass()
    assert counter.getCount() == compiled


_READ_MODULES = ("registry.py", os.path.join("storage", "snaptable.py"))


def _parquet_read_offenders(tree: ast.AST) -> list[int]:
    """Lines outside ``read_parquet`` that set ``mergeSchema`` or call
    ``….read….parquet(``."""
    skip = {id(n) for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "read_parquet"
            for n in ast.walk(f)}
    out = set()
    for node in ast.walk(tree):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Constant) and node.value == "mergeSchema":
            out.add(node.lineno)
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and any(isinstance(n, ast.Attribute) and n.attr == "read"
                        for n in ast.walk(node.func.value))):
            out.add(node.lineno)
    return sorted(out)


@pytest.mark.parametrize("rel", _READ_MODULES)
def test_parquet_reads_only_through_read_parquet(rel):
    """Table and SnapTable data reads go through the schema memo, so a
    second uncached reader cannot fork off again."""
    path = os.path.join(os.path.dirname(pkg.__file__), rel)
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    offenders = _parquet_read_offenders(tree)
    assert not offenders, (rel, offenders)


def test_avro_split_table_is_built_from_arrow():
    """``sources/avro.py`` builds DataFrames only from an in-place
    pyarrow table: a list, tuple or comprehension (or a name bound to
    one) would run a Python RDD job per read."""
    path = os.path.join(os.path.dirname(pkg.__file__), "sources", "avro.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    offenders = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            continue
        arg = node.args[0] if node.args else None
        if not (isinstance(arg, ast.Call)
                and isinstance(arg.func, ast.Attribute)
                and arg.func.attr == "table"):
            offenders.append(node.lineno)
    assert not offenders, offenders
