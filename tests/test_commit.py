"""The commit core the table formats share (storage/commit.py): the
put-if-absent publish, the one retry bound, the Hive path codec, the
atomic Delta checkpoint, and a guard that keeps each mechanism in
that one module."""

from __future__ import annotations

import ast
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

import python_minerva_etl_spark as pkg
from python_minerva_etl_spark.storage.commit import (COMMIT_ATTEMPTS,
                                                     hive_segment,
                                                     hive_values,
                                                     publish_if_absent)


def test_publish_if_absent_has_exactly_one_winner(tmp_path):
    final = str(tmp_path / "v00000001.json")
    start = threading.Barrier(16)

    def race(i):
        start.wait(timeout=30)
        return publish_if_absent(final, f"writer {i}")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            won = list(pool.map(race, range(16), timeout=60))
    finally:
        sys.setswitchinterval(switch)
    assert won.count(True) == 1
    with open(final) as fh:
        assert fh.read() == f"writer {won.index(True)}"
    assert os.listdir(tmp_path) == ["v00000001.json"]  # no temp left


@pytest.mark.parametrize("value", [
    None, "plain", "a=b", "x/y", "50%", "a b", "ünïcødé", "=/% é/="])
def test_hive_segment_round_trips(value):
    seg = hive_segment("c", value)
    assert "/" not in seg
    assert hive_values(seg) == {"c": value}
    assert hive_values(f"{seg}/{hive_segment('d', 'v')}") == {
        "c": value, "d": "v"}


def test_hive_values_reads_spark_names_and_rejects_others():
    assert hive_values("k=a%3Db") == {"k": "a=b"}
    assert hive_values("k=a b/j=__HIVE_DEFAULT_PARTITION__") == {
        "k": "a b", "j": None}
    assert hive_values(".") == {}
    assert hive_values("_temporary") is None
    assert hive_values("k=1/plain") is None
    assert hive_values("k=1/k=2") is None


def test_refused_partition_value_leaves_nothing_staged(spark, tmp_path):
    """A staged part whose destination is refused (an Iceberg null
    partition value) moves no part and removes the staging dir."""
    from python_minerva_etl_spark.storage.iceberg_write import write_iceberg

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame([(1, "a")],
                                               "day int, v string"),
                  p, partition_by="day")

    def files():
        return sorted(os.path.relpath(os.path.join(d, n), p)
                      for d, _, names in os.walk(p) for n in names)

    before = files()
    with pytest.raises(ValueError, match="null value in partition"):
        write_iceberg(spark, spark.createDataFrame(
            [(2, "b"), (None, "x")], "day int, v string"), p,
            partition_by="day")
    assert files() == before
    assert sorted(os.listdir(p)) == ["data", "metadata"]


def test_snaptable_append_gives_up_after_commit_attempts(
        spark, tmp_path, monkeypatch):
    """A writer that keeps losing the version race raises instead of
    spinning; the hook's own bound turns a retry-forever into a
    failure rather than a hang."""
    from python_minerva_etl_spark.storage.snaptable import (CommitConflict,
                                                            SnapTable)

    calls = []

    def always_lose(self, manifest, version):
        calls.append(version)
        if len(calls) > 100:
            raise AssertionError("append retried without bound")
        return False

    monkeypatch.setattr(SnapTable, "_publish", always_lose)
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    with pytest.raises(CommitConflict, match="lost the commit race"):
        SnapTable(str(tmp_path / "t")).append(spark, df, ["k"])
    assert len(calls) == COMMIT_ATTEMPTS


def test_torn_delta_checkpoint_write_leaves_table_readable(
        spark, tmp_path, monkeypatch):
    """A checkpoint writer that dies mid-file must not leave a torn
    ``<v>.checkpoint.parquet`` that every later read trusts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import (read_delta,
                                                        write_delta)

    p = str(tmp_path / "t")
    for i in range(10):  # versions 0-9; version 10 checkpoints
        write_delta(spark, spark.createDataFrame([(i,)], "id long"), p)
    write_table = pq.write_table

    def torn(table, where, *args, **kwargs):
        buf = pa.BufferOutputStream()
        write_table(table, buf, *args, **kwargs)
        data = buf.getvalue().to_pybytes()
        if isinstance(where, str):
            with open(where, "wb") as fh:
                fh.write(data[:len(data) // 2])
        else:
            where.write(data[:len(data) // 2])
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn)
    with pytest.raises(OSError, match="disk full"):
        write_delta(spark, spark.createDataFrame([(10,)], "id long"), p)
    monkeypatch.undo()
    rows = sorted(r.id for r in read_delta(spark, p).collect())
    assert rows == list(range(11))
    assert not [n for n in os.listdir(os.path.join(p, "_delta_log"))
                if n.startswith(".")]


def test_commit_mechanisms_live_only_in_commit_module():
    """Put-if-absent publishing, the staging directory, the Hive null
    marker and the Hive percent codec exist once, in
    storage/commit.py, and no caller can set its own retry bound."""
    root = os.path.dirname(pkg.__file__)
    home = os.path.join("storage", "commit.py")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                src = fh.read()
            if "max_commit_attempts" in src:
                offenders.append(f"{rel}: max_commit_attempts")
            if rel == home or rel.split(os.sep)[0] not in ("storage",
                                                           "streaming"):
                continue
            for node in ast.walk(ast.parse(src, path)):
                where = f"{rel}:{getattr(node, 'lineno', 0)}"
                if (isinstance(node, ast.Attribute) and node.attr == "link"
                        and isinstance(node.value, ast.Name)
                        and node.value.id == "os"):
                    offenders.append(f"{where} os.link")
                elif (isinstance(node, ast.Constant)
                      and isinstance(node.value, str)
                      and ("__HIVE_DEFAULT_PARTITION__" in node.value
                           or "_staging_" in node.value)):
                    offenders.append(f"{where} {node.value!r}")
                elif (isinstance(node, ast.ImportFrom)
                      and node.module == "urllib.parse"
                      and {a.name for a in node.names}
                      & {"quote", "unquote"}):
                    offenders.append(f"{where} urllib.parse quoting")
    assert not offenders, offenders


def test_source_plumbing_lives_once():
    """Within storage/ and streaming/, parquet is written only by the
    commit module (plus the Delta log checkpoint, which goes to a
    buffer); the registered sources share one option reader and one
    registration that enables filter pushdown."""
    root = os.path.dirname(pkg.__file__)
    writers, opts, confs = [], [], []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                src = fh.read()
            confs += [rel] * src.count(
                "spark.sql.python.filterPushdown.enabled")
            for node in ast.walk(ast.parse(src, path)):
                if isinstance(node, ast.FunctionDef) and node.name == "_opt":
                    opts.append(rel)
                elif (isinstance(node, ast.Call)
                      and rel.split(os.sep)[0] in ("storage", "streaming")
                      and getattr(node.func, "attr",
                                  getattr(node.func, "id", None))
                      == "write_table"):
                    writers.append(rel)
    assert sorted(writers) == [os.path.join("storage", "commit.py"),
                               os.path.join("storage", "delta.py")], writers
    assert len(opts) == 1, opts
    assert len(confs) == 1, confs
