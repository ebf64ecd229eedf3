"""One home per rule for the lake formats' read, change, delete and
commit logic: each format plans a snapshot read once and its
DataFrame reader and registered batch source both scan that plan,
the Delta change feed is classified once in
``storage/delta.py`` and both of its readers consume that plan,
Iceberg's delete assignment and snapshot-chain walk live in
``storage/iceberg.py``, every Iceberg snapshot commits through one
retry loop in ``storage/iceberg_write.py`` and every Delta commit
through one in ``storage/delta.py``, and the ``file:`` URI rule of
every format lives in ``storage/commit.py``."""

from __future__ import annotations

import ast
import inspect
import os
import re

import python_minerva_etl_spark
from python_minerva_etl_spark.streaming.delta_source import _CdfBatchReader

_PKG = os.path.dirname(python_minerva_etl_spark.__file__)


def _modules():
    for root, _dirs, names in os.walk(_PKG):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, _PKG), fh.read()


def _holders(rx: re.Pattern, family: str = "") -> list[str]:
    return sorted(rel for rel, text in _modules()
                  if family in os.path.basename(rel)
                  and rx.search(text))


def _callers(rel: str, name: str) -> set[str]:
    """The functions in module ``rel`` whose body calls ``name``."""
    with open(os.path.join(_PKG, rel), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return {fn.name for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
            and any(isinstance(c, ast.Call)
                    and getattr(c.func, "id", None) == name
                    for c in ast.walk(fn))}


def _method_calls(rel: str) -> list[tuple[str, list[str]]]:
    """``(function name, its obj.<name>(...) method calls in source
    order)`` for each function of module ``rel`` (a nested function's
    calls are listed for it and for its outer function)."""
    with open(os.path.join(_PKG, rel), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return [(fn.name, [c.func.attr for c in sorted(
                (c for c in ast.walk(fn) if isinstance(c, ast.Call)
                 and isinstance(c.func, ast.Attribute)),
                key=lambda c: (c.lineno, c.col_offset))])
            for fn in ast.walk(tree)
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))]


def test_delta_change_feed_is_planned_once():
    # commit JSON files are opened by DeltaTable._actions alone;
    # DeltaTable._publish publishes them
    assert _holders(re.compile(r"_commit_path|:020d}\.json")) == [
        "storage/delta.py"]
    assert _callers("storage/delta.py", "_commit_path") == {
        "_actions", "_publish"}
    assert _holders(re.compile(r"not derivable"), "delta") == [
        "storage/delta.py"]
    assert _holders(re.compile(r"def _change_plan\b")) == [
        "storage/delta.py"]
    assert _holders(re.compile(r"__dv_diff__")) == []
    # the CDF reader maps plan records to partitions; it classifies
    # no actions itself
    src = inspect.getsource(_CdfBatchReader)
    assert "_change_plan" in src
    assert "dataChange" not in src and "_actions(" not in src


def test_iceberg_delete_rules_live_in_storage_iceberg():
    # one file-URI rule for every format
    assert _holders(re.compile(r"\^file:/\+")) == ["storage/commit.py"]
    for name in ("_walk_chain", "_parent_id", "_delete_may_touch",
                 "_delete_pairs", "_touching", "_types_by_id"):
        assert _holders(re.compile(rf"def {name}\b")) == [
            "storage/iceberg.py"], name
    assert _holders(re.compile(r"_PATH_FIELD_ID\s*=")) == [
        "storage/iceberg.py"]
    assert _holders(re.compile(r"unknown field id")) == [
        "storage/iceberg.py"]
    assert _holders(re.compile(r"carries no sequence number")) == [
        "storage/iceberg.py"]


def test_delete_assignment_refusals():
    """Both Iceberg scans (the JVM anti joins and the registered
    source's batch and changelog readers) take their delete pairs
    from ``_delete_pairs``, so its refusals hold for all of them."""
    import pytest

    from python_minerva_etl_spark.storage.iceberg import _delete_pairs

    schema = {"fields": [{"id": 1, "name": "id", "type": "long"}]}
    eq = {"content": 2, "file_path": "file:///t/d.parquet", "_seq": 2,
          "equality_ids": [1]}
    pos = {"content": 1, "file_path": "file:///t/p.parquet", "_seq": 2}
    data = {"content": 0, "file_path": "/t/a.parquet", "_seq": 1}
    got_pos, got_eq = _delete_pairs([pos, eq], [data], schema)
    assert got_pos == [("/t/p.parquet", pos)]
    assert got_eq == [(("/t/d.parquet", 2, ("id",)), eq)]
    with pytest.raises(ValueError, match="unknown field id 7"):
        _delete_pairs([dict(eq, equality_ids=[7])], [data], schema)
    with pytest.raises(ValueError, match="no sequence number"):
        _delete_pairs([eq], [dict(data, _seq=None)], schema)
    # position deletes need no ordering
    assert _delete_pairs([pos], [dict(data, _seq=None)], schema)[0]


def test_iceberg_commits_once():
    """One retry loop and one manifest-list writer for every Iceberg
    snapshot: appends, overwrite, row-level DML, both compactions and
    the registered sinks."""
    assert _holders(re.compile(r"commit_attempts\("), "iceberg") == [
        "storage/iceberg_write.py"]
    with open(os.path.join(_PKG, "storage/iceberg_write.py"),
              encoding="utf-8") as fh:
        src = fh.read()
    assert src.count("commit_attempts(") == 1
    assert _callers("storage/iceberg_write.py", "commit_attempts") == {
        "_commit"}
    assert len(re.findall(r"\b_MANIFEST_FILE_SCHEMA\b", src)) == 2
    assert _callers("storage/iceberg_write.py", "_avro_file") == {
        "_commit", "write"}


def test_delta_commits_once():
    """One retry loop and one commitInfo builder for every Delta
    commit: writes and the registered sinks, row-level DML, restore,
    table properties, constraints and OPTIMIZE.  Each attempt lists
    its version before it replays the snapshot it builds on."""
    assert _holders(re.compile(r"commit_attempts\("), "delta") == [
        "storage/delta.py"]
    with open(os.path.join(_PKG, "storage/delta.py"),
              encoding="utf-8") as fh:
        src = fh.read()
    assert src.count("commit_attempts(") == 1
    assert _callers("storage/delta.py", "commit_attempts") == {"_commit"}
    assert src.count('"engineInfo"') == 1
    listers = set()
    for rel, _text in _modules():
        if "delta" not in os.path.basename(rel):
            continue
        for fn, calls in _method_calls(rel):
            if "_next_version" in calls and "_replay" in calls:
                listers.add(fn)
                assert calls.index("_next_version") \
                    < calls.index("_replay"), (rel, fn)
    assert "_commit" in listers


def _constant_homes(needle: str) -> set[tuple[str, str]]:
    """``(module, innermost function)`` of every string constant
    containing ``needle`` in the package, docstrings left out
    (``""`` for module level)."""
    homes = set()
    for rel, text in _modules():
        tree = ast.parse(text)
        docs = {id(node.body[0].value) for node in ast.walk(tree)
                if isinstance(node, (ast.Module, ast.ClassDef,
                                     ast.FunctionDef,
                                     ast.AsyncFunctionDef))
                and node.body and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)}
        fns = [fn for fn in ast.walk(tree)
               if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for c in ast.walk(tree):
            if (isinstance(c, ast.Constant) and isinstance(c.value, str)
                    and needle in c.value and id(c) not in docs):
                owners = [fn for fn in fns
                          if fn.lineno <= c.lineno <= fn.end_lineno]
                homes.add((rel, max(owners, key=lambda fn: fn.lineno).name
                           if owners else ""))
    return homes


def test_snapshot_reads_planned_once():
    """Time travel, column mapping, file pruning and the footer guard
    of a snapshot read are decided once per format: Delta in
    ``DeltaTable._read_plan`` (its column-mapping view in
    ``_column_mapping``), Iceberg in ``IcebergTable._read_plan``.  The
    DataFrame readers, the registered batch sources and Iceberg's
    row-level DML scan those plans and plan nothing themselves."""
    from python_minerva_etl_spark.storage.delta import DeltaTable
    from python_minerva_etl_spark.storage.iceberg import IcebergTable
    from python_minerva_etl_spark.storage.iceberg_write import _live_rows
    from python_minerva_etl_spark.streaming.delta_source import (
        _BatchReader)
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceBatchReader)

    assert _constant_homes("delta.columnMapping.mode") == {
        ("storage/delta.py", "_column_mapping")}
    # file pruning is called from the plans alone (SnapTable's
    # _file_may_match is another function of the same name)
    assert _holders(re.compile(r"\b_add_may_match\(")) == [
        "storage/delta.py"]
    assert _callers("storage/delta.py", "_add_may_match") == {"pruned"}
    assert _holders(re.compile(r"\b_(file|manifest)_may_match\("),
                    "iceberg") == ["storage/iceberg.py"]
    assert _callers("storage/iceberg.py", "_file_may_match") == {
        "pruned"}
    assert _callers("storage/iceberg.py", "_manifest_may_match") == {
        "files", "manifest_ok"}
    planners = ("_replay(", "version_at(", "resolve_ref(",
                "snapshot_at(", "_data_files(")
    for reader in (_BatchReader, _IceBatchReader, _live_rows):
        src = inspect.getsource(reader)
        assert not [p for p in planners if p in src], reader
    assert "_read_plan(" in inspect.getsource(DeltaTable.read)
    assert "_read_plan(" in inspect.getsource(IcebergTable.read)
    assert "pruned(" in inspect.getsource(_BatchReader)
    assert "_read_plan(" in inspect.getsource(_IceBatchReader)
    assert "files()" in inspect.getsource(_IceBatchReader)
    assert "files()" in inspect.getsource(_live_rows)
    # one predicate check and one footer guard
    assert sum(text.count("unsupported predicate op")
               for _rel, text in _modules()) == 1
    assert _holders(re.compile(r"renamed or schema-evolved")) == [
        "storage/iceberg.py"]
