"""Row-level DML planning shared by Delta and Iceberg (storage/dml.py):
a refused MERGE or UPDATE leaves no file behind, both formats end a
MERGE with the same rows, and the clause checks exist once."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.errors import AnalysisException

import python_minerva_etl_spark as pkg
from python_minerva_etl_spark.storage.delta import (DeltaTable, read_delta,
                                                    write_delta)
from python_minerva_etl_spark.storage.iceberg import read_iceberg
from python_minerva_etl_spark.storage.iceberg_write import (merge_iceberg,
                                                            update_iceberg,
                                                            write_iceberg)

SCHEMA = "id long, name string, val long"


def _files(p):
    return sorted(os.path.relpath(os.path.join(d, f), p)
                  for d, _dirs, fs in os.walk(p) for f in fs)


def _merge(fmt, spark, p, source, **clauses):
    if fmt == "delta":
        return DeltaTable(p).merge(spark, source, "t.id = s.id", **clauses)
    return merge_iceberg(spark, p, source, "t.id = s.id", **clauses)


def _one_file_table(spark, fmt, p):
    """2,000 rows in one data file: masking every other row is 1,000
    positions, so a Delta deletion vector is over the 512-byte inline
    limit and would be a ``.bin`` file."""
    rows = spark.range(2000).selectExpr(
        "id", "concat('n', id) AS name", "id * 10 AS val").coalesce(1)
    (write_delta if fmt == "delta" else write_iceberg)(spark, rows, p)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
@pytest.mark.parametrize("clauses", [
    {"when_matched_update": {"nope": "s.val"}},
    {"when_matched_update": {"val": "s.val"},
     "when_not_matched_insert": {"nope": "s.id"}},
], ids=["update", "insert"])
def test_refused_merge_leaves_no_file(spark, tmp_path, fmt, clauses):
    """A MERGE refused for an unknown column writes nothing; its source
    matches every other row."""
    p = str(tmp_path / fmt)
    _one_file_table(spark, fmt, p)
    before = _files(p)
    source = spark.range(0, 2000, 2).selectExpr(
        "id", "'x' AS name", "-id AS val")
    with pytest.raises(ValueError, match="unknown columns"):
        _merge(fmt, spark, p, source, **clauses)
    assert _files(p) == before


@pytest.mark.parametrize("fmt,set_,error", [
    ("delta", {"val": "nope + 1"}, AnalysisException),
    ("iceberg", {"val": "nope + 1"}, AnalysisException),
    ("delta", {"val": "-1"}, ValueError),  # violates CHECK (val >= 0)
], ids=["delta-expr", "iceberg-expr", "delta-constraint"])
def test_refused_update_leaves_no_file(spark, tmp_path, fmt, set_, error):
    """An UPDATE whose SET fails analysis, or whose new rows violate a
    constraint, is refused before any deletion vector or delete file
    is written."""
    p = str(tmp_path / fmt)
    _one_file_table(spark, fmt, p)
    if fmt == "delta":
        DeltaTable(p).add_constraint(spark, "nonneg", "val >= 0")
    before = _files(p)
    with pytest.raises(error):
        if fmt == "delta":
            DeltaTable(p).update(spark, set_, "id % 2 = 0")
        else:
            update_iceberg(spark, p, set_)
    assert _files(p) == before


def test_merge_same_rows_in_both_formats(spark, tmp_path):
    """One MERGE on equal Delta and Iceberg tables: an update, a
    delete whose condition is TRUE on one matched row and NULL on
    another (that row is updated, not lost), and a mapped insert."""
    rows = spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(6)], SCHEMA)
    source = spark.createDataFrame(
        [(1, "a", 11, True), (2, "b", 22, None), (3, "c", 33, False),
         (7, "d", 77, None)],
        "id long, name string, val long, gone boolean")
    clauses = {"when_matched_update": {"val": "s.val"},
               "when_matched_delete": "s.gone",
               "when_not_matched_insert": {"id": "s.id",
                                           "name": "upper(s.name)"}}
    got = {}
    for fmt, write, read in (("delta", write_delta, read_delta),
                             ("iceberg", write_iceberg, read_iceberg)):
        p = str(tmp_path / fmt)
        write(spark, rows, p)
        assert _merge(fmt, spark, p, source, **clauses) is not None
        got[fmt] = sorted(tuple(r) for r in read(spark, p).collect())
    assert got["delta"] == got["iceberg"] == [
        (0, "n0", 0), (2, "n2", 22), (3, "n3", 33), (4, "n4", 40),
        (5, "n5", 50), (7, "D", None)]


def test_row_dml_checks_live_only_in_dml_module():
    """The MERGE and UPDATE refusals and the NULL-is-not-TRUE
    condition are written once under storage/, in dml.py."""
    phrases = ("multiple source rows", "leaves no rows",
               "unknown columns", "lacks table columns")
    root = os.path.join(os.path.dirname(pkg.__file__), "storage")
    offenders, home = [], set()
    for name in sorted(os.listdir(root)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(root, name)) as fh:
            tree = ast.parse(fh.read(), name)
        for node in ast.walk(tree):
            where = f"{name}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Constant) and isinstance(node.value,
                                                             str):
                found = {ph for ph in phrases if ph in node.value}
            elif (isinstance(node, ast.Call)
                  and getattr(node.func, "attr", None) == "eqNullSafe"
                  and [ast.unparse(a) for a in node.args]
                  == ["F.lit(True)"]):
                found = {"eqNullSafe(F.lit(True))"}
            else:
                continue
            if name == "dml.py":
                home |= found
            elif found:
                offenders.append(f"{where} {sorted(found)}")
    assert not offenders, offenders
    assert home == {*phrases, "eqNullSafe(F.lit(True))"}, home
