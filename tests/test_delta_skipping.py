"""Delta file skipping: the writer records per-file stats
(numRecords/minValues/maxValues/nullCount from the parquet footer)
and ``read(where=...)`` prunes files on stats + partitionValues —
proven by corrupting the pruned file on disk (a skipped file is
never opened).  The residual filter keeps results exact."""

from __future__ import annotations

import datetime
import json
import os

import pytest

from python_minerva_etl_spark.storage.delta import (DeltaTable,
                                                    read_delta,
                                                    write_delta)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _corrupt(p, rel):
    with open(os.path.join(p, rel), "wb") as fh:
        fh.write(b"not parquet at all")


def test_writer_records_stats(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 2.5), (9, None, -1.0)], "id long, v string, x double")
    write_delta(spark, df.coalesce(1), p)
    add = DeltaTable(p)._replay()["files"][0]
    stats = json.loads(add["stats"])
    assert stats["numRecords"] == 2
    assert stats["minValues"]["id"] == 1
    assert stats["maxValues"]["id"] == 9
    assert stats["minValues"]["x"] == -1.0
    assert stats["nullCount"]["v"] == 1
    assert stats["tightBounds"] is True


def test_stats_pruning_skips_file_entirely(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark, spark.range(0, 10).toDF("id").coalesce(1), p)
    write_delta(spark, spark.range(100, 110).toDF("id").coalesce(1),
                p)
    files = {f["path"]: json.loads(f["stats"])["minValues"]["id"]
             for f in DeltaTable(p)._replay()["files"]}
    high_file = next(rel for rel, lo in files.items() if lo == 100)
    _corrupt(p, high_file)
    got = read_delta(spark, p, where=[("id", "<", 10)])
    assert _rows(got) == [(i,) for i in range(10)]
    # without pruning the corrupted file explodes the scan
    with pytest.raises(Exception):
        read_delta(spark, p).count()


def test_partition_pruning_skips_file_entirely(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, part string")
    DeltaTable(p).write(spark, df, partition_by=["part"])
    b_file = next(f["path"]
                  for f in DeltaTable(p)._replay()["files"]
                  if f["partitionValues"].get("part") == "b")
    _corrupt(p, b_file)
    got = read_delta(spark, p, where=[("part", "=", "a")])
    assert _rows(got) == [(1, "a"), (2, "a")]


def test_residual_filter_keeps_exactness(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark, spark.range(0, 100).toDF("id").coalesce(1), p)
    got = read_delta(spark, p, where=[("id", ">=", 90),
                                      ("id", "<", 95)])
    assert _rows(got) == [(i,) for i in range(90, 95)]


def test_foreign_stats_prune_without_opening(spark, tmp_path):
    """Stats written by another engine (string-typed bounds included)
    prune the same way; a file without stats is always read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    pq.write_table(pa.table({"v": pa.array(["aa", "bb"])}),
                   os.path.join(p, "f0.parquet"))
    with open(os.path.join(p, "f1.parquet"), "wb") as fh:
        fh.write(b"garbage")  # prunable via its declared stats
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "v", "type": "string", "nullable": True,
         "metadata": {}}]})
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({
                     "numRecords": 2, "minValues": {"v": "aa"},
                     "maxValues": {"v": "bb"}, "nullCount": {}})}},
        {"add": {"path": "f1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({
                     "numRecords": 5, "minValues": {"v": "xx"},
                     "maxValues": {"v": "zz"}, "nullCount": {}})}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"),
              "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    got = read_delta(spark, p, where=[("v", "<=", "bb")])
    assert _rows(got) == [("aa",), ("bb",)]


def test_skipping_composes_with_deletion_vectors(spark, tmp_path):
    from python_minerva_etl_spark.storage.delta import delete_delta

    p = str(tmp_path / "t")
    write_delta(spark, spark.range(0, 10).toDF("id").coalesce(1), p)
    write_delta(spark, spark.range(100, 110).toDF("id").coalesce(1),
                p)
    delete_delta(spark, p, "id in (3, 105)")
    got = read_delta(spark, p, where=[("id", "<", 50)])
    assert _rows(got) == [(i,) for i in range(10) if i != 3]


def test_optimize_sort_by_clusters_for_skipping(spark, tmp_path):
    """Clustering rewrite: interleaved appends become range-disjoint
    files whose stats prune tightly — proven by corrupting every file
    whose range excludes the predicate."""
    p = str(tmp_path / "t")
    # two appends with fully interleaved ids: stats overlap, nothing
    # can prune before clustering
    write_delta(spark, spark.range(0, 100, 2).toDF("id").coalesce(1),
                p)
    write_delta(spark, spark.range(1, 100, 2).toDF("id").coalesce(1),
                p)
    dt = DeltaTable(p)
    for f in dt._replay()["files"]:
        st = json.loads(f["stats"])
        assert st["minValues"]["id"] <= 1
        assert st["maxValues"]["id"] >= 98
    total = sum(f["size"] for f in dt._replay()["files"])
    v = dt.optimize(spark, sort_by=["id"],
                    target_file_bytes=max(1, total // 3))
    assert v is not None
    files = dt._replay()["files"]
    assert len(files) >= 2
    # ranges are now disjoint
    spans = sorted((json.loads(f["stats"])["minValues"]["id"],
                    json.loads(f["stats"])["maxValues"]["id"],
                    f["path"]) for f in files)
    for (lo1, hi1, _), (lo2, hi2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
    # corrupt every file that cannot contain id < spans[0][1]
    cut = spans[0][1]
    for lo, hi, rel in spans[1:]:
        _corrupt(p, rel)
    got = read_delta(spark, p, where=[("id", "<=", cut)])
    assert _rows(got) == [(i,) for i in range(cut + 1)]


def test_optimize_sort_by_unknown_column_refuses(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark, spark.range(0, 5).toDF("id"), p)
    with pytest.raises(ValueError, match="sort_by"):
        DeltaTable(p).optimize(spark, sort_by=["nope"])


@pytest.mark.parametrize("ddl,rows,where", [
    ("d date", [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)],
     [("d", "=", datetime.date(2024, 1, 2))]),
    ("d date", [datetime.date(2024, 1, 1), datetime.date(2024, 1, 2)],
     [("d", ">", "2024-01-01")]),
    ("d boolean", [False, True], [("d", "=", True)]),
    ("d boolean", [False, True], [("d", "<", True)]),
])
def test_typed_partition_values_prune(spark, tmp_path, ddl, rows,
                                      where):
    """Date and boolean partition values parse by the one Delta
    partition-value parser, so a typed literal (what Spark's pushdown
    hands the registered source) or a string literal parsed by the
    same rule prunes the other file — it is corrupted and never
    opened — and the rows equal the unpruned read's."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.streaming.delta_source import (
        register_delta_source)

    register_delta_source(spark)
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rows)],
                               f"id long, {ddl}")
    DeltaTable(p).write(spark, df, partition_by=["d"])
    (col, op, lit), = where
    cond = {"=": F.col(col) == F.lit(lit), ">": F.col(col) > F.lit(lit),
            "<": F.col(col) < F.lit(lit)}[op]
    want = _rows(read_delta(spark, p).filter(cond))
    assert len(want) == 1
    keep = str(want[0][1]).lower()
    files = DeltaTable(p)._replay()["files"]
    assert len(files) == 2
    for f in files:
        if f["partitionValues"]["d"] != keep:
            _corrupt(p, f["path"])
    assert _rows(read_delta(spark, p, where=where)) == want
    got = spark.read.format("minerva_delta").load(p).filter(cond)
    assert _rows(got) == want


def test_unparsed_partition_values_keep_their_files(spark, tmp_path):
    """A partition type the parser does not read (decimal) keeps every
    file: a string literal is never compared with the raw partition
    string, which orders '10.50' below '9.5'."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "9.25"), (2, "10.50")],
                               "id long, d string").selectExpr(
        "id", "CAST(d AS DECIMAL(6, 2)) AS d")
    DeltaTable(p).write(spark, df, partition_by=["d"])
    got = read_delta(spark, p, where=[("d", ">", "9.5")])
    assert [r.id for r in got.collect()] == [2]
