"""The core shared by the registered ``minerva_delta``,
``minerva_iceberg`` and ``minerva_avro`` sources: the admission loop,
the cap-option parser, the sinks' Arrow part writer (no string max of
``''``), the empty read after pushdown prunes every file, and Iceberg
partition directories that stay inside the table."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from python_minerva_etl_spark.streaming.admission import admit, cap_option

_LONG = "z" * 5001  # over pyarrow's 4 KB statistics limit


# ------------------------------------------------------ admission loop

def test_admit_without_caps_takes_every_unit():
    assert admit([5, 6, 7], []) == 3
    assert admit([5, 6, 7], [(lambda u: u, None)]) == 3
    assert admit([], [(lambda u: u, 1)]) == 0


def test_admit_takes_one_unit_over_the_cap():
    assert admit([10, 1, 1], [(lambda u: u, 3)]) == 1


def test_admit_stops_before_the_cap_is_exceeded():
    assert admit([1, 1, 1, 1], [(lambda u: u, 3)]) == 3
    assert admit([2, 1, 1], [(lambda u: u, 3)]) == 2


def test_admit_stricter_of_two_caps_wins():
    sizes = [100, 100, 100, 100]
    assert admit(sizes, [(lambda u: 1, 3), (lambda u: u, 250)]) == 2
    assert admit(sizes, [(lambda u: 1, 2), (lambda u: u, 1000)]) == 2


def test_admit_never_costs_an_unset_cap():
    def stat(_u):
        raise AssertionError("cost of an unset cap was computed")

    assert admit(["a", "b", "c"], [(lambda u: 1, 2), (stat, None)]) == 2


def test_cap_option_parses_and_refuses():
    assert cap_option({"MaxFilesPerTrigger": "4"}, "src",
                      "maxFilesPerTrigger") == 4
    assert cap_option({}, "src", "maxFilesPerTrigger") is None
    with pytest.raises(ValueError, match="src: maxFilesPerTrigger must "
                       "be a positive integer, got '0'"):
        cap_option({"maxFilesPerTrigger": "0"}, "src",
                   "maxFilesPerTrigger")


# ----------------------------------------------------------- the sinks

@pytest.fixture()
def src_spark(spark):
    from python_minerva_etl_spark.streaming.delta_source import (
        register_delta_source)
    from python_minerva_etl_spark.streaming.iceberg_source import (
        register_iceberg_source)

    register_delta_source(spark)
    register_iceberg_source(spark)
    return spark


def _long_rows(spark):
    return spark.createDataFrame([(1, "a"), (2, "b"), (3, _LONG)],
                                 "id long, s string").coalesce(1)


def _parquet_files(root):
    return [os.path.join(d, n) for d, _, names in os.walk(root)
            for n in names if n.endswith(".parquet")]


def _no_string_minmax(files):
    for f in files:
        md = pq.ParquetFile(f).metadata
        for ci in range(md.num_columns):
            if md.schema.column(ci).path == "s":
                st = md.row_group(0).column(ci).statistics
                assert st is None or not st.has_min_max, f


def test_delta_sink_long_string_keeps_prunable_row(src_spark, tmp_path):
    from python_minerva_etl_spark.storage.delta import read_delta

    p = str(tmp_path / "t")
    (_long_rows(src_spark).write.format("minerva_delta")
     .mode("append").save(p))
    assert read_delta(src_spark, p, where=[("s", "=", "b")]).count() == 1
    _no_string_minmax(_parquet_files(p))


def test_iceberg_sink_long_string_keeps_prunable_row(src_spark, tmp_path):
    from python_minerva_etl_spark.storage.iceberg import read_iceberg

    p = str(tmp_path / "t")
    (_long_rows(src_spark).write.format("minerva_iceberg")
     .mode("append").save(p))
    assert read_iceberg(src_spark, p, where=[("s", "=", "b")]).count() == 1
    _no_string_minmax(_parquet_files(os.path.join(p, "data")))


# ------------------------------------------------ reads that prune all

def test_delta_read_pruning_every_file_is_empty(src_spark, tmp_path):
    p = str(tmp_path / "t")
    (src_spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id long, s string")
     .write.format("minerva_delta").mode("append").save(p))
    got = (src_spark.read.format("minerva_delta").load(p)
           .filter("s = 'zzzz'"))
    assert got.count() == 0


def test_iceberg_read_pruning_every_file_is_empty(src_spark, tmp_path):
    p = str(tmp_path / "t")
    (src_spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")],
                               "id long, s string")
     .write.format("minerva_iceberg").mode("append").save(p))
    got = (src_spark.read.format("minerva_iceberg").load(p)
           .filter("s = 'zzzz'"))
    assert got.count() == 0


# ------------------------------------- Iceberg partition directories

_ESCAPE = [(1, "a/../../../outside"), (2, "plain")]


def _assert_inside(tmp_path, p, spark):
    from python_minerva_etl_spark.storage.iceberg import read_iceberg

    data = os.path.join(p, "data") + os.sep
    files = _parquet_files(str(tmp_path))
    assert files and all(f.startswith(data) for f in files), files
    got = sorted(tuple(r) for r in read_iceberg(spark, p).collect())
    assert got == _ESCAPE


def test_iceberg_sink_partition_value_stays_in_table(src_spark, tmp_path):
    p = str(tmp_path / "t")
    (src_spark.createDataFrame(_ESCAPE, "id long, s string")
     .write.format("minerva_iceberg").option("partitionBy", "s")
     .mode("append").save(p))
    _assert_inside(tmp_path, p, src_spark)


def test_write_iceberg_partition_value_stays_in_table(spark, tmp_path):
    from python_minerva_etl_spark.storage.iceberg_write import (
        write_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        _ESCAPE, "id long, s string"), p, partition_by="s")
    _assert_inside(tmp_path, p, spark)
