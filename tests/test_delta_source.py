"""The registered `minerva_delta` Python data source (PySpark 4
DataSource API): batch read parity with read_delta (partitions, DVs,
time travel, schema evolution) and the streaming source whose
micro-batch offsets are Delta commit versions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_minerva_etl_spark.storage.delta import DeltaTable
from python_minerva_etl_spark.streaming.delta_source import (
    register_delta_source)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def ds_spark(spark):
    register_delta_source(spark)
    return spark


def _table(spark, p):
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "id long, grp string, value double"),
        partition_by=["grp"])
    dt.write(spark, spark.createDataFrame(
        [(3, "a", 3.0)], "id long, grp string, value double"))
    return dt


def test_batch_read_parity(ds_spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    got = ds_spark.read.format("minerva_delta").load(p)
    assert _rows(got) == _rows(dt.read(ds_spark))
    assert got.schema == dt.read(ds_spark).schema


def test_batch_read_applies_deletion_vectors(ds_spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.delete(ds_spark, "id = 2")
    got = ds_spark.read.format("minerva_delta").load(p)
    assert _rows(got) == [(1, "a", 1.0), (3, "a", 3.0)]


def test_batch_version_as_of(ds_spark, tmp_path):
    p = str(tmp_path / "t")
    _table(ds_spark, p)
    got = (ds_spark.read.format("minerva_delta")
           .option("versionAsOf", 0).load(p))
    assert _rows(got) == [(1, "a", 1.0), (2, "b", 2.0)]


def test_batch_schema_evolution_null_fills(ds_spark, tmp_path):
    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(1,)], "id long"))
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(2, "x")], "id long, v string"), merge_schema=True)
    got = ds_spark.read.format("minerva_delta").load(p)
    assert _rows(got) == [(1, None), (2, "x")]


def test_stream_available_now_processes_all_versions(ds_spark,
                                                     tmp_path):
    p = str(tmp_path / "t")
    _table(ds_spark, p)
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingVersion", 0).load(p)
         .writeStream.format("memory").queryName("t_all")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(ds_spark.sql("SELECT * FROM t_all"))
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]


def test_stream_incremental_across_runs(ds_spark, tmp_path):
    # second availableNow run from the same startingVersion after an
    # append sees the new commit too (offset = version)
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(4, "b", 4.0)], "id long, grp string, value double"))
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingVersion", 2).load(p)
         .writeStream.format("memory").queryName("t_inc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _rows(ds_spark.sql("SELECT * FROM t_inc")) == [
        (4, "b", 4.0)]


def test_stream_refuses_update_without_ignore_changes(ds_spark,
                                                      tmp_path):
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException)

    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.update(ds_spark, {"value": "value * 10"}, "id = 1")
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingVersion", 0).load(p)
         .writeStream.format("memory").queryName("t_upd")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException,
                       match="removes data"):
        q.awaitTermination(120)


def test_stream_ignore_deletes_skips_delete_commit(ds_spark,
                                                   tmp_path):
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.delete(ds_spark, "id = 2")
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingVersion", 0)
         .option("ignoreDeletes", "true").load(p)
         .groupBy("grp").agg(F.count("*").alias("n"))
         .writeStream.format("memory").queryName("t_del")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # delete commit contributes nothing; the original appends stand
    assert _rows(ds_spark.sql("SELECT * FROM t_del")) == [
        ("a", 2), ("b", 1)]


def test_stream_ignore_changes_reemits_live_rows(ds_spark,
                                                 tmp_path):
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.update(ds_spark, {"value": "99.0"}, "id = 3")
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingVersion", 0)
         .option("ignoreChanges", "true").load(p)
         .writeStream.format("memory").queryName("t_chg")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = _rows(ds_spark.sql("SELECT * FROM t_chg"))
    # the update commit re-emits the touched file's live rows (the
    # upstream-documented duplicate behavior) plus the new file
    assert (3, "grp-a-replaced", 99.0) not in got  # sanity
    assert got.count((3, "a", 99.0)) == 1
    assert (1, "a", 1.0) in got and (2, "b", 2.0) in got


def test_batch_refuses_column_mapped_table(ds_spark, tmp_path):
    import json
    import os

    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    # hand-flip the table to column mapping to hit the refusal
    snap = dt._replay()
    meta = dict(snap["metaData"])
    conf = dict(meta.get("configuration") or {})
    conf["delta.columnMapping.mode"] = "name"
    meta["configuration"] = conf
    dt._publish(dt._next_version(), [
        {"commitInfo": {"timestamp": 0, "operation": "SET",
                        "operationParameters": {}}},
        {"metaData": meta}])
    # mapped tables are READABLE now (flat columns) — but one whose
    # schema fields carry no mapping metadata is malformed: loud,
    # never misread
    with pytest.raises(Exception, match="physicalName"):
        ds_spark.read.format("minerva_delta").load(p).collect()


# ------------------------------------------------------------ writer

def test_writer_create_partitioned_and_roundtrip(ds_spark,
                                                 tmp_path):
    p = str(tmp_path / "w")
    df = ds_spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)],
        "id long, grp string, value double")
    (df.write.format("minerva_delta").option("partitionBy", "grp")
     .mode("append").save(p))
    dt = DeltaTable(p)
    assert dt._replay()["metaData"]["partitionColumns"] == ["grp"]
    assert _rows(dt.read(ds_spark)) == [
        (1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)]
    # written files carry footer stats and land in Hive dirs
    files = dt._replay()["files"]
    assert all("stats" in f for f in files)
    assert any(f["path"].startswith("grp=a/") for f in files)


def test_writer_append_inherits_partitioning(ds_spark, tmp_path):
    p = str(tmp_path / "w")
    base = ds_spark.createDataFrame(
        [(1, "a", 1.0)], "id long, grp string, value double")
    (base.write.format("minerva_delta").option("partitionBy", "grp")
     .mode("append").save(p))
    (ds_spark.createDataFrame(
        [(2, "a", 2.0)], "id long, grp string, value double")
     .write.format("minerva_delta").mode("append").save(p))
    dt = DeltaTable(p)
    assert len(_rows(dt.read(ds_spark))) == 2
    assert all("grp=" in f["path"] for f in dt._replay()["files"])


def test_writer_overwrite_changes_schema(ds_spark, tmp_path):
    p = str(tmp_path / "w")
    (ds_spark.createDataFrame([(1, "a")], "id long, v string")
     .write.format("minerva_delta").mode("append").save(p))
    (ds_spark.createDataFrame([(9, 9.0)], "id long, x double")
     .write.format("minerva_delta").mode("overwrite").save(p))
    out = DeltaTable(p).read(ds_spark)
    assert [f.name for f in out.schema.fields] == ["id", "x"]
    assert _rows(out) == [(9, 9.0)]


def test_writer_schema_mismatch_fails_before_commit(ds_spark,
                                                    tmp_path):
    p = str(tmp_path / "w")
    (ds_spark.createDataFrame([(1, "a")], "id long, v string")
     .write.format("minerva_delta").mode("append").save(p))
    with pytest.raises(Exception, match="schema mismatch"):
        (ds_spark.createDataFrame([(2.0,)], "id double")
         .write.format("minerva_delta").mode("append").save(p))
    assert DeltaTable(p).versions() == [0]  # nothing committed


def test_stream_writer_exactly_once_ledger(ds_spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    dt = DeltaTable(src)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, value double"))

    def run():
        q = (ds_spark.readStream.format("minerva_delta")
             .option("startingVersion", 0).load(src)
             .writeStream.format("minerva_delta")
             .option("path", sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run()
    assert _rows(DeltaTable(sink).read(ds_spark)) == [
        (1, 10.0), (2, 20.0)]
    ledger = DeltaTable(sink)._replay()["txns"]
    assert list(ledger.values()) == [0]
    # append at the source; the restarted stream processes ONLY the
    # new commit (offset checkpoint) and the ledger advances
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(3, 30.0)], "id long, value double"))
    run()
    assert _rows(DeltaTable(sink).read(ds_spark)) == [
        (1, 10.0), (2, 20.0), (3, 30.0)]


def test_batch_timestamp_as_of_option(ds_spark, tmp_path):
    """The `timestampAsOf` reader option (epoch ms or ISO string)
    resolves through DeltaTable.version_at."""
    import time

    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.range(2).toDF("id"))
    mid = int(time.time() * 1000)
    time.sleep(0.05)
    dt.write(ds_spark, ds_spark.range(2, 4).toDF("id"))
    got = (ds_spark.read.format("minerva_delta")
           .option("timestampAsOf", mid).load(p))
    assert sorted(r.id for r in got.collect()) == [0, 1]
    with pytest.raises(Exception, match="not both"):
        (ds_spark.read.format("minerva_delta")
         .option("timestampAsOf", mid)
         .option("versionAsOf", 0).load(p).collect())


def test_batch_filter_pushdown_prunes_files(ds_spark, tmp_path):
    """pushFilters skips add actions on per-file stats AND
    partitionValues (Spark still re-applies the filters): pruned
    files are corrupted on disk to prove they are never opened."""
    import json as j
    import os

    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(i, "x") for i in range(10)],
        "id long, v string").coalesce(1))
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(i, "y") for i in range(100, 110)],
        "id long, v string").coalesce(1))
    for f in dt._replay()["files"]:
        if j.loads(f["stats"])["minValues"]["id"] < 50:
            open(os.path.join(p, f["path"]), "wb").write(b"garbage")
    got = (ds_spark.read.format("minerva_delta").load(p)
           .filter("id >= 100"))
    assert sorted(r.id for r in got.collect()) == \
        list(range(100, 110))
    with pytest.raises(Exception):
        ds_spark.read.format("minerva_delta").load(p).collect()
    # partition-value pruning
    p2 = str(tmp_path / "t2")
    dt2 = DeltaTable(p2)
    dt2.write(ds_spark, ds_spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, par string"),
        partition_by=["par"])
    for f in dt2._replay()["files"]:
        if "par=a" in f["path"]:
            open(os.path.join(p2, f["path"]), "wb").write(b"garbage")
    got = (ds_spark.read.format("minerva_delta").load(p2)
           .filter("par = 'b'"))
    assert [r.id for r in got.collect()] == [2]


def test_stream_starting_timestamp(ds_spark, tmp_path):
    """startingTimestamp (upstream semantics: changes committed AT OR
    AFTER the timestamp) resolves to the earliest qualifying commit;
    a timestamp past the newest commit refuses."""
    import time

    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.range(2).toDF("id"))
    time.sleep(0.05)
    mid = int(time.time() * 1000)
    time.sleep(0.05)
    dt.write(ds_spark, ds_spark.range(2, 4).toDF("id"))
    q = (ds_spark.readStream.format("minerva_delta")
         .option("startingTimestamp", mid).load(p)
         .writeStream.format("memory").queryName("dl_st")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.id for r in
                 ds_spark.sql("SELECT * FROM dl_st").collect())
    assert got == [2, 3]
    with pytest.raises(Exception, match="after the latest"):
        (ds_spark.readStream.format("minerva_delta")
         .option("startingTimestamp",
                 int(time.time() * 1000) + 3_600_000).load(p)
         .writeStream.format("memory").queryName("dl_st2")
         .outputMode("append").trigger(availableNow=True).start()
         .awaitTermination(120))
    with pytest.raises(Exception, match="not both"):
        (ds_spark.readStream.format("minerva_delta")
         .option("startingTimestamp", mid)
         .option("startingVersion", 0).load(p)
         .writeStream.format("memory").queryName("dl_st3")
         .outputMode("append").trigger(availableNow=True).start()
         .awaitTermination(120))


def test_batch_reader_column_mapping_name_and_id(ds_spark, tmp_path):
    """The registered source resolves flat column-mapped tables:
    mode 'name' by physicalName, mode 'id' by the file's own
    PARQUET:field_id (different physical spellings across files)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_delta_cm import _add, _fld, _log, _pq_with_ids

    # name mode
    p = str(tmp_path / "n")
    os.makedirs(p)
    pq.write_table(pa.table({
        "col-aaa": pa.array([1, 2], type=pa.int64()),
        "col-bbb": pa.array(["x", "y"])}),
        os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet")])
    got = ds_spark.read.format("minerva_delta").load(p)
    assert got.columns == ["id", "v"]
    assert sorted(tuple(r) for r in got.collect()) == \
        [(1, "x"), (2, "y")]

    # id mode, mixed physical spellings across files
    p = str(tmp_path / "i")
    os.makedirs(p)
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("alpha", 1, pa.array([1], type=pa.int64())),
                  ("beta", 2, pa.array(["a"]))])
    _pq_with_ids(os.path.join(p, "f1.parquet"),
                 [("renamed", 1, pa.array([2], type=pa.int64())),
                  ("also", 2, pa.array(["b"]))])
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet"), _add("f1.parquet")], mode="id")
    got = ds_spark.read.format("minerva_delta").load(p)
    assert sorted(tuple(r) for r in got.collect()) == \
        [(1, "a"), (2, "b")]


def test_id_mode_file_without_field_ids_falls_back_to_name(
        ds_spark, tmp_path):
    """A file in an id-mode table that carries NO PARQUET:field_id
    metadata (written by an engine that skipped id stamping) must
    resolve by physicalName like mode 'name' — NOT silently
    null-fill every column as 'schema evolution' (the batch reader
    via parquet.fieldId.read.enabled fails loudly on such files, so
    returning all-null rows here would be a silent divergence)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_delta_cm import _add, _fld, _log, _pq_with_ids

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("col-aaa", 1, pa.array([1], type=pa.int64())),
                  ("col-bbb", 2, pa.array(["a"]))])
    # f1: same physical names, NO field_id metadata
    pq.write_table(pa.table({
        "col-aaa": pa.array([2], type=pa.int64()),
        "col-bbb": pa.array(["b"])}),
        os.path.join(p, "f1.parquet"))
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet"), _add("f1.parquet")], mode="id")
    got = ds_spark.read.format("minerva_delta").load(p)
    assert sorted(tuple(r) for r in got.collect()) == \
        [(1, "a"), (2, "b")]


def test_batch_reader_nested_name_mode(ds_spark, tmp_path):
    """Round 8: NESTED mapped columns through the registered source
    (mode name) — struct, array<struct>, map<string,struct> rebuilt
    executor-side under logical names, null structs preserved."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_delta_cm import _add, _fld, _log

    p = str(tmp_path / "t")
    os.makedirs(p)
    inner = pa.struct([("col-x", pa.int64()), ("col-y", pa.string())])
    pq.write_table(pa.table({
        "col-s": pa.array([{"col-x": 1, "col-y": "a"}, None],
                          type=inner),
        "col-r": pa.array([[{"col-x": 2, "col-y": "b"}], []],
                          type=pa.list_(inner)),
        "col-m": pa.array([[("k", {"col-x": 3, "col-y": "c"})], []],
                          type=pa.map_(pa.string(), inner))}),
        os.path.join(p, "f0.parquet"))
    inner_fields = [_fld("x", "long", "col-x", 4),
                    _fld("y", "string", "col-y", 5)]
    struct_t = {"type": "struct", "fields": inner_fields}
    _log(p, [
        _fld("s", struct_t, "col-s", 1),
        _fld("arr", {"type": "array", "elementType": struct_t,
                     "containsNull": True}, "col-r", 2),
        _fld("m", {"type": "map", "keyType": "string",
                   "valueType": struct_t,
                   "valueContainsNull": True}, "col-m", 3)],
        [_add("f0.parquet")])
    got = ds_spark.read.format("minerva_delta").load(p)
    rows = got.orderBy("s").collect()
    r0 = rows[1]
    assert r0["s"]["x"] == 1 and r0["s"]["y"] == "a"
    assert r0["arr"][0]["x"] == 2 and r0["m"]["k"]["y"] == "c"
    assert rows[0]["s"] is None and rows[0]["arr"] == []
    # parity with the engine read
    from python_minerva_etl_spark.storage.delta import read_delta
    eng = read_delta(ds_spark, p)
    assert sorted(map(str, got.collect())) == \
        sorted(map(str, eng.collect()))


def test_batch_reader_nested_id_mode_rename_epochs(ds_spark,
                                                   tmp_path):
    """Round 8: NESTED id-mode through the registered source — a
    pre-rename file (different physical spellings at every level)
    resolves by PARQUET:field_id, an id-stamped engine-written file
    coexists, and streaming reads ride the same partition path."""
    import os

    from tests.test_delta_cm import (_log, _add, _pq_nested_ids,
                                     _nested_schema_fields)

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_nested_ids(os.path.join(p, "f0.parquet"),
                   ("old-i", "old-s", "old-x", "old-y", "old-r"))
    _log(p, _nested_schema_fields(), [_add("f0.parquet")], mode="id")
    from python_minerva_etl_spark.storage.delta import DeltaTable
    DeltaTable(p).write(ds_spark, ds_spark.createDataFrame(
        [(3, (30, "c"), [(31, "d")])],
        "id long, s struct<x:long,y:string>, "
        "arr array<struct<x:long,y:string>>").coalesce(1))
    got = ds_spark.read.format("minerva_delta").load(p)
    rows = {r.id: r for r in got.collect()}
    assert rows[1]["s"]["x"] == 10 and rows[1]["arr"][0]["y"] == "z"
    assert rows[2]["s"] is None
    assert rows[3]["s"]["y"] == "c" and rows[3]["arr"][0]["x"] == 31
    # streaming source resolves the same nested files
    q = (ds_spark.readStream.format("minerva_delta").load(p)
         .writeStream.format("memory").queryName("dl_nested")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    sgot = {r.id: r for r in
            ds_spark.sql("SELECT * FROM dl_nested").collect()}
    assert sgot[1]["s"]["x"] == 10 and sgot[3]["arr"][0]["y"] == "d"


def test_batch_cdf_parity_with_engine_changes(ds_spark, tmp_path):
    """option("readChangeFeed","true") must reproduce the engine's
    changes() feed bit-for-bit across every change shape: cdc-file
    commits (UPDATE/MERGE with CDF enabled), plain-append inserts,
    DV-diff deletes, and remove deletes."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)  # v0: append
    dt.set_properties({"delta.enableChangeDataFeed": "true"})  # v1
    dt.update(ds_spark, {"value": "value + 100"}, "id >= 3")   # v3 cdc
    dt.delete(ds_spark, "id < 2")                              # v4
    dt.merge(ds_spark, ds_spark.createDataFrame(
        [(3, "a", 5.5), (99, "b", 9.9)],
        "id long, grp string, value double"),
        "t.id = s.id",
        when_matched_update={"value": "s.value"},
        when_not_matched_insert=True)                          # v5
    end = dt.versions()[-1]

    want = dt.changes(ds_spark, 0, end)
    got = (ds_spark.read.format("minerva_delta")
           .option("readChangeFeed", "true")
           .option("startingVersion", 0)
           .option("endingVersion", end).load(p))
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)

    def canon(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert canon(got) == canon(want)
    # and the per-kind counts are non-trivial (cdc + insert + delete
    # all exercised)
    kinds = {r[0] for r in got.select("_change_type").collect()}
    assert {"insert", "delete",
            "update_preimage", "update_postimage"} <= kinds


@pytest.mark.parametrize("before,after", [(["grp"], []), ([], ["grp"])],
                         ids=["partitioned_to_flat", "flat_to_partitioned"])
def test_batch_cdf_parity_across_partitioning_change(ds_spark, tmp_path,
                                                     before, after):
    """An overwrite that changes the partition columns inside the
    range: every file is read under the partitioning it was written
    with, so the feed equals changes() and no row loses its grp."""
    p = str(tmp_path / "t")
    schema = "id long, grp string, value double"
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], schema), partition_by=before)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(3, "a", 3.0), (4, "b", 4.0)], schema), mode="overwrite",
        partition_by=after)
    want = dt.changes(ds_spark, 0, 1)
    got = (ds_spark.read.format("minerva_delta")
           .option("readChangeFeed", "true")
           .option("startingVersion", 0).load(p))
    cols = sorted(want.columns)

    def canon(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    assert canon(got) == canon(want)
    assert sorted((r.id, r.grp, r._change_type, r._commit_version)
                  for r in got.collect()) == [
        (1, "a", "delete", 1), (1, "a", "insert", 0),
        (2, "b", "delete", 1), (2, "b", "insert", 0),
        (3, "a", "insert", 1), (4, "b", "insert", 1)]


def test_batch_cdf_version_range_and_refusals(ds_spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(ds_spark, p)
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(50, "x", 1.0)], "id long, grp string, value double"))
    got = (ds_spark.read.format("minerva_delta")
           .option("readChangeFeed", "true")
           .option("startingVersion", 2).load(p))
    rows = got.collect()
    assert {r.id for r in rows} == {50}
    assert all(r._change_type == "insert"
               and r._commit_version == 2 for r in rows)
    import pytest as _pytest
    with _pytest.raises(Exception, match="missing"):
        (ds_spark.read.format("minerva_delta")
         .option("readChangeFeed", "true")
         .option("startingVersion", 0)
         .option("endingVersion", 99).load(p).collect())
    # missing startingVersion must ERROR (delta-spark parity), not
    # silently read the full history
    with _pytest.raises(Exception, match="startingVersion"):
        (ds_spark.read.format("minerva_delta")
         .option("readChangeFeed", "true").load(p).collect())


def test_max_files_per_trigger_offset_walk(ds_spark, tmp_path):
    """Admission control at the offset level: after the blind first
    offset (the API reveals no start), each latestOffset advances
    whole commits while their cumulative dataChange-add file count
    stays within the cap — always at least one commit."""
    from python_minerva_etl_spark.streaming.delta_source import (
        _StreamReader)

    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    # v0: 2 files (repartition(2)); v1..v3: 1 file each
    dt.write(ds_spark, ds_spark.range(4).toDF("id")
             .repartition(2))
    for i in range(1, 4):
        dt.write(ds_spark,
                 ds_spark.range(i * 10, i * 10 + 2).toDF("id")
                 .coalesce(1))

    r = _StreamReader({"path": p, "maxFilesPerTrigger": "2"})
    # blind first call: uncapped
    assert r.latestOffset() == {"version": 3}
    # four more single-file commits arrive against the live stream
    for i in range(4, 8):
        dt.write(ds_spark,
                 ds_spark.range(i * 10, i * 10 + 2).toDF("id")
                 .coalesce(1))
    assert r.latestOffset() == {"version": 5}   # v4+v5 = 2 files
    assert r.latestOffset() == {"version": 7}
    assert r.latestOffset() == {"version": 7}   # drained: no churn

    # a commit BIGGER than the cap still goes through alone
    dt.write(ds_spark, ds_spark.range(100, 112).toDF("id")
             .repartition(4))
    assert r.latestOffset() == {"version": 8}

    # restart replaying an uncommitted batch primes via partitions
    r2 = _StreamReader({"path": p, "maxFilesPerTrigger": "1"})
    r2.partitions({"version": 5}, {"version": 7})
    dt.write(ds_spark, ds_spark.range(200, 202).toDF("id")
             .coalesce(1))
    assert r2.latestOffset() == {"version": 8}
    assert r2.latestOffset() == {"version": 9}

    # startingVersion + initialOffset-first order (future-proof)
    r3 = _StreamReader({"path": p, "maxFilesPerTrigger": "1",
                        "startingVersion": "6"})
    r3.initialOffset()
    assert r3.latestOffset() == {"version": 6}

    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        _StreamReader({"path": p, "maxFilesPerTrigger": "0"})


def test_max_files_per_trigger_live_stream(ds_spark, tmp_path):
    """End-to-end admission control on the delta streaming source:
    commits landing against a LIVE stream drain one per micro-batch
    under maxFilesPerTrigger=1, every row exactly once."""
    import time
    import uuid as _uuid

    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.range(10).toDF("id").coalesce(1))
    sink = f"dmft_{_uuid.uuid4().hex[:8]}"
    q = (ds_spark.readStream.format("minerva_delta")
         .option("maxFilesPerTrigger", "1").load(p)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append")
         .trigger(processingTime="250 milliseconds").start())
    try:
        deadline = time.time() + 120
        while (ds_spark.table(sink).count() < 10
               and time.time() < deadline):
            time.sleep(0.25)
        assert ds_spark.table(sink).count() == 10
        for i in range(1, 5):
            dt.write(ds_spark,
                     ds_spark.range(i * 10, (i + 1) * 10)
                     .toDF("id").coalesce(1))
        while (ds_spark.table(sink).count() < 50
               and time.time() < deadline):
            time.sleep(0.25)
        got = _rows(ds_spark.table(sink).select("id"))
        assert got == [(i,) for i in range(50)]
        sizes = [int(pr["numInputRows"]) for pr in q.recentProgress
                 if int(pr["batchId"]) >= 1
                 and int(pr["numInputRows"]) > 0]
        # each post-first batch took at most one commit (10 rows)
        assert sizes and max(sizes) <= 10 and len(sizes) >= 4
    finally:
        q.stop()


def test_batch_version_as_of_reads_that_versions_schema(ds_spark,
                                                        tmp_path):
    """The source declares the schema of the version it reads:
    ``versionAsOf`` before an add-column evolution returns the old
    columns, as read_delta does, instead of a schema mismatch."""
    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(ds_spark, ds_spark.createDataFrame([(1,)], "id long"))
    dt.write(ds_spark, ds_spark.createDataFrame(
        [(2, "x")], "id long, v string"), merge_schema=True)
    got = (ds_spark.read.format("minerva_delta")
           .option("versionAsOf", 0).load(p))
    assert got.columns == dt.read(ds_spark, 0).columns == ["id"]
    assert _rows(got) == [(1,)]


def test_sink_refuses_column_mapped_table(ds_spark, tmp_path):
    """The sink's executors stage logical column names, which a
    column-mapped table's readers never resolve: an append refuses
    before any file is written instead of landing rows that read
    back as nulls."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_delta_cm import _add, _fld, _log

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-a": pa.array([1], pa.int64()),
                             "col-b": pa.array(["x"])}),
                   os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-a", 1),
             _fld("v", "string", "col-b", 2)], [_add("f0.parquet")])
    with pytest.raises(Exception, match="column-mapped"):
        (ds_spark.createDataFrame([(2, "y")], "id long, v string")
         .write.format("minerva_delta").mode("append").save(p))
    assert sorted(os.listdir(p)) == ["_delta_log", "f0.parquet"]
    assert _rows(DeltaTable(p).read(ds_spark)) == [(1, "x")]
