"""Iceberg merge-on-read UPDATE and MERGE INTO: round-trips through
OUR reader, one-snapshot commit shape (data + delete manifest),
snapshot operation semantics (overwrite vs append), partition moves,
no-resurrection of previously deleted rows, and time travel across
DML commits.  Mirrors the Delta DML suite (test_delta_dml.py)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from python_minerva_etl_spark.storage.avro_file import _avro_file, avro_read
from python_minerva_etl_spark.storage.iceberg import (
    IcebergTable, read_iceberg, read_iceberg_incremental)
from python_minerva_etl_spark.storage.iceberg_write import (
    delete_iceberg, merge_iceberg, update_iceberg, write_iceberg)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _table(spark, p, rows=None):
    rows = rows if rows is not None else [
        (i, f"n{i}", i * 10) for i in range(10)]
    write_iceberg(spark, spark.createDataFrame(
        rows, "id long, name string, val long"), p)


def _snap(p):
    md = IcebergTable(p).metadata()
    cur = md["current-snapshot-id"]
    return next(s for s in md["snapshots"]
                if s["snapshot-id"] == cur)


# ------------------------------------------------------------- UPDATE


def test_update_roundtrip_and_commit_shape(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    data_before = sorted(os.listdir(os.path.join(p, "data")))
    n = update_iceberg(spark, p, {"val": F.col("val") + 1},
                       [("id", "<", 3)])
    assert n == 3
    got = {r.id: r.val for r in read_iceberg(spark, p).collect()}
    assert got[0] == 1 and got[1] == 11 and got[2] == 21
    assert got[3] == 30 and len(got) == 10
    # merge-on-read: every pre-update data file is still on disk,
    # untouched; the commit ADDED files (rewritten rows + deletes)
    data_after = sorted(os.listdir(os.path.join(p, "data")))
    assert set(data_before) < set(data_after)
    # ONE snapshot carrying both manifests
    snap = _snap(p)
    assert snap["summary"]["operation"] == "overwrite"
    with open(snap["manifest-list"], "rb") as fh:
        _, manifests = avro_read(fh.read())
    own = [m for m in manifests
           if m["added_snapshot_id"] == snap["snapshot-id"]]
    assert sorted(m.get("content", 0) for m in own) == [0, 1]
    # time travel: the pre-update snapshot still reads old values
    old = {r.id: r.val for r in
           read_iceberg(spark, p, snapshot_id=1).collect()}
    assert old[0] == 0 and old[2] == 20


def test_update_sql_exprs_old_row_and_all_rows(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    # SET expressions see the OLD row; where=None updates every row
    n = update_iceberg(spark, p, {"val": "val * 2",
                                  "name": "concat(name, '!')"})
    assert n == 10
    got = {r.id: (r.name, r.val)
           for r in read_iceberg(spark, p).collect()}
    assert got[4] == ("n4!", 80)


def test_update_noop_and_unknown_column(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    mdir = os.path.join(p, "metadata")
    before = sorted(os.listdir(mdir))
    assert update_iceberg(spark, p, {"val": "val + 1"},
                          [("id", ">", 99)]) == 0
    assert sorted(os.listdir(mdir)) == before  # no commit
    with pytest.raises(ValueError, match="unknown columns"):
        update_iceberg(spark, p, {"nope": "1"})


def test_update_never_resurrects_position_deleted_rows(spark,
                                                       tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    assert delete_iceberg(spark, p, [("id", "<", 3)]) == 3
    # an unfiltered update touches only the 7 LIVE rows
    assert update_iceberg(spark, p, {"val": "val + 1"}) == 7
    got = _rows(read_iceberg(spark, p).select("id"))
    assert got == [(i,) for i in range(3, 10)]


def test_update_moves_rows_across_partitions(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", i) for i in range(8)],
        "id long, par string, val long"), p, partition_by="par")
    n = update_iceberg(spark, p, {"par": F.lit("even")},
                       [("par", "=", "odd")])
    assert n == 4
    rows = read_iceberg(spark, p).collect()
    assert len(rows) == 8 and all(r.par == "even" for r in rows)
    # partition pruning still consistent after the move
    assert read_iceberg(spark, p,
                        where=[("par", "=", "odd")]).count() == 0
    assert read_iceberg(spark, p,
                        where=[("par", "=", "even")]).count() == 8
    # the rewritten files physically live under the new Hive dir
    assert any(e.name == "par=even"
               for e in os.scandir(os.path.join(p, "data")))


# -------------------------------------------------------------- MERGE


def test_merge_update_and_insert(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    src = spark.createDataFrame(
        [(2, "two", 222), (42, "forty", 420)],
        "id long, name string, val long")
    sid = merge_iceberg(spark, p, src, "t.id = s.id",
                        when_matched_update={"val": "s.val",
                                             "name": "s.name"},
                        when_not_matched_insert=True)
    assert sid == _snap(p)["snapshot-id"]
    assert _snap(p)["summary"]["operation"] == "overwrite"
    got = {r.id: (r.name, r.val)
           for r in read_iceberg(spark, p).collect()}
    assert got[2] == ("two", 222)
    assert got[42] == ("forty", 420)
    assert got[3] == ("n3", 30) and len(got) == 11


def test_merge_delete_clause_wins_over_update(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    src = spark.createDataFrame(
        [(1, 0), (2, 1)], "id long, kill int")
    merge_iceberg(spark, p, src, "t.id = s.id",
                  when_matched_update={"val": "t.val + 100"},
                  when_matched_delete="s.kill = 1",
                  when_not_matched_insert=False)
    got = {r.id: r.val for r in read_iceberg(spark, p).collect()}
    assert 2 not in got            # deleted
    assert got[1] == 110           # updated (delete cond false)
    assert got[3] == 30 and len(got) == 9


def test_merge_insert_only_is_append_snapshot(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    cur = IcebergTable(p).metadata()["current-snapshot-id"]
    sid = merge_iceberg(
        spark, p,
        spark.createDataFrame([(2, "x", 0), (100, "new", 1)],
                              "id long, name string, val long"),
        "t.id = s.id", when_not_matched_insert=True)
    assert _snap(p)["summary"]["operation"] == "append"
    # an incremental APPEND scan accepts it (matched DML would refuse)
    assert _rows(read_iceberg_incremental(spark, p, cur)
                 .select("id")) == [(100,)]
    # ... and an overwrite snapshot in range refuses
    update_iceberg(spark, p, {"val": "val + 1"}, [("id", "=", 100)])
    with pytest.raises(ValueError, match="overwrite"):
        read_iceberg_incremental(spark, p, cur).collect()
    assert sid is not None


def test_merge_insert_mapping_and_missing_columns(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    narrow = spark.createDataFrame([(200,)], "id long")
    with pytest.raises(ValueError, match="lacks table columns"):
        merge_iceberg(spark, p, narrow, "t.id = s.id",
                      when_not_matched_insert=True)
    merge_iceberg(spark, p, narrow, "t.id = s.id",
                  when_not_matched_insert={"id": "s.id",
                                           "val": "s.id * 2"})
    got = {r.id: (r.name, r.val)
           for r in read_iceberg(spark, p).collect()}
    assert got[200] == (None, 400)


def test_merge_ambiguity_and_clause_validation(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    dup_src = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2)], "id long, name string, val long")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_iceberg(spark, p, dup_src, "t.id = s.id",
                      when_matched_update={"val": "s.val"})
    with pytest.raises(ValueError, match="leaves no rows"):
        merge_iceberg(spark, p, dup_src, "t.id = s.id",
                      when_matched_update={"val": "s.val"},
                      when_matched_delete=True)
    with pytest.raises(ValueError, match="unknown columns"):
        merge_iceberg(spark, p, dup_src.limit(1), "t.id = s.id",
                      when_matched_update={"nope": "s.val"})


def test_merge_noop_and_empty_table(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    mdir = os.path.join(p, "metadata")
    before = sorted(os.listdir(mdir))
    # no matches, inserts disabled -> no commit, None
    assert merge_iceberg(
        spark, p,
        spark.createDataFrame([(999, "x", 0)],
                              "id long, name string, val long"),
        "t.id = s.id", when_matched_update={"val": "s.val"},
        when_not_matched_insert=False) is None
    assert sorted(os.listdir(mdir)) == before
    # merging into a table whose rows are all deleted still inserts
    delete_iceberg(spark, p, [("id", ">=", 0)])
    merge_iceberg(spark, p,
                  spark.createDataFrame([(7, "back", 70)],
                                        "id long, name string, "
                                        "val long"),
                  "t.id = s.id",
                  when_matched_update={"val": "s.val"},
                  when_not_matched_insert=True)
    assert _rows(read_iceberg(spark, p)) == [(7, "back", 70)]


def _tree(p):
    return sorted(os.path.relpath(os.path.join(d, n), p)
                  for d, _dirs, names in os.walk(p) for n in names)


@pytest.mark.parametrize("verb", ["update", "merge"])
def test_failed_dml_removes_its_staged_delete_files(spark, tmp_path, verb):
    """A DML that raises while writing its new rows (an ANSI cast
    error, after the position deletes of the matched rows are staged)
    leaves the table directory as it was."""
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, f"n{i}", i) for i in range(2000)],
        "id long, name string, val long").coalesce(1), p)
    before = _tree(p)
    src = spark.createDataFrame([(i, f"x{i}", -i) for i in range(1000, 3000)],
                                "id long, name string, val long")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            if verb == "update":
                update_iceberg(spark, p, {"val": "name"}, [("id", ">=", 0)])
            else:
                merge_iceberg(spark, p, src, "t.id = s.id",
                              when_matched_update={"val": "s.val"},
                              when_not_matched_insert={"id": "s.id",
                                                       "val": "s.name"})
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert _tree(p) == before
    assert read_iceberg(spark, p).count() == 2000


# -------------------------- no-resurrection under equality deletes


_EQ_ICE_SCHEMA = {
    "type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "string"},
    ]}

_EQ_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array",
                                   "items": "int"}]},
            ]}},
    ]}

_EQ_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
    ]}


def test_update_respects_foreign_equality_deletes(spark, tmp_path):
    """A Flink-style table with an equality delete: UPDATE must not
    rewrite (resurrect) the equality-deleted row, and the rewritten
    rows land at a HIGHER sequence number than every existing delete
    so they survive the scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    a = os.path.join(root, "data", "a.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                             "v": pa.array(["a", "b", "c"],
                                           pa.string())}), a)
    dfile = os.path.join(root, "data", "eqdel.parquet")
    pq.write_table(pa.table({"v": pa.array(["b"], pa.string())}),
                   dfile)

    def entry(path, seq, content=0, eq_ids=None, nrec=1):
        return {"status": 1, "snapshot_id": 1,
                "sequence_number": seq,
                "data_file": {"content": content, "file_path": path,
                              "file_format": "PARQUET",
                              "record_count": nrec,
                              "file_size_in_bytes": 1,
                              "equality_ids": eq_ids}}

    m0 = os.path.join(root, "metadata", "em0.avro")
    with open(m0, "wb") as fh:
        fh.write(_avro_file(_EQ_ENTRY_SCHEMA,
                            [entry(a, 1, nrec=3)]))
    m1 = os.path.join(root, "metadata", "em1.avro")
    with open(m1, "wb") as fh:
        fh.write(_avro_file(_EQ_ENTRY_SCHEMA,
                            [entry(dfile, 2, content=2,
                                   eq_ids=[2])]))
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_EQ_LIST_SCHEMA, [
            {"manifest_path": m0, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0,
             "sequence_number": 1},
            {"manifest_path": m1, "manifest_length": 1,
             "partition_spec_id": 0, "content": 1,
             "sequence_number": 2}]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "last-sequence-number": 2,
          "schemas": [_EQ_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml,
                         "sequence-number": 1,
                         "summary": {"operation": "append"}}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)

    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (3, "c")]
    # the eq-deleted row (2, 'b') must NOT come back
    n = update_iceberg(spark, root, {"v": "upper(v)"})
    assert n == 2
    assert _rows(read_iceberg(spark, root)) == [(1, "A"), (3, "C")]


def test_merge_null_delete_condition_is_update_not_loss(spark,
                                                        tmp_path):
    """ADVICE r6 (medium): the Iceberg twin of the Delta NULL
    delete-condition fix — a matched row whose delete condition is
    NULL is position-deleted, so it MUST be re-staged by the update
    clause (NULL counts as delete-condition FALSE)."""
    p = str(tmp_path / "t")
    _table(spark, p)
    src = spark.createDataFrame(
        [(1, 1), (2, None), (3, 0)], "id long, kill int")
    merge_iceberg(spark, p, src, "t.id = s.id",
                  when_matched_update={"val": "t.val + 100"},
                  when_matched_delete="s.kill = 1",
                  when_not_matched_insert=False)
    got = {r.id: r.val for r in read_iceberg(spark, p).collect()}
    assert 1 not in got                    # delete cond TRUE
    assert got[2] == 120                   # NULL -> update, not loss
    assert got[3] == 130                   # FALSE -> update


def test_retry_dml_refuses_when_compaction_rewrote_target_files(
        spark, tmp_path):
    """ADVICE r6 (medium): staged position deletes address specific
    data files; if a concurrent compaction/overwrite replaces those
    files between the DML's scan and its commit, the commit must
    refuse (rerun the DML) instead of silently resurrecting the
    deleted rows."""
    from python_minerva_etl_spark.storage.iceberg import IcebergTable
    from python_minerva_etl_spark.storage.iceberg_write import (
        IcebergConcurrentCommit, _commit, _deletes_still_apply,
        _live_rows, _position_hits, _stage_position_deletes,
        compact_iceberg)

    p = str(tmp_path / "t")
    _table(spark, p)
    write_iceberg(spark, spark.createDataFrame(
        [(100, "x", 1)], "id long, name string, val long"), p)
    table = IcebergTable(p)
    live, files = _live_rows(spark,
                             table._read_plan(where=[("id", "<", 3)]))
    del_entries, n, refd = _stage_position_deletes(
        spark, p, _position_hits(spark, live, files))
    assert n == 3 and refd
    # concurrent compaction replaces every data file
    assert compact_iceberg(spark, p) is not None
    with pytest.raises(IcebergConcurrentCommit, match="rerun the DML"):
        _commit(table, "delete", deletes=del_entries,
                conflict=_deletes_still_apply(table, refd, "delete"))
    # nothing was committed: all 11 rows still live
    assert read_iceberg(spark, p).count() == 11


# ------------------------------------------------- equality deletes


def test_equality_delete_blind_write_and_reinsert_survives(
        spark, tmp_path):
    """Spec 'Equality Delete Files': rows matching the staged keys
    vanish, but a LATER re-insert of the same key survives (sequence
    ordering) — the streaming-upsert delete shape."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    _table(spark, p)
    sid = equality_delete_iceberg(
        spark, p, spark.createDataFrame([(1,), (3,)], "id long"))
    assert sid == _snap(p)["snapshot-id"]
    got = {r.id for r in read_iceberg(spark, p).collect()}
    assert got == {0, 2, 4, 5, 6, 7, 8, 9}
    # re-insert id=1: its data file has a HIGHER sequence number than
    # the delete, so it must survive the equality delete
    write_iceberg(spark, spark.createDataFrame(
        [(1, "back", 111)], "id long, name string, val long"), p)
    got = {r.id: r.val for r in read_iceberg(spark, p).collect()}
    assert got[1] == 111 and 3 not in got and len(got) == 9


def test_equality_delete_multi_column_and_via_delete_iceberg(
        spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p)
    n = delete_iceberg(spark, p,
                       [("id", "=", 2), ("name", "=", "n2")],
                       equality=True)
    assert n == 1
    got = {r.id for r in read_iceberg(spark, p).collect()}
    assert got == set(range(10)) - {2}
    # mixed-op predicates refuse the equality form
    with pytest.raises(ValueError, match="'=' predicates only"):
        delete_iceberg(spark, p, [("id", "<", 5)], equality=True)


def test_equality_delete_null_key_matches_is_null(spark, tmp_path):
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    _table(spark, p, rows=[(1, None, 10), (2, "b", 20), (3, None, 30)])
    equality_delete_iceberg(
        spark, p, spark.createDataFrame([(None,)], "name string"))
    got = {r.id for r in read_iceberg(spark, p).collect()}
    assert got == {2}


def test_equality_delete_rejects_unknown_columns(spark, tmp_path):
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    _table(spark, p)
    with pytest.raises(ValueError, match="not primitive table"):
        equality_delete_iceberg(
            spark, p, spark.createDataFrame([(1,)], "nope long"))


def test_equality_delete_manifest_shape(spark, tmp_path):
    """The committed delete manifest carries content=2 entries with
    the key columns' field ids — the exact shape the reader (and a
    foreign engine) resolves."""
    from python_minerva_etl_spark.storage.iceberg import IcebergTable
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    _table(spark, p)
    equality_delete_iceberg(
        spark, p, spark.createDataFrame([(5,)], "id long"))
    t = IcebergTable(p)
    md = t.metadata()
    _data, deletes = t._data_files(t._snapshot(md, None))
    eq = [d for d in deletes if d.get("content") == 2]
    assert len(eq) == 1
    ids = {f["name"]: f["id"] for f in t._current_schema(md)["fields"]}
    assert eq[0]["equality_ids"] == [ids["id"]]
    assert eq[0]["_seq"] is not None
