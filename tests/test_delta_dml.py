"""Delta row-level DML: merge-on-read UPDATE and MERGE INTO
(deletion-vector mask + new data files, no full-file rewrite), the
change-data-feed WRITE path (cdc actions + ``_change_data/`` files
per PROTOCOL.md "Add CDC File" — a DV remove+add pair is not in the
derivable subset, so CDF writers must materialize the change), and
SET TBLPROPERTIES with its changeDataFeed protocol upgrade."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from python_minerva_etl_spark.storage.delta import (DeltaTable,
                                                    merge_delta,
                                                    set_delta_properties,
                                                    update_delta,
                                                    write_delta)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _commit_actions(p, v):
    with open(os.path.join(p, "_delta_log", f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _table(spark, p, n=10):
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(n)],
        "id long, user string, value double")
    write_delta(spark, df, p)
    return DeltaTable(p)


# ------------------------------------------------------------ UPDATE

def test_update_rewrites_matching_rows_only(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    v = dt.update(spark, {"value": "value * 10"}, "id >= 7")
    assert v == 1
    assert _rows(dt.read(spark).select("id", "value")) == sorted(
        [(i, float(i) * (10 if i >= 7 else 1)) for i in range(10)])


def test_update_no_match_is_a_noop_without_commit(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    assert dt.update(spark, {"value": "0.0"}, "id > 99") is None
    assert dt.versions() == [0]


def test_update_unknown_column_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    with pytest.raises(ValueError, match="unknown columns"):
        dt.update(spark, {"nope": "1"}, "id = 0")


def test_update_does_not_rewrite_untouched_files(spark, tmp_path):
    # merge-on-read: the old data file survives physically (DV-masked)
    # and the updated rows land in NEW files
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    before = {f["path"] for f in dt._replay()["files"]}
    dt.update(spark, {"value": "-1.0"}, "id = 3")
    after = dt._replay()["files"]
    masked = [f for f in after if f.get("deletionVector")]
    assert masked and all(f["path"] in before for f in masked)
    new = [f for f in after if f["path"] not in before]
    assert new and all(not f.get("deletionVector") for f in new)
    for f in masked:
        assert os.path.exists(os.path.join(p, f["path"]))


def test_update_moves_rows_across_partitions(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(8)],
        "id long, bucket int, value double")
    DeltaTable(p).write(spark, df, partition_by=["bucket"])
    dt = DeltaTable(p)
    dt.update(spark, {"bucket": "9"}, "id = 4")
    got = _rows(dt.read(spark).select("id", "bucket"))
    assert (4, 9) in got and (4, 0) not in got
    # the moved row physically lives under its new Hive dir
    moved = [f["path"] for f in dt._replay()["files"]
             if f["partitionValues"].get("bucket") == "9"]
    assert moved and all(m.startswith("bucket=9/") for m in moved)


def test_update_composes_with_prior_delete_dv(spark, tmp_path):
    # a file already carrying a DV gets the union (a DV replaces its
    # predecessor wholesale) and deleted rows can't be updated
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    dt.delete(spark, "id IN (1, 2)")
    dt.update(spark, {"value": "100.0"}, "id <= 3")
    got = dict(_rows(dt.read(spark).select("id", "value")))
    assert 1 not in got and 2 not in got
    assert got[0] == 100.0 and got[3] == 100.0 and got[4] == 4.0


def test_update_all_rows_when_where_omitted(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=5)
    dt.update(spark, {"user": F.lit("x")})
    assert set(r[0] for r in dt.read(spark)
               .select("user").collect()) == {"x"}


def test_update_refused_on_append_only_table(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p)
    dt.set_properties({"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="append-only"):
        dt.update(spark, {"value": "0.0"}, "id = 0")


@pytest.mark.parametrize("verb", ["update", "merge", "replace_where"])
def test_failed_dml_removes_its_staged_deletion_vectors(spark, tmp_path,
                                                        verb):
    """A DML that raises while writing its new rows (an ANSI cast
    error, after the deletion vectors of the matched rows are written)
    leaves the table directory as it was."""
    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(2000)],
        "id long, user string, value double").coalesce(1), p)
    dt = DeltaTable(p)
    src = spark.createDataFrame(
        [(i, f"x{i}", f"{-i}") for i in range(1000, 3000)],
        "id long, user string, value string")

    def tree():
        return sorted(os.path.relpath(os.path.join(d, n), p)
                      for d, _dirs, names in os.walk(p) for n in names)

    before = tree()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            if verb == "update":
                dt.update(spark, {"value": "user"}, "id % 2 = 0")
            elif verb == "merge":
                dt.merge(spark, src, "t.id = s.id",
                         when_matched_update={"value": "s.value"},
                         when_not_matched_insert={"id": "s.id",
                                                  "value": "s.user"})
            else:
                dt.replace_where(spark, src.withColumn("value",
                                                       F.col("user")),
                                 "id >= 1000")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert tree() == before
    assert dt.read(spark).count() == 2000


# ------------------------------------------------------------- MERGE

def test_merge_update_and_insert(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=5)
    src = spark.createDataFrame(
        [(3, "s3", 33.0), (4, "s4", 44.0), (7, "s7", 77.0)],
        "id long, user string, value double")
    v = dt.merge(spark, src, "t.id = s.id",
                 when_matched_update={"value": "s.value",
                                      "user": "s.user"},
                 when_not_matched_insert=True)
    assert v == 1
    got = _rows(dt.read(spark))
    assert (3, "s3", 33.0) in got and (7, "s7", 77.0) in got
    assert (0, "u0", 0.0) in got and len(got) == 6


def test_merge_ambiguous_source_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=5)
    src = spark.createDataFrame(
        [(3, "a", 1.0), (3, "b", 2.0)],
        "id long, user string, value double")
    with pytest.raises(ValueError, match="multiple source rows"):
        dt.merge(spark, src, "t.id = s.id",
                 when_matched_update={"value": "s.value"})


def test_merge_delete_clause_with_condition(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=6)
    src = spark.createDataFrame(
        [(1, True), (2, False), (3, True)], "id long, drop boolean")
    dt.merge(spark, src, "t.id = s.id",
             when_matched_update={"value": "t.value + 100"},
             when_matched_delete="s.drop",
             when_not_matched_insert=False)
    got = dict((r[0], r[2]) for r in dt.read(spark).collect())
    assert 1 not in got and 3 not in got
    assert got[2] == 102.0 and got[0] == 0.0


def test_merge_unconditional_delete_plus_update_refused(spark,
                                                        tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=3)
    src = spark.range(1).toDF("id")
    with pytest.raises(ValueError, match="no rows to update"):
        dt.merge(spark, src, "t.id = s.id",
                 when_matched_update={"value": "0.0"},
                 when_matched_delete=True)


def test_merge_insert_mapping_fills_unlisted_with_null(spark,
                                                       tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=2)
    src = spark.createDataFrame([(5,), (1,)], "key long")
    dt.merge(spark, src, "t.id = s.key",
             when_not_matched_insert={"id": "s.key",
                                      "value": "s.key * 1.5"})
    got = _rows(dt.read(spark))
    assert (5, None, 7.5) in got and len(got) == 3


def test_merge_insert_only_noop_returns_none(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=3)
    src = spark.createDataFrame(
        [(1, "u", 9.0)], "id long, user string, value double")
    assert dt.merge(spark, src, "t.id = s.id",
                    when_not_matched_insert=True) is None
    assert dt.versions() == [0]


def test_merge_insert_only_legal_on_append_only(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=3)
    dt.set_properties({"delta.appendOnly": "true"})
    src = spark.createDataFrame(
        [(9, "u9", 9.0)], "id long, user string, value double")
    dt.merge(spark, src, "t.id = s.id",
             when_not_matched_insert=True)
    assert (9, "u9", 9.0) in _rows(dt.read(spark))
    with pytest.raises(ValueError, match="append-only"):
        dt.merge(spark, src, "t.id = s.id",
                 when_matched_update={"value": "0.0"})


def test_merge_insert_true_requires_all_columns(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=2)
    src = spark.createDataFrame([(5,)], "id long")
    with pytest.raises(ValueError, match="lacks table columns"):
        dt.merge(spark, src, "t.id = s.id",
                 when_not_matched_insert=True)


# ------------------------------------------- change data feed WRITE

def _cdf_table(spark, p, n=10):
    dt = _table(spark, p, n)
    dt.set_properties({"delta.enableChangeDataFeed": "true"})
    return dt


def test_set_properties_upgrades_protocol_writer_only(spark,
                                                      tmp_path):
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p)
    proto = dt._replay()["protocol"]
    assert proto["minWriterVersion"] == 7
    assert "changeDataFeed" in proto["writerFeatures"]
    # no reader feature involved: old readers keep working
    assert proto["minReaderVersion"] == 1
    assert "readerFeatures" not in proto


def test_set_properties_idempotent(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p)
    v = dt.versions()[-1]
    assert dt.set_properties(
        {"delta.enableChangeDataFeed": "true"}) == v
    assert dt.versions()[-1] == v  # no empty commit


def test_update_writes_pre_and_post_images(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p)
    v = dt.update(spark, {"value": "value * 10"}, "id >= 8")
    acts = _commit_actions(p, v)
    cdc = [a["cdc"] for a in acts if a.get("cdc")]
    assert cdc and all(c["path"].startswith("_change_data/")
                       and c["dataChange"] is False for c in cdc)
    ch = dt.changes(spark, v, v)
    got = sorted((r["id"], r["_change_type"], r["value"])
                 for r in ch.collect())
    assert got == [(8, "update_postimage", 80.0),
                   (8, "update_preimage", 8.0),
                   (9, "update_postimage", 90.0),
                   (9, "update_preimage", 9.0)]


def test_delete_writes_cdc_rows_on_cdf_table(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p, n=6)
    v = dt.delete(spark, "id < 2")
    acts = _commit_actions(p, v)
    assert any(a.get("cdc") for a in acts)
    ch = dt.changes(spark, v, v)
    assert sorted((r["id"], r["_change_type"])
                  for r in ch.collect()) == [(0, "delete"),
                                             (1, "delete")]


def test_merge_cdf_mixes_all_change_types(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p, n=5)
    src = spark.createDataFrame(
        [(0, "z", 0.5), (1, "z", 1.5), (8, "z", 8.0)],
        "id long, user string, value double")
    v = dt.merge(spark, src, "t.id = s.id",
                 when_matched_update={"value": "s.value"},
                 when_matched_delete="t.id = 1",
                 when_not_matched_insert=True)
    ch = dt.changes(spark, v, v)
    got = sorted((r["id"], r["_change_type"], r["value"])
                 for r in ch.collect())
    assert got == [(0, "update_postimage", 0.5),
                   (0, "update_preimage", 0.0),
                   (1, "delete", 1.0),
                   (8, "insert", 8.0)]


def test_cdf_update_on_partitioned_table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(6)],
        "id long, bucket int, value double")
    DeltaTable(p).write(spark, df, partition_by=["bucket"])
    dt = DeltaTable(p)
    dt.set_properties({"delta.enableChangeDataFeed": "true"})
    v = dt.update(spark, {"value": "-1.0"}, "id = 3")
    # cdc files are Hive-partitioned like data files and the feed
    # reconstructs the partition column
    got = sorted((r["id"], r["bucket"], r["_change_type"],
                  r["value"]) for r in
                 dt.changes(spark, v, v).collect())
    assert got == [(3, 1, "update_postimage", -1.0),
                   (3, 1, "update_preimage", 3.0)]


def test_cdf_feed_spans_insert_update_delete(spark, tmp_path):
    # a full feed over several commits: derived inserts (plain
    # appends need no cdc per the protocol's derivable subset) mix
    # with materialized updates/deletes
    p = str(tmp_path / "t")
    dt = _cdf_table(spark, p, n=4)
    dt.update(spark, {"value": "42.0"}, "id = 0")
    dt.delete(spark, "id = 1")
    ch = dt.changes(spark, 0)
    counts = dict((r["_change_type"], r["n"]) for r in
                  ch.groupBy("_change_type")
                  .agg(F.count("*").alias("n")).collect())
    assert counts == {"insert": 4, "update_preimage": 1,
                      "update_postimage": 1, "delete": 1}


def test_no_cdc_written_without_table_property(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=4)
    v = dt.update(spark, {"value": "0.0"}, "id = 0")
    assert not any(a.get("cdc") for a in _commit_actions(p, v))
    assert not os.path.exists(os.path.join(p, "_change_data"))
    # the derived feed still reconstructs the update as delete+insert
    ch = dt.changes(spark, v, v)
    assert sorted(r["_change_type"] for r in ch.collect()) == [
        "delete", "insert"]


def test_module_level_wrappers(spark, tmp_path):
    p = str(tmp_path / "t")
    _table(spark, p, n=3)
    set_delta_properties(p, {"delta.enableChangeDataFeed": "true"})
    update_delta(spark, p, {"value": "9.0"}, "id = 2")
    src = spark.createDataFrame(
        [(5, "u5", 5.0)], "id long, user string, value double")
    merge_delta(spark, p, src, "t.id = s.id",
                when_not_matched_insert=True)
    got = _rows(DeltaTable(p).read(spark).select("id", "value"))
    assert (2, 9.0) in got and (5, 5.0) in got


def test_replace_where_predicate_scoped_overwrite(spark, tmp_path):
    """replaceWhere (the backfill idiom): one commit DV-masks every
    row matching the predicate and lands the replacement rows; the
    incoming rows must satisfy the predicate; CDF tables materialize
    delete + insert change rows; appendOnly refuses."""
    p = str(tmp_path / "t")
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(i, "jan" if i < 5 else "feb", float(i)) for i in range(10)],
        "id long, month string, val double"), partition_by=["month"])
    fixed = spark.createDataFrame(
        [(100, "jan", 9.9), (101, "jan", 8.8)],
        "id long, month string, val double")
    v = dt.replace_where(spark, fixed, "month = 'jan'")
    got = {r.id for r in dt.read(spark).collect()}
    assert got == {100, 101, 5, 6, 7, 8, 9}
    # atomic: the pre-replace snapshot is intact
    assert len(dt.read(spark, v - 1).collect()) == 10
    with pytest.raises(ValueError, match="violate the predicate"):
        dt.replace_where(spark, spark.createDataFrame(
            [(1, "mar", 0.0)],
            "id long, month string, val double"), "month = 'jan'")
    with pytest.raises(ValueError, match="lacks table columns"):
        dt.replace_where(spark, spark.createDataFrame(
            [(1,)], "id long"), "month = 'jan'")
    # CDF: delete + insert images in one version
    p2 = str(tmp_path / "t2")
    dt2 = DeltaTable(p2)
    dt2.write(spark, spark.createDataFrame([(1, "a")],
                                           "id long, v string"))
    dt2.set_properties({"delta.enableChangeDataFeed": "true"})
    v2 = dt2.replace_where(spark, spark.createDataFrame(
        [(2, "a")], "id long, v string"), "v = 'a'")
    kinds = sorted((r.id, r._change_type)
                   for r in dt2.changes(spark, v2, v2).collect())
    assert kinds == [(1, "delete"), (2, "insert")]
    # no match + empty df = no commit
    assert dt2.replace_where(
        spark, spark.createDataFrame([], "id long, v string"),
        "v = 'zzz'") is None
    # appendOnly refuses
    p3 = str(tmp_path / "t3")
    dt3 = DeltaTable(p3)
    dt3.write(spark, spark.createDataFrame([(1, "a")],
                                           "id long, v string"))
    dt3.set_properties({"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="append-only"):
        dt3.replace_where(spark, spark.createDataFrame(
            [(2, "a")], "id long, v string"), "v = 'a'")


def test_merge_null_delete_condition_is_update_not_loss(spark,
                                                        tmp_path):
    """ADVICE r6 (high): a matched row whose delete condition
    evaluates to NULL must be treated as delete-condition FALSE (SQL
    MERGE clause semantics) and fall into the update set — before the
    eqNullSafe fix it was DV-masked but neither kept as deleted nor
    rewritten, i.e. silently lost."""
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=4)
    src = spark.createDataFrame(
        [(1, True), (2, None), (3, False)],
        "id long, drop boolean")
    dt.merge(spark, src, "t.id = s.id",
             when_matched_update={"value": "t.value + 100"},
             when_matched_delete="s.drop",
             when_not_matched_insert=False)
    got = dict((r[0], r[2]) for r in dt.read(spark).collect())
    assert 1 not in got                     # delete cond TRUE
    assert got[2] == 102.0                  # NULL -> update, not loss
    assert got[3] == 103.0                  # FALSE -> update
    assert got[0] == 0.0 and len(got) == 3


def test_replace_where_null_predicate_rows_are_violations(spark,
                                                          tmp_path):
    """ADVICE r6 (low): incoming rows whose replaceWhere predicate
    evaluates to NULL must be rejected, not silently written outside
    the replaced region."""
    p = str(tmp_path / "t")
    dt = _table(spark, p, n=3)
    bad = spark.createDataFrame(
        [(None, "u9", 9.0)], "id long, user string, value double")
    with pytest.raises(ValueError, match="violate the predicate"):
        dt.replace_where(spark, bad, "id >= 1")
