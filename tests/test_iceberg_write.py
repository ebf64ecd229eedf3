"""Iceberg v2 append path: round-trips through OUR reader, snapshot
semantics, CAS commit discipline, and a structural diff against an
independently-authored fixture (the in-test spec writer from
test_iceberg.py, which shares no code with the package writer)."""

from __future__ import annotations

import json
import os

import pytest

from python_minerva_etl_spark.storage.avro_file import avro_read
from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)
from python_minerva_etl_spark.storage.iceberg_write import (
    IcebergConcurrentCommit, _commit, write_iceberg)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_and_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_iceberg(spark, df, p)
    assert _rows(read_iceberg(spark, p)) == [(1, "a"), (2, "b")]
    t = IcebergTable(p)
    md = t.metadata()
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] == 1
    assert md["last-sequence-number"] == 1
    # nullable columns map to non-required fields
    sch = t._current_schema(md)
    assert [(f["name"], f["required"]) for f in sch["fields"]] == \
        [("id", False), ("v", False)]


def test_multi_append_snapshots_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    write_iceberg(spark, spark.createDataFrame(
        [(2, "b")], "id long, v string"), p)
    write_iceberg(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), p)
    assert _rows(read_iceberg(spark, p)) == [(1, "a"), (2, "b"),
                                             (3, "c")]
    # fast-append carries prior manifests: every snapshot readable
    assert _rows(read_iceberg(spark, p, snapshot_id=1)) == [(1, "a")]
    assert _rows(read_iceberg(spark, p, snapshot_id=2)) == \
        [(1, "a"), (2, "b")]
    # three metadata versions on disk, hint at the newest
    mdir = os.path.join(p, "metadata")
    assert sorted(n for n in os.listdir(mdir)
                  if n.endswith(".metadata.json")) == \
        ["v1.metadata.json", "v2.metadata.json", "v3.metadata.json"]
    assert open(os.path.join(mdir, "version-hint.text")).read() == "3"


def test_schema_mismatch_and_partitioned_refusals(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    with pytest.raises(ValueError, match="does not match table"):
        write_iceberg(spark, spark.createDataFrame(
            [(1.5,)], "id double"), p)
    # an unpartitioned append into a partitioned table is refused
    t = IcebergTable(p)
    md_path = t._metadata_path()
    md = json.load(open(md_path))
    md["partition-specs"] = [{"spec-id": 0, "fields": [
        {"source-id": 1, "field-id": 1000, "name": "id",
         "transform": "identity"}]}]
    json.dump(md, open(md_path, "w"))
    with pytest.raises(ValueError, match="does not match the table"):
        write_iceberg(spark, spark.createDataFrame(
            [(9, "z")], "id long, v string"), p)
    # transform-partitioned tables (round 6): an unpartitioned
    # append still refuses as a spec mismatch, while the MATCHING
    # transform appends fine
    md["partition-specs"] = [{"spec-id": 0, "fields": [
        {"source-id": 1, "field-id": 1000, "name": "id_bucket",
         "transform": "bucket[16]"}]}]
    json.dump(md, open(md_path, "w"))
    with pytest.raises(ValueError, match="does not match"):
        write_iceberg(spark, spark.createDataFrame(
            [(9, "z")], "id long, v string"), p)
    with pytest.raises(ValueError, match="does not match"):
        write_iceberg(spark, spark.createDataFrame(
            [(9, "z")], "id long, v string"), p,
            partition_by="bucket(id, 4)")  # wrong N
    write_iceberg(spark, spark.createDataFrame(
        [(9, "z")], "id long, v string"), p,
        partition_by="bucket(id, 16)")
    assert (9, "z") in _rows(read_iceberg(spark, p))


def test_written_bounds_prune_files(spark, tmp_path):
    """The bounds this writer records must drive the reader's
    file-level pruning: a predicate outside a file's range never
    opens it (proven by deleting the excluded file from disk)."""
    p = str(tmp_path / "t")
    lo = spark.createDataFrame([(i, "x") for i in range(10)],
                               "id long, v string").coalesce(1)
    hi = spark.createDataFrame([(i, "y") for i in range(100, 110)],
                               "id long, v string").coalesce(1)
    write_iceberg(spark, lo, p)
    write_iceberg(spark, hi, p)
    t = IcebergTable(p)
    md = t.metadata()
    files, _ = t._data_files(t._snapshot(md, None))
    # manifest replay keeps both; file pruning is in read()
    from python_minerva_etl_spark.storage.iceberg import \
        _file_may_match
    sch = t._current_schema(md)
    fid = {f["name"]: f["id"] for f in sch["fields"]}
    fty = {f["name"]: f["type"] for f in sch["fields"]}
    kept = [f for f in files
            if _file_may_match(f, [("id", ">=", 100)], fid, fty)]
    assert len(files) == 2 and len(kept) == 1
    # and end-to-end: remove the pruned file; the read still works
    pruned = [f for f in files if f not in kept][0]
    os.remove(pruned["file_path"])
    got = _rows(read_iceberg(spark, p, where=[("id", ">=", 100)]))
    assert got == [(i, "y") for i in range(100, 110)]


def test_concurrent_commit_loser_retries(spark, tmp_path, monkeypatch):
    """A writer that loses the metadata CAS retries against the new
    version and both appends survive."""
    from python_minerva_etl_spark.storage import commit, iceberg_write

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    t = IcebergTable(p)

    # simulate: a racer commits version 2 between the loser's read and
    # its commit, and the loser has one attempt only
    racer = spark.createDataFrame([(2, "b")], "id long, v string")
    version_of = iceberg_write._version_of

    def read_then_race(path):
        monkeypatch.setattr(iceberg_write, "_version_of", version_of)
        v = version_of(path)
        write_iceberg(spark, racer, p)  # now v2 exists
        return v

    monkeypatch.setattr(iceberg_write, "_version_of", read_then_race)
    monkeypatch.setattr(commit, "COMMIT_ATTEMPTS", 1)
    with pytest.raises(IcebergConcurrentCommit):
        _commit(t, "append", data=[{
            "content": 0, "file_path": "/nope.parquet",
            "file_format": "PARQUET", "record_count": 1,
            "file_size_in_bytes": 1, "lower_bounds": None,
            "upper_bounds": None}])
    monkeypatch.undo()
    # the losing racer's manifest/manifest-list litter was cleaned up
    mdir = os.path.join(p, "metadata")
    # write_iceberg's outer retry loop succeeds end-to-end
    write_iceberg(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), p)
    assert _rows(read_iceberg(spark, p)) == [(1, "a"), (2, "b"),
                                             (3, "c")]
    assert not [n for n in os.listdir(mdir) if n.endswith(".tmp")]


def test_structural_diff_vs_independent_fixture(spark, tmp_path):
    """Our written manifest/manifest-list decode (via the package
    avro reader) to the same essential entry shape as the
    independently-authored fixture writer in test_iceberg.py."""
    from tests.test_iceberg import _build_table

    ours = str(tmp_path / "ours")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string").coalesce(1), ours)
    theirs = str(tmp_path / "theirs")
    _build_table(theirs)

    def manifest_entries(root):
        t = IcebergTable(root)
        md = t.metadata()
        snap = t._snapshot(md, None)
        with open(snap["manifest-list"], "rb") as fh:
            _, mlist = avro_read(fh.read())
        with open(mlist[0]["manifest_path"], "rb") as fh:
            _, recs = avro_read(fh.read())
        return mlist, recs

    our_list, our_recs = manifest_entries(ours)
    their_list, their_recs = manifest_entries(theirs)
    # manifest-list: both expose the spec's required scan-planning keys
    for k in ("manifest_path", "manifest_length", "partition_spec_id",
              "content"):
        assert k in our_list[0] and k in their_list[0]
    # manifest entries: same essential data_file shape (pick each
    # manifest's ADDED entry; the fixture's also carries DELETED ones)
    for recs in (our_recs, their_recs):
        e = next(r for r in recs if r["status"] == 1)
        df = e["data_file"]
        assert df["content"] == 0
        assert df["file_format"] == "PARQUET"
        assert df["record_count"] >= 1
        assert os.path.exists(df["file_path"])
    # and ours additionally carries decodable bounds
    lb = our_recs[0]["data_file"]["lower_bounds"]
    assert lb and all({"key", "value"} <= set(kv) for kv in lb)


def test_partitioned_append_roundtrip_and_manifest_pruning(spark,
                                                           tmp_path):
    """Identity-partitioned append: data files keep every schema
    column, partition dirs + manifest partition summaries are
    written, and the reader's MANIFEST-level pruning consumes them —
    proven by deleting the excluded manifest from disk."""
    p = str(tmp_path / "t")
    lo = spark.createDataFrame(
        [(1, 10, "a"), (1, 11, "b"), (2, 12, "c")],
        "day int, id long, v string")
    hi = spark.createDataFrame(
        [(30, 13, "d"), (31, 14, "e")],
        "day int, id long, v string")
    write_iceberg(spark, lo, p, partition_by="day")
    write_iceberg(spark, hi, p, partition_by="day")
    assert _rows(read_iceberg(spark, p)) == [
        (1, 10, "a"), (1, 11, "b"), (2, 12, "c"),
        (30, 13, "d"), (31, 14, "e")]
    # partition dirs exist and files carry ALL columns
    assert os.path.isdir(os.path.join(p, "data", "day=1"))
    import pyarrow.parquet as pq
    f = os.listdir(os.path.join(p, "data", "day=1"))[0]
    names = pq.ParquetFile(
        os.path.join(p, "data", "day=1", f)).schema_arrow.names
    assert set(names) == {"day", "id", "v"}

    # manifest pruning: the lo manifest (days 1-2) must never be
    # opened for day >= 30 — delete it and the filtered read works
    t = IcebergTable(p)
    md = t.metadata()
    snap = t._snapshot(md, None)
    with open(snap["manifest-list"], "rb") as fh:
        _, mlist = avro_read(fh.read())
    assert len(mlist) == 2
    lo_manifest = [m for m in mlist
                   if m["partitions"][0]["upper_bound"] is not None
                   and int.from_bytes(m["partitions"][0]
                                      ["upper_bound"], "little") < 30]
    assert len(lo_manifest) == 1
    os.remove(lo_manifest[0]["manifest_path"])
    got = _rows(read_iceberg(spark, p, where=[("day", ">=", 30)]))
    assert got == [(30, 13, "d"), (31, 14, "e")]


def test_partitioned_append_refusals(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a")], "day int, v string")
    write_iceberg(spark, df, p, partition_by="day")
    # appending unpartitioned to a partitioned table refused
    with pytest.raises(ValueError, match="does not match the table"):
        write_iceberg(spark, df, p)
    # null partition value refused
    with pytest.raises(ValueError, match="null value in partition"):
        write_iceberg(spark, spark.createDataFrame(
            [(None, "x")], "day int, v string"), p,
            partition_by="day")
    # double partition column refused at create
    with pytest.raises(NotImplementedError, match="int/long/string"):
        write_iceberg(spark, spark.createDataFrame(
            [(1.5, "x")], "day double, v string"),
            str(tmp_path / "t2"), partition_by="day")


def test_partitioned_string_values_with_specials(spark, tmp_path):
    """Hive-escaped partition dir names round-trip (space, colon)."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a b:c", 1), ("plain", 2)], "k string, id long")
    write_iceberg(spark, df, p, partition_by="k")
    assert _rows(read_iceberg(spark, p)) == [("a b:c", 1),
                                             ("plain", 2)]


def test_delete_iceberg_merge_on_read_roundtrip(spark, tmp_path):
    """Full MoR cycle inside the engine: append -> delete (position-
    delete files, no data-file rewrite) -> read; snapshot before the
    delete still shows everything; deleting again is a no-op."""
    from python_minerva_etl_spark.storage.iceberg_write import \
        delete_iceberg

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(10)],
        "id long, par string"), p)
    n = delete_iceberg(spark, p, [("par", "=", "odd")])
    assert n == 5
    got = _rows(read_iceberg(spark, p))
    assert got == [(i, "even") for i in range(0, 10, 2)]
    # data files untouched (no rewrite): snapshot 1 still has all 10
    assert len(_rows(read_iceberg(spark, p, snapshot_id=1))) == 10
    # the delete snapshot bumped the version + sequence number
    t = IcebergTable(p)
    md = t.metadata()
    assert md["current-snapshot-id"] == 2
    assert md["snapshots"][-1]["summary"]["operation"] == "delete"
    # re-deleting the same predicate: nothing left to delete, no commit
    v_before = os.path.basename(t._metadata_path())
    assert delete_iceberg(spark, p, [("par", "=", "odd")]) == 0
    assert os.path.basename(t._metadata_path()) == v_before
    # delete more on top of existing deletes
    assert delete_iceberg(spark, p, [("id", ">=", 6)]) == 2
    assert _rows(read_iceberg(spark, p)) == [(0, "even"), (2, "even"),
                                             (4, "even")]


def test_delete_iceberg_refuses_empty_predicate(spark, tmp_path):
    from python_minerva_etl_spark.storage.iceberg_write import \
        delete_iceberg

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    with pytest.raises(ValueError, match="empty predicate"):
        delete_iceberg(spark, p, [])


def test_delete_then_append_then_read(spark, tmp_path):
    """Deletes only affect files live at delete time: a later append
    of the same values is visible (position deletes pin file+pos)."""
    from python_minerva_etl_spark.storage.iceberg_write import \
        delete_iceberg

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "x"), (2, "y")], "id long, v string"), p)
    assert delete_iceberg(spark, p, [("v", "=", "y")]) == 1
    write_iceberg(spark, spark.createDataFrame(
        [(3, "y")], "id long, v string"), p)
    assert _rows(read_iceberg(spark, p)) == [(1, "x"), (3, "y")]


# -------------------------------------- add-column schema evolution


def test_merge_schema_append_evolution(spark, tmp_path):
    """merge_schema=True appends new columns as optional fields (old
    files read null), allows batches omitting optional columns (new
    files read null), bumps schema-id and last-column-id, and keeps
    type changes refused — mirroring the Delta twin."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        update_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), p)
    wide = spark.createDataFrame([(3, "c", 1.5)],
                                 "id long, v string, score double")
    with pytest.raises(ValueError, match="merge_schema=True"):
        write_iceberg(spark, wide, p)
    write_iceberg(spark, wide, p, merge_schema=True)
    got = {r.id: (r.v, r.score)
           for r in read_iceberg(spark, p).collect()}
    assert got[1] == ("a", None) and got[3] == ("c", 1.5)
    md = IcebergTable(p).metadata()
    assert md["current-schema-id"] == 1
    assert md["last-column-id"] == 3
    assert len(md["schemas"]) == 2  # original schema kept
    new_field = md["schemas"][1]["fields"][2]
    assert (new_field["name"], new_field["required"],
            new_field["id"]) == ("score", False, 3)
    # a batch omitting an OPTIONAL column appends without evolving
    write_iceberg(spark, spark.createDataFrame(
        [(4, 9.9)], "id long, score double"), p, merge_schema=True)
    got = {r.id: (r.v, r.score)
           for r in read_iceberg(spark, p).collect()}
    assert got[4] == (None, 9.9) and len(got) == 4
    assert IcebergTable(p).metadata()["current-schema-id"] == 1
    # widening stays refused even under merge_schema
    with pytest.raises(ValueError, match="refused, not merged"):
        write_iceberg(spark, spark.createDataFrame(
            [(5, 1)], "id long, score int"), p, merge_schema=True)
    # row-level DML works across the evolved history (old files
    # read null for the new column) and file pruning on the new
    # column's bounds stays sound
    n = update_iceberg(spark, p,
                       {"score": "coalesce(score, 0.0) + 1"},
                       [("id", "<=", 2)])
    assert n == 2
    got = {r.id: r.score for r in read_iceberg(spark, p).collect()}
    assert got[1] == 1.0 and got[3] == 1.5
    assert read_iceberg(spark, p,
                        where=[("score", ">", 5.0)]).count() == 1


def test_timestamp_travel_as_of(spark, tmp_path):
    """Snapshots record the spec-required timestamp-ms; as_of reads
    resolve to the latest snapshot at or before the target, refuse a
    too-early target, and refuse tables whose snapshots predate
    timestamps (use snapshot_id there)."""
    import time

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    mid = time.time() * 1000
    time.sleep(0.05)
    write_iceberg(spark, spark.createDataFrame(
        [(2, "b")], "id long, v string"), p)
    t = IcebergTable(p)
    md = t.metadata()
    assert all("timestamp-ms" in s for s in md["snapshots"])
    assert md["last-updated-ms"] >= md["snapshots"][0]["timestamp-ms"]
    assert _rows(read_iceberg(spark, p, as_of=mid)) == [(1, "a")]
    assert _rows(read_iceberg(spark, p,
                              as_of=time.time() * 1000)) == \
        [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="before the first"):
        read_iceberg(spark, p, as_of=1000)
    with pytest.raises(ValueError, match="only one of"):
        read_iceberg(spark, p, snapshot_id=1, as_of=mid)
    # legacy snapshots without timestamp-ms refuse loudly
    mdp = t._metadata_path()
    raw = json.load(open(mdp))
    for s in raw["snapshots"]:
        s.pop("timestamp-ms", None)
    json.dump(raw, open(mdp, "w"))
    with pytest.raises(ValueError, match="no timestamp-ms"):
        read_iceberg(spark, p, as_of=mid)


def test_overwrite_iceberg_truncate_and_replace(spark, tmp_path):
    """overwrite_iceberg commits ONE overwrite snapshot holding only
    the new manifest: prior rows vanish from the current snapshot but
    stay time-travelable; incremental scans over the range refuse;
    summary metrics record the adds."""
    from python_minerva_etl_spark.storage.iceberg import (
        read_iceberg_incremental)
    from python_minerva_etl_spark.storage.iceberg_write import (
        delete_iceberg, overwrite_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), p)
    delete_iceberg(spark, p, [("id", "=", 1)])
    s_before = IcebergTable(p).metadata()["current-snapshot-id"]
    overwrite_iceberg(spark, spark.createDataFrame(
        [(9, "z")], "id long, v string"), p)
    assert _rows(read_iceberg(spark, p)) == [(9, "z")]
    md = IcebergTable(p).metadata()
    snap = next(s for s in md["snapshots"]
                if s["snapshot-id"] == md["current-snapshot-id"])
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["added-records"] == "1"
    # prior history stays time-travelable (with its delete applied)
    assert _rows(read_iceberg(spark, p, snapshot_id=s_before)) == \
        [(2, "b")]
    with pytest.raises(ValueError, match="overwrite"):
        read_iceberg_incremental(spark, p, 1).collect()
    # schema must match (no silent evolution through overwrite)
    with pytest.raises(ValueError, match="does not match"):
        overwrite_iceberg(spark, spark.createDataFrame(
            [(1.5,)], "x double"), p)
    # creating a fresh table through overwrite works
    p2 = str(tmp_path / "t2")
    overwrite_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p2)
    assert _rows(read_iceberg(spark, p2)) == [(1, "a")]


def test_decimal_columns_roundtrip_and_where(spark, tmp_path):
    """DECIMAL columns of every parquet storage Spark picks (INT32,
    INT64, fixed-length) write and read back; pyarrow cannot convert
    the INT32/INT64 footer stats, so those columns get no bounds and
    a ``where`` on them keeps every file, while bounds on the other
    columns still prune."""
    import decimal

    p = str(tmp_path / "t")
    for lo in (0, 100):
        write_iceberg(spark, spark.range(lo, lo + 5).selectExpr(
            "id",
            "CAST(id + 0.25 AS DECIMAL(9,2)) AS d9",
            "CAST(id + 0.5 AS DECIMAL(10,2)) AS d10",
            "CAST(id + 0.125 AS DECIMAL(28,4)) AS d28").coalesce(1), p)
    D = decimal.Decimal
    assert len(_rows(read_iceberg(spark, p))) == 10
    for col, lit in (("d9", D("100.25")), ("d10", D("100.50")),
                     ("d28", D("100.1250"))):
        got = _rows(read_iceberg(spark, p, where=[(col, ">=", lit)])
                    .filter(f"{col} >= {lit}").select("id"))
        assert got == [(i,) for i in range(100, 105)], col
    t = IcebergTable(p)
    md = t.metadata()
    files, _ = t._data_files(t._snapshot(md, None))
    from python_minerva_etl_spark.storage.iceberg import _file_may_match
    sch = t._current_schema(md)
    fid = {f["name"]: f["id"] for f in sch["fields"]}
    fty = {f["name"]: f["type"] for f in sch["fields"]}
    assert sum(_file_may_match(f, [("d10", ">=", D("100.50"))], fid, fty)
               for f in files) == 2
    assert sum(_file_may_match(f, [("id", ">=", 100)], fid, fty)
               for f in files) == 1


def test_read_zstandard_manifests(spark, tmp_path):
    """Iceberg's ``write.avro.compression-codec`` allows zstd: a table
    whose manifest list and manifests are zstandard containers reads
    the same rows, current and time-travelled."""
    from python_minerva_etl_spark.storage.avro_file import (
        _avro_encode, write_container)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), p)
    write_iceberg(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), p)
    mdir = os.path.join(p, "metadata")
    rewritten = 0
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".avro"):
            continue
        f = os.path.join(mdir, name)
        with open(f, "rb") as fh:
            meta, recs = avro_read(fh.read())
        assert meta["avro.codec"] == b"null"
        schema = json.loads(meta["avro.schema"])
        body = b"".join(_avro_encode(r, schema) for r in recs)
        with open(f, "wb") as fh:
            fh.write(write_container(schema, [(len(recs), body)],
                                     "zstandard"))
        with open(f, "rb") as fh:
            assert avro_read(fh.read())[0]["avro.codec"] == b"zstandard"
        rewritten += 1
    assert rewritten >= 4  # two manifest lists + two manifests
    assert _rows(read_iceberg(spark, p)) == [(1, "a"), (2, "b"),
                                             (3, "c")]
    assert _rows(read_iceberg(spark, p, snapshot_id=1)) == \
        [(1, "a"), (2, "b")]
