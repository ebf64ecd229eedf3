"""Delta-protocol interop: log replay, time travel, overwrite
semantics, Hive-partitioned reads, checkpoint compaction, commit
atomicity — all against the public delta.io PROTOCOL.md layout, no
Delta jar involved."""

from __future__ import annotations

import json
import os

import pytest

from python_minerva_etl_spark.storage.delta import (DeltaTable, read_delta,
                                                    write_delta)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_read_roundtrip_and_time_travel(spark, tmp_path):
    p = str(tmp_path / "t")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    assert write_delta(spark, df1, p) == 0
    assert write_delta(spark, df2, p) == 1
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b"), (3, "c")]
    # time travel to v0
    assert _rows(read_delta(spark, p, version_as_of=0)) == [(1, "a"),
                                                           (2, "b")]
    # the log on disk is real protocol JSON: v0 carries protocol+meta
    with open(os.path.join(p, "_delta_log",
                           f"{0:020d}.json")) as fh:
        kinds = [next(iter(json.loads(l))) for l in fh if l.strip()]
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds


def test_overwrite_removes_prior_files(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    write_delta(spark, spark.createDataFrame(
        [(9, "z")], "id long, v string"), p, mode="overwrite")
    assert _rows(read_delta(spark, p)) == [(9, "z")]
    # prior version still reconstructable (remove is logical)
    assert _rows(read_delta(spark, p, version_as_of=0)) == [(1, "a")]
    snap = DeltaTable(p)._replay(1)
    with open(os.path.join(p, "_delta_log", f"{1:020d}.json")) as fh:
        kinds = [next(iter(json.loads(l))) for l in fh if l.strip()]
    assert "remove" in kinds
    assert len(snap["files"]) >= 1


def test_read_foreign_partitioned_table(spark, tmp_path):
    """Hand-craft the layout another engine would write: data files in
    hive-style partition dirs, partition col ABSENT from the files,
    recorded only in add.partitionValues."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ext")
    os.makedirs(os.path.join(p, "_delta_log"))
    schema = ('{"type":"struct","fields":['
              '{"name":"id","type":"long","nullable":true,"metadata":{}},'
              '{"name":"day","type":"string","nullable":true,'
              '"metadata":{}}]}')
    for day, ids in (("2024-01-01", [1, 2]), ("2024-01-02", [3])):
        d = os.path.join(p, f"day={day}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       os.path.join(d, "part-0.parquet"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
                                            "options": {}},
                      "schemaString": schema,
                      "partitionColumns": ["day"],
                      "configuration": {}}},
        {"add": {"path": "day=2024-01-01/part-0.parquet",
                 "partitionValues": {"day": "2024-01-01"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "day=2024-01-02/part-0.parquet",
                 "partitionValues": {"day": "2024-01-02"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    got = read_delta(spark, p)
    assert got.columns == ["id", "day"]
    assert _rows(got) == [(1, "2024-01-01"), (2, "2024-01-01"),
                          (3, "2024-01-02")]


def test_checkpoint_written_and_actually_used(spark, tmp_path):
    p = str(tmp_path / "t")
    for i in range(12):
        write_delta(spark, spark.createDataFrame(
            [(i,)], "id long"), p)
    log = os.path.join(p, "_delta_log")
    assert os.path.exists(os.path.join(
        log, f"{10:020d}.checkpoint.parquet"))
    last = json.load(open(os.path.join(log, "_last_checkpoint")))
    assert last["version"] == 10
    # PROOF the reader replays from the checkpoint: delete every JSON
    # commit at or below it — reads must still succeed
    for v in range(11):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert _rows(read_delta(spark, p)) == [(i,) for i in range(12)]


def test_commit_conflict_and_bad_versions(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p)
    t = DeltaTable(p)
    with pytest.raises(FileExistsError, match="concurrent"):
        t._publish(0, [{"commitInfo": {}}])
    with pytest.raises(ValueError, match="not in Delta log"):
        t.read(spark, version_as_of=99)
    with pytest.raises(FileNotFoundError):
        DeltaTable(str(tmp_path / "nope")).read(spark)


def test_unsupported_reader_features_refused(spark, tmp_path):
    """Reader v3 tables are readable iff every declared readerFeature
    is implemented: deletionVectors/timestampNtz pass (round 6),
    anything unknown — typeWidening here — still refuses."""
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    meta = {"metaData": {
        "id": "x", "format": {"provider": "parquet", "options": {}},
        "schemaString": '{"type":"struct","fields":[]}',
        "partitionColumns": [], "configuration": {}}}
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors",
                                         "typeWidening"]}},
        meta,
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    with pytest.raises(NotImplementedError, match="typeWidening"):
        read_delta(spark, p)
    # with only implemented features declared, the same table reads
    actions[0] = {"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors", "timestampNtz"]}}
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    assert read_delta(spark, p).count() == 0


def _minimal_meta(schema='{"type":"struct","fields":[{"name":"id",'
                  '"type":"long","nullable":true,"metadata":{}}]}',
                  configuration=None):
    return {"id": "x", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema, "partitionColumns": [],
            "configuration": configuration or {}}


def test_reader_v2_name_mode_reads_physical_columns(spark, tmp_path):
    """minReaderVersion 2 = the pre-table-features column-mapping
    protocol.  Round 6 implements mode 'name': the read must resolve
    the PHYSICAL parquet column (never misread by logical name) —
    tests/test_delta_cm.py covers the breadth; this pins the v2
    protocol acceptance specifically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    pq.write_table(pa.table({"col-9f": pa.array([7], pa.int64())}),
                   os.path.join(p, "f0.parquet"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-9f"}}]})
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": _minimal_meta(
            schema=schema,
            configuration={"delta.columnMapping.mode": "name"})},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    got = read_delta(spark, p)
    assert got.columns == ["id"]
    assert [tuple(r) for r in got.collect()] == [(7,)]


def test_column_mapping_without_field_metadata_is_loud(spark,
                                                       tmp_path):
    """id-mode reads are supported (tests/test_delta_cm.py), but a
    table CLAIMING column mapping whose schema fields carry no
    mapping metadata is malformed — refuse loudly, never misread."""
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": _minimal_meta(
            configuration={"delta.columnMapping.mode": "id"})},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    with pytest.raises(ValueError, match="physicalName"):
        read_delta(spark, p).collect()


def test_append_schema_mismatch_refused(spark, tmp_path):
    """ADVICE r4 (medium): a mismatched append commits files every
    reader silently misreads as nulls — must raise instead."""
    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(spark, spark.createDataFrame(
            [(2.5, "b")], "id double, v string"), p)
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(spark, spark.createDataFrame(
            [("b", 2)], "v string, id long"), p)  # reordered
    # overwrite MAY change schema
    write_delta(spark, spark.createDataFrame(
        [(9.5, "z")], "id double, v string"), p, mode="overwrite")
    assert _rows(read_delta(spark, p)) == [(9.5, "z")]


def test_log_gap_refused(spark, tmp_path):
    """Expired commits below the oldest surviving JSON with no
    covering checkpoint must raise, not silently drop their files."""
    p = str(tmp_path / "t")
    for i in range(3):
        write_delta(spark, spark.createDataFrame([(i,)], "id long"), p)
    os.remove(os.path.join(p, "_delta_log", f"{1:020d}.json"))
    with pytest.raises(ValueError, match="Delta log gap"):
        read_delta(spark, p)


def test_foreign_multipart_checkpoint_replay(spark, tmp_path):
    """Replay a log authored byte-by-byte from PROTOCOL.md examples by
    a FOREIGN writer (not our own): a 2-part checkpoint at v2 plus
    expired JSON commits 0..2 — only v3's JSON survives, carrying a
    remove.  The reader must recover the pre-checkpoint adds from the
    checkpoint parts and apply the later remove."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "ext")
    log = os.path.join(p, "_delta_log")
    os.makedirs(log)
    schema = ('{"type":"struct","fields":[{"name":"id","type":"long",'
              '"nullable":true,"metadata":{}}]}')
    for name, ids in (("f1.parquet", [1]), ("f2.parquet", [2]),
                      ("f3.parquet", [3])):
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                       os.path.join(p, name))
    # multi-part checkpoint: part 1 = protocol+metaData+add(f1),
    # part 2 = add(f2), add(f3)
    str_map = pa.map_(pa.string(), pa.string())
    cp_schema = pa.schema([
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32())])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64())])),
        ("add", pa.struct([("path", pa.string()),
                           ("partitionValues", str_map),
                           ("size", pa.int64()),
                           ("modificationTime", pa.int64()),
                           ("dataChange", pa.bool_())])),
    ])

    def add(path):
        return {"path": path, "partitionValues": [], "size": 1,
                "modificationTime": 0, "dataChange": True}

    part1 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "metaData": None, "add": None},
        {"protocol": None, "add": None,
         "metaData": {"id": "x",
                      "format": {"provider": "parquet", "options": []},
                      "schemaString": schema, "partitionColumns": [],
                      "configuration": [], "createdTime": 0}},
        {"protocol": None, "metaData": None, "add": add("f1.parquet")},
    ]
    part2 = [
        {"protocol": None, "metaData": None, "add": add("f2.parquet")},
        {"protocol": None, "metaData": None, "add": add("f3.parquet")},
    ]
    for i, rows in ((1, part1), (2, part2)):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=cp_schema),
            os.path.join(log,
                         f"{2:020d}.checkpoint.{i:010d}.{2:010d}.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 2, "size": 5, "parts": 2}, fh)
    # only the post-checkpoint commit survives; it removes f2
    with open(os.path.join(log, f"{3:020d}.json"), "w") as fh:
        fh.write(json.dumps({"remove": {
            "path": "f2.parquet", "deletionTimestamp": 0,
            "dataChange": True}}) + "\n")
    assert _rows(read_delta(spark, p)) == [(1,), (3,)]
    snap = DeltaTable(p)._replay()
    assert [t["path"] for t in snap["tombstones"]] == ["f2.parquet"]


def test_checkpoint_carries_tombstones(spark, tmp_path):
    """PROTOCOL.md requires unexpired remove tombstones in
    checkpoints; clients replaying from ours must see them."""
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p)
    write_delta(spark, spark.createDataFrame(
        [(2,)], "id long"), p, mode="overwrite")  # removes v0's file
    for i in range(3, 12):
        write_delta(spark, spark.createDataFrame([(i,)], "id long"), p)
    cp = os.path.join(p, "_delta_log", f"{10:020d}.checkpoint.parquet")
    rows = pq.read_table(cp).to_pylist()
    removes = [r["remove"] for r in rows if r.get("remove")]
    assert removes and all(r["path"].endswith(".parquet")
                           for r in removes)
    # and our own replay from that checkpoint keeps the tombstones
    for v in range(11):
        os.remove(os.path.join(p, "_delta_log", f"{v:020d}.json"))
    snap = DeltaTable(p)._replay()
    assert len(snap["tombstones"]) == len(removes)


def test_concurrent_commit_retries_cleanly(spark, tmp_path):
    """A writer losing the version race retries against the new
    snapshot instead of surfacing FileExistsError to the caller."""
    from python_minerva_etl_spark.storage.delta import DeltaTable as DT

    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p)
    t = DT(p)
    orig_commit = t._publish
    calls = {"n": 0}

    def racing_commit(version, actions):
        # simulate a concurrent writer sneaking in commit `version`
        # just before ours lands, exactly once
        if calls["n"] == 0:
            calls["n"] += 1
            orig_commit(version, [{"commitInfo": {"operation": "RACE"}}])
        orig_commit(version, actions)

    t._publish = racing_commit
    v = t.write(spark, spark.createDataFrame([(2,)], "id long"))
    assert v == 2  # lost v1 to the race, retried onto v2
    assert _rows(read_delta(spark, p)) == [(1,), (2,)]


def test_schema_and_empty_snapshot(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2.5)], "id long, x double")
    write_delta(spark, df, p)
    assert DeltaTable(p).schema().fieldNames() == ["id", "x"]
    # overwrite with empty frame -> empty active set, schema preserved
    write_delta(spark, df.limit(0), p, mode="overwrite")
    got = read_delta(spark, p)
    assert got.count() == 0 and got.columns == ["id", "x"]


def test_snaptable_export_and_plugin(spark, tmp_path):
    """SnapTable snapshots publish as Delta commits; the harvest
    plugin registry reads them back by file_type 'delta'."""
    from python_minerva_etl_spark.sources.plugins import get_plugin
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    st = SnapTable(str(tmp_path / "snap"))
    st.merge(spark, spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0)], "k long, seq long, v double"),
        ["k"], "seq")
    dst = str(tmp_path / "delta")
    assert st.export_delta(spark, dst) == 0
    st.merge(spark, spark.createDataFrame(
        [(1, 20, 9.0)], "k long, seq long, v double"), ["k"], "seq")
    assert st.export_delta(spark, dst) == 1
    got = get_plugin("delta")(spark, dst)
    assert _rows(got.select("k", "v")) == [(1, 9.0), (2, 2.0)]
    # Delta-side time travel mirrors SnapTable history
    v0 = read_delta(spark, dst, version_as_of=0)
    assert _rows(v0.select("k", "v")) == [(1, 1.0), (2, 2.0)]


def test_partitioned_write_layout_and_read(spark, tmp_path):
    """Round-5: the writer Hive-partitions tables other engines can
    read — files land in col=value/ dirs WITHOUT the partition column
    in the data, add actions carry partitionValues, metaData records
    partitionColumns."""
    import glob

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
         (3, "2024-01-02", "c"), (4, None, "d")],
        "id long, day string, v string")
    write_delta_partitioned = DeltaTable(p).write
    assert write_delta_partitioned(spark, df, "append",
                                   partition_by=["day"]) == 0
    # hive layout on disk, incl. the null partition
    assert glob.glob(os.path.join(p, "day=2024-01-01", "*.parquet"))
    assert glob.glob(os.path.join(
        p, "day=__HIVE_DEFAULT_PARTITION__", "*.parquet"))
    # data files do NOT contain the partition column
    import pyarrow.parquet as pq
    f = glob.glob(os.path.join(p, "day=2024-01-02", "*.parquet"))[0]
    assert "day" not in pq.ParquetFile(f).schema_arrow.names
    # log records partitionValues + partitionColumns
    snap = DeltaTable(p)._replay()
    assert snap["metaData"]["partitionColumns"] == ["day"]
    pvs = {f["partitionValues"]["day"] for f in snap["files"]}
    assert pvs == {"2024-01-01", "2024-01-02", None}
    # and the read path reconstructs the column with correct types
    assert _rows(read_delta(spark, p)) == [
        (1, "2024-01-01", "a"), (2, "2024-01-01", "b"),
        (3, "2024-01-02", "c"), (4, None, "d")]


def test_partitioned_append_inherits_and_validates(spark, tmp_path):
    p = str(tmp_path / "t")
    t = DeltaTable(p)
    t.write(spark, spark.createDataFrame(
        [(1, "x", 1.0)], "id long, part string, v double"),
        partition_by=["part"])
    # plain append inherits the table's partitioning
    t.write(spark, spark.createDataFrame(
        [(2, "y", 2.0)], "id long, part string, v double"))
    snap = t._replay()
    assert all(set(f["partitionValues"]) == {"part"}
               for f in snap["files"])
    assert _rows(read_delta(spark, p)) == [(1, "x", 1.0), (2, "y", 2.0)]
    # conflicting explicit partitioning on append is refused
    with pytest.raises(ValueError, match="partition"):
        t.write(spark, spark.createDataFrame(
            [(3, "z", 3.0)], "id long, part string, v double"),
            partition_by=["id"])
    # overwrite may repartition
    t.write(spark, spark.createDataFrame(
        [(9, "q", 9.0)], "id long, part string, v double"),
        mode="overwrite", partition_by=["id"])
    assert t._replay()["metaData"]["partitionColumns"] == ["id"]
    assert _rows(read_delta(spark, p)) == [(9, "q", 9.0)]


def test_txn_idempotent_writes_and_checkpoint(spark, tmp_path):
    """Round-5: setTransaction (txn) actions — a (app_id, version)
    re-delivery is skipped, the ledger survives checkpoint
    compaction, and checkpoints carry the txn rows PROTOCOL.md
    requires."""
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    t = DeltaTable(p)
    one = spark.createDataFrame([(1,)], "id long")
    assert t.write(spark, one, txn=("ingestA", 0)) == 0
    assert t.txn_version("ingestA") == 0
    # same (app, version) re-delivered -> skipped, no new commit
    assert t.write(spark, one, txn=("ingestA", 0)) == 0
    assert t.versions() == [0]
    assert _rows(read_delta(spark, p)) == [(1,)]
    # next version commits
    assert t.write(spark, one, txn=("ingestA", 1)) == 1
    assert t.txn_version("ingestA") == 1 and t.txn_version("other") == -1
    # drive past the checkpoint cadence; ledger must survive the
    # JSON tail being deleted
    for i in range(2, 12):
        t.write(spark, one, txn=("ingestA", i))
    cp = os.path.join(p, "_delta_log", f"{10:020d}.checkpoint.parquet")
    cp_txns = [r["txn"] for r in pq.read_table(cp).to_pylist()
               if r.get("txn")]
    assert {x["appId"] for x in cp_txns} == {"ingestA"}
    for v in range(11):
        os.remove(os.path.join(p, "_delta_log", f"{v:020d}.json"))
    assert t.txn_version("ingestA") == 11
    assert t.write(spark, one, txn=("ingestA", 5)) == 11  # stale: skip


def test_append_stream_delta_exactly_once(spark, tmp_path):
    """foreachBatch re-delivery after a crash between Delta commit
    and streaming checkpoint must not double-append."""
    from python_minerva_etl_spark.storage.delta import DeltaTable as DT

    p = str(tmp_path / "t")
    t = DT(p)
    batch = spark.createDataFrame([(1, "a"), (2, "b")],
                                  "id long, v string")
    # simulate batch 0 delivered twice
    for _ in range(2):
        t.write(spark, batch, mode="append", txn=("q1", 0))
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b")]
    t.write(spark, batch, mode="append", txn=("q1", 1))
    assert read_delta(spark, p).count() == 4


def test_losing_commit_racer_never_clobbers_winner(spark, tmp_path):
    """ADVICE r5: _publish must be put-if-absent.  A racer that loses
    at version N must raise AND leave the winner's committed file
    byte-identical — the old exists-check + os.replace pair let the
    loser silently overwrite the winner's actions."""
    p = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame([(1,)], "id long"), p)
    t = DeltaTable(p)
    commit0 = os.path.join(p, "_delta_log", f"{0:020d}.json")
    winner_bytes = open(commit0, "rb").read()
    with pytest.raises(FileExistsError, match="concurrent"):
        t._publish(0, [{"commitInfo": {"operation": "LOSER"}}])
    assert open(commit0, "rb").read() == winner_bytes
    # and the loser's tmp file was cleaned up
    leftovers = [n for n in os.listdir(os.path.join(p, "_delta_log"))
                 if n.endswith(".tmp")]
    assert leftovers == []


def test_timestamp_ntz_reader_feature(spark, tmp_path):
    """timestampNtz is in the supported reader-feature set: a v3
    table declaring it, with a timestamp_ntz column written the way
    pyarrow lays it out (us, no timezone), must read with
    TimestampNTZType semantics (no session-zone shift)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    ts = [datetime.datetime(2024, 3, 1, 12, 30, 0),
          datetime.datetime(2024, 3, 2, 0, 0, 1)]
    pq.write_table(
        pa.table({"t": pa.array(ts, pa.timestamp("us"))}),
        os.path.join(p, "f0.parquet"))
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "t", "type": "timestamp_ntz", "nullable": True,
         "metadata": {}}]})
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["timestampNtz"],
                      "writerFeatures": ["timestampNtz"]}},
        {"metaData": _minimal_meta(schema=schema)},
        {"add": {"path": "f0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"),
              "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions))
    got = read_delta(spark, p)
    assert got.schema["t"].dataType.typeName() == "timestamp_ntz"
    assert sorted(r[0] for r in got.collect()) == ts
