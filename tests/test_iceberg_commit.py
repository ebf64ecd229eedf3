"""The Iceberg snapshot commit (``storage/iceberg_write.py:_commit``):
the metadata every writer produces, pinned against a recorded shape;
one race test per conflict rule, and one for snapshot expiry; the
incremental Z-order rewrite of a partly absorbed manifest; and the
snapshot summary's split of position and equality delete counts."""

from __future__ import annotations

import hashlib
import json
import os
import re

import pyarrow as pa
import pytest

from python_minerva_etl_spark.storage import iceberg_write
from python_minerva_etl_spark.storage.avro_file import avro_read
from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)
from python_minerva_etl_spark.storage.iceberg_write import (
    IcebergConcurrentCommit, compact_iceberg, delete_iceberg,
    equality_delete_iceberg, merge_iceberg, overwrite_iceberg,
    update_iceberg, write_iceberg)

# recorded by running this module: python -m tests.test_iceberg_commit
SHAPE = os.path.join(os.path.dirname(__file__), "data",
                     "iceberg_commit_shape.json")

_UUID = re.compile(r"[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}"
                   r"-?[0-9a-f]{12}")
_SIZE_KEYS = ("file_size_in_bytes", "manifest_length")
_TIME_KEYS = ("timestamp-ms", "last-updated-ms")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _norm(value, root: str):
    """``value`` with the table root, uuids and timestamps replaced by
    placeholders, and each file size that equals the size of the file
    it describes replaced by ``"=file"`` (sizes of files that hold
    table paths depend on the temp root)."""
    if isinstance(value, bytes):
        if root.encode() in value:
            return "path:" + _norm(value.decode(), root)
        return value.hex()
    if isinstance(value, str):
        return _UUID.sub("<uuid>", value.replace(root, "<root>"))
    if isinstance(value, list):
        return [_norm(v, root) for v in value]
    if not isinstance(value, dict):
        return value
    out = {}
    for k, v in value.items():
        if k in _TIME_KEYS:
            out[k] = "<ts>"
        elif k in _SIZE_KEYS:
            path = value.get("file_path") or value.get("manifest_path")
            out[k] = ("=file" if os.path.getsize(path) == v else v)
        else:
            out[k] = _norm(v, root)
    return out


def _decode(path: str, root: str):
    with open(path, "rb") as fh:
        meta, records = avro_read(fh.read())
    digest = hashlib.sha1(meta["avro.schema"]).hexdigest()
    return digest[:12], [_norm(r, root) for r in records]


def table_shape(root: str) -> dict:
    """Every metadata file, manifest list and manifest of the table at
    ``root``, decoded and normalized.  Manifest entries are sorted
    (their order is the order Spark tasks finished); manifest-list
    order is kept."""
    mdir = os.path.join(root, "metadata")
    versions = sorted((n for n in os.listdir(mdir)
                       if n.endswith(".metadata.json")),
                      key=lambda n: int(n[1:].split(".")[0]))
    metadata, lists = [], {}
    for name in versions:
        with open(os.path.join(mdir, name)) as fh:
            md = json.load(fh)
        metadata.append(_norm(md, root))
        for s in md.get("snapshots") or []:
            sid = str(s["snapshot-id"])
            if sid in lists:
                continue
            digest, mlist = _decode(s["manifest-list"], root)
            for m, raw in zip(mlist, _decode_raw(s["manifest-list"])):
                m_digest, entries = _decode(raw["manifest_path"], root)
                m["manifest"] = {
                    "schema": m_digest,
                    "entries": sorted(entries, key=lambda e: json.dumps(
                        e, sort_keys=True))}
            lists[sid] = {"schema": digest, "manifests": mlist}
    return {"metadata": metadata, "manifest_lists": lists}


def _decode_raw(path: str) -> list:
    with open(path, "rb") as fh:
        return avro_read(fh.read())[1]


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.string()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.int64())],
        names=["id", "v", "grp", "extra"])


def build_shape_table(spark, root: str) -> None:
    """The fixed commit sequence the recorded shape describes: every
    writer, each input one Spark partition so the file layout does not
    depend on the core count."""
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceStreamWriter)

    def df(rows, schema="id long, v string, grp string"):
        return spark.createDataFrame(rows, schema).coalesce(1)

    wide = "id long, v string, grp string, extra long"
    write_iceberg(spark, df([(1, "a", "x"), (2, "b", "y"),
                             (3, "c", "x")]), root, partition_by="grp")
    write_iceberg(spark, df([(4, "d", "y"), (5, "e", "x")]), root,
                  partition_by="grp")
    write_iceberg(spark, df([(6, "f", "x", 60), (7, "g", "z", 70)], wide),
                  root, partition_by="grp", merge_schema=True)
    update_iceberg(spark, root, {"v": "'u'"}, where=[("id", "<=", 2)])
    merge_iceberg(spark, root, df([(3, "m", "x", 30), (8, "h", "y", 80)],
                                  wide), "t.id = s.id",
                  when_matched_update={"v": "s.v", "extra": "s.extra"})
    equality_delete_iceberg(spark, root, spark.createDataFrame(
        [(4,), (5,)], "id long").coalesce(1))
    delete_iceberg(spark, root, [("id", "=", 6)])
    compact_iceberg(spark, root, zorder_by=["id", "extra"])
    write_iceberg(spark, df([(9, "i", "x", 90), (10, "j", "y", 100)],
                            wide), root, partition_by="grp")
    compact_iceberg(spark, root, zorder_by=["id", "extra"],
                    incremental=True)
    overwrite_iceberg(spark, df([(11, "k", "x", 110), (12, "l", "z", 120),
                                 (13, "n", "x", 130)], wide), root,
                      partition_by="grp")
    w = _IceStreamWriter({"path": root, "partitionBy": "grp",
                          "txnAppId": "shape"},
                         IcebergTable(root).schema(), False)
    w.commit([w.write(iter([_batch([(14, "o", "x", 140)])]))], 0)
    w.commit([w.write(iter([_batch([(15, "p", "y", 150),
                                    (16, "q", "y", 160)])]))], 1)
    w.commit([w.write(iter([_batch([(17, "r", "z", 170)])]))], 1)


def test_commit_metadata_shape_is_unchanged(spark, tmp_path):
    """Every writer's metadata, manifest lists and manifests decode to
    the recorded shape: sequence numbers, parent ids, carried and
    rewritten manifests, partition summaries, bounds and snapshot
    summaries."""
    root = str(tmp_path / "t")
    build_shape_table(spark, root)
    with open(SHAPE) as fh:
        want = json.load(fh)
    got = json.loads(json.dumps(table_shape(root)))
    # the recording counts equality deletes under
    # added-position-deletes and has no added-equality-deletes key
    for md in got["metadata"]:
        for snap in md["snapshots"]:
            summ = snap["summary"]
            eq = summ.pop("added-equality-deletes", None)
            if eq is not None:
                summ["added-position-deletes"] = str(
                    int(summ["added-position-deletes"]) + int(eq))
    assert got["metadata"] == want["metadata"]
    assert got["manifest_lists"] == want["manifest_lists"]
    assert _rows(read_iceberg(spark, root)) == [
        (11, "k", "x", 110), (12, "l", "z", 120), (13, "n", "x", 130),
        (14, "o", "x", 140), (15, "p", "y", 150), (16, "q", "y", 160)]


def test_summary_splits_position_and_equality_deletes(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"), p)
    equality_delete_iceberg(spark, p, spark.createDataFrame(
        [(1,), (9,)], "id long"))
    delete_iceberg(spark, p, [("id", "=", 2)])
    eq, pos = [s["summary"] for s in
               IcebergTable(p).metadata()["snapshots"][1:]]
    assert (eq["added-position-deletes"],
            eq["added-equality-deletes"]) == ("0", "2")
    assert (pos["added-position-deletes"],
            pos["added-equality-deletes"]) == ("1", "0")
    assert _rows(read_iceberg(spark, p)) == [(3, "c")]
    assert not _orphans(p)


# ------------------------------------------------------------ races


def _race_once(monkeypatch, racer) -> None:
    """Run ``racer`` once, right after the next commit attempt read the
    table's version, so that attempt's CAS loses to the racer."""
    version_of = iceberg_write._version_of

    def read_then_race(path):
        monkeypatch.setattr(iceberg_write, "_version_of", version_of)
        v = version_of(path)
        racer()
        return v

    monkeypatch.setattr(iceberg_write, "_version_of", read_then_race)


def _orphans(root: str) -> set[str]:
    """Data, delete, manifest and manifest-list files under ``root``
    that no snapshot references."""
    live = set()
    for snap in IcebergTable(root).metadata()["snapshots"]:
        live.add(snap["manifest-list"])
        for m in _decode_raw(snap["manifest-list"]):
            live.add(m["manifest_path"])
            live |= {r["data_file"]["file_path"]
                     for r in _decode_raw(m["manifest_path"])}
    return {os.path.join(d, n) for d, _, names in os.walk(root)
            for n in names if n.endswith((".parquet", ".avro"))} - live


def test_append_race_retries_and_keeps_both(spark, tmp_path):
    """An append whose attempt read the metadata just before a racer
    committed loses the CAS and retries on top of the racer.  The
    attempt reads the version before the metadata: read the other way
    round, the racer's version would pair with the stale metadata, and
    the CAS would win and drop the racer's snapshot."""
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    t = IcebergTable(p)

    def read_then_race():
        del t.metadata
        md = t.metadata()
        write_iceberg(spark, spark.createDataFrame(
            [(2, "b")], "id long, v string"), p)
        return md

    t.metadata = read_then_race
    assert iceberg_write._commit(t, "append") == 3
    snaps = t.metadata()["snapshots"]
    assert [s.get("parent-snapshot-id") for s in snaps] == [None, 1, 2]
    assert _rows(read_iceberg(spark, p)) == [(1, "a"), (2, "b")]
    assert not _orphans(p)


def test_merge_schema_append_race_keeps_racers_columns(spark, tmp_path,
                                                       monkeypatch):
    """A merge_schema append that loses to a racer's schema evolution
    re-derives its evolved schema against the racer's: both new
    columns survive."""
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    _race_once(monkeypatch, lambda: write_iceberg(
        spark, spark.createDataFrame([(2, "b", 20)],
                                     "id long, v string, y long"),
        p, merge_schema=True))
    write_iceberg(spark, spark.createDataFrame(
        [(3, "c", 30)], "id long, v string, x long"), p,
        merge_schema=True)
    md = IcebergTable(p).metadata()
    assert [f["name"] for f in IcebergTable(p)._current_schema(md)[
        "fields"]] == ["id", "v", "y", "x"]
    assert md["last-column-id"] == 4
    assert _rows(read_iceberg(spark, p)) == [
        (1, "a", None, None), (2, "b", 20, None), (3, "c", None, 30)]
    assert not _orphans(p)


def test_overwrite_race_retries_blind(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p)
    _race_once(monkeypatch, lambda: write_iceberg(
        spark, spark.createDataFrame([(2, "b")], "id long, v string"), p))
    overwrite_iceberg(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string"), p)
    snaps = IcebergTable(p).metadata()["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == [
        "append", "append", "overwrite"]
    assert _rows(read_iceberg(spark, p)) == [(3, "c")]
    assert not _orphans(p)


def test_dml_race_refuses_when_its_files_were_rewritten(
        spark, tmp_path, monkeypatch):
    """A compaction that lands between a DELETE's scan and its commit
    rewrote the files the staged position deletes address: the
    DELETE refuses and removes what it staged."""
    p = str(tmp_path / "t")
    for i in range(2):
        write_iceberg(spark, spark.createDataFrame(
            [(i, "a")], "id long, v string"), p)
    _race_once(monkeypatch, lambda: compact_iceberg(spark, p))
    with pytest.raises(IcebergConcurrentCommit, match="rerun the DML"):
        delete_iceberg(spark, p, [("id", "=", 0)])
    assert _rows(read_iceberg(spark, p)) == [(0, "a"), (1, "a")]
    assert not _orphans(p)


def test_compaction_race_refuses_an_advanced_table(spark, tmp_path,
                                                   monkeypatch):
    p = str(tmp_path / "t")
    for i in range(2):
        write_iceberg(spark, spark.createDataFrame(
            [(i, "a")], "id long, v string"), p)
    _race_once(monkeypatch, lambda: write_iceberg(
        spark, spark.createDataFrame([(2, "b")], "id long, v string"), p))
    with pytest.raises(IcebergConcurrentCommit, match="advanced since"):
        compact_iceberg(spark, p, zorder_by=["id"])
    snaps = IcebergTable(p).metadata()["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == ["append"] * 3
    assert _rows(read_iceberg(spark, p)) == [(0, "a"), (1, "a"), (2, "b")]
    assert not _orphans(p)


def test_incremental_zorder_rewrites_a_mixed_manifest(spark, tmp_path):
    """A manifest holding clustered files next to newer ones (the
    layout a foreign manifest rewrite leaves) loses the newer files'
    entries to an incremental Z-order pass: it is rewritten with its
    own Avro schema, its survivors EXISTING with their explicit
    sequence numbers."""
    from python_minerva_etl_spark.storage.avro_file import _avro_file

    p = str(tmp_path / "t")
    df = spark.createDataFrame([(i, str(i)) for i in range(4)],
                               "id long, v string")
    write_iceberg(spark, df.repartition(2), p)
    compact_iceberg(spark, p, zorder_by=["id"])
    write_iceberg(spark, spark.createDataFrame(
        [(9, "9")], "id long, v string").coalesce(1), p)
    t = IcebergTable(p)
    mlist = t._snapshot(t.metadata(), None)["manifest-list"]
    listed = _decode_raw(mlist)
    entries = []
    for m in listed:  # newest first: seq 3, then the clustered seq 2
        with open(m["manifest_path"], "rb") as fh:
            meta, recs = avro_read(fh.read())
        schema = json.loads(meta["avro.schema"])
        entries += [dict(r, sequence_number=m["sequence_number"])
                    for r in recs]
    mixed = os.path.join(p, "metadata", "mixed.avro")
    with open(mixed, "wb") as fh:
        fh.write(_avro_file(schema, entries))
    with open(mlist, "wb") as fh:
        fh.write(_avro_file(iceberg_write._MANIFEST_FILE_SCHEMA, [dict(
            listed[0], manifest_path=mixed,
            manifest_length=os.path.getsize(mixed))]))
    clustered = {r["data_file"]["file_path"] for r in entries
                 if r["sequence_number"] == 2}

    assert compact_iceberg(spark, p, zorder_by=["id"],
                           incremental=True) == 4
    new, kept = _decode_raw(t._snapshot(t.metadata(), None)[
        "manifest-list"])
    assert new["sequence_number"] == 4 and new["added_files_count"] == 1
    assert kept["sequence_number"] == 3 and kept["added_files_count"] == 0
    assert kept["manifest_path"] == new["manifest_path"][:-5] + "-1.avro"
    with open(kept["manifest_path"], "rb") as fh:
        meta, survivors = avro_read(fh.read())
    assert json.loads(meta["avro.schema"]) == schema
    assert {r["data_file"]["file_path"] for r in survivors} == clustered
    assert {(r["status"], r["sequence_number"]) for r in survivors} == {
        (0, 2)}
    assert _rows(read_iceberg(spark, p)) == [
        (i, str(i)) for i in (0, 1, 2, 3, 9)]


if __name__ == "__main__":
    import tempfile

    from python_minerva_etl_spark.session import get_spark

    session = get_spark(app_name="iceberg-commit-shape",
                        shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as d:
        build_shape_table(session, os.path.join(d, "t"))
        with open(SHAPE, "w") as fh:
            json.dump(table_shape(os.path.join(d, "t")), fh,
                      sort_keys=True, separators=(",", ":"))
    session.stop()


def test_expire_racing_an_append_loses_the_cas(spark, tmp_path,
                                               monkeypatch):
    """Snapshot expiry commits on the metadata it read: an append that
    lands after that read makes the expiry's CAS lose, and the
    append's snapshot survives."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        expire_snapshots)

    p = str(tmp_path / "t")
    for i in range(2):
        write_iceberg(spark, spark.createDataFrame(
            [(i, "a")], "id long, v string"), p)
    metadata = IcebergTable.metadata

    def read_then_race(self):
        monkeypatch.setattr(IcebergTable, "metadata", metadata)
        md = metadata(self)
        write_iceberg(spark, spark.createDataFrame(
            [(2, "b")], "id long, v string"), p)
        return md

    monkeypatch.setattr(IcebergTable, "metadata", read_then_race)
    with pytest.raises(IcebergConcurrentCommit):
        expire_snapshots(p)
    assert len(IcebergTable(p).metadata()["snapshots"]) == 3
    assert _rows(read_iceberg(spark, p)) == [(0, "a"), (1, "a"), (2, "b")]
