"""Iceberg read interop: fixtures authored byte-by-byte from the
published Avro 1.11 + Iceberg table specs by an in-test writer (the
module under test only ever READS them), covering manifest-list →
manifest → parquet replay, snapshot time travel, both Avro codecs,
and the honest-refusal paths (delete files, renamed columns,
non-parquet data files)."""

from __future__ import annotations

import json
import os
import struct
import zlib

import pytest

from python_minerva_etl_spark.storage.avro_file import avro_read
from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)

# ------------------------------------------------- minimal avro writer


def _zz(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc(value, schema) -> bytes:
    if isinstance(schema, list):  # union: null branch or the other
        if value is None:
            idx = schema.index("null")
            return _zz(idx)
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _zz(idx) + _enc(value, schema[idx])
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if value else b"\x00"
        if schema in ("int", "long"):
            return _zz(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "bytes":
            return _zz(len(value)) + bytes(value)
        if schema == "string":
            b = value.encode("utf-8")
            return _zz(len(b)) + b
        raise AssertionError(schema)
    t = schema["type"]
    if t == "record":
        return b"".join(_enc(value[f["name"]], f["type"])
                        for f in schema["fields"])
    if t == "array":
        if not value:
            return _zz(0)
        return (_zz(len(value))
                + b"".join(_enc(v, schema["items"]) for v in value)
                + _zz(0))
    if t == "map":
        if not value:
            return _zz(0)
        body = b"".join(_enc(k, "string") + _enc(v, schema["values"])
                        for k, v in value.items())
        return _zz(len(value)) + body + _zz(0)
    if t == "enum":
        return _zz(schema["symbols"].index(value))
    if t == "fixed":
        return bytes(value)
    if isinstance(t, str):  # {"type": <primitive>, "logicalType": ...}
        return _enc(value, t)
    raise AssertionError(t)


def _avro_file(schema: dict, records: list, codec: str = "null") -> bytes:
    sync = bytes(range(16))
    header_meta = {"avro.schema": json.dumps(schema).encode(),
                   "avro.codec": codec.encode()}
    out = bytearray(b"Obj\x01")
    out += _enc(header_meta, {"type": "map", "values": "bytes"})
    out += sync
    body = b"".join(_enc(r, schema) for r in records)
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        body = co.compress(body) + co.flush()
    out += _zz(len(records)) + _zz(len(body)) + body + sync
    return bytes(out)


_MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ]}

_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
    ]}

_ICE_SCHEMA = {
    "type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": True, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "string"},
    ]}


def _entry(path: str, status: int = 1, content: int = 0,
           fmt: str = "PARQUET") -> dict:
    return {"status": status, "snapshot_id": 1,
            "data_file": {"content": content, "file_path": path,
                          "file_format": fmt, "record_count": 1,
                          "file_size_in_bytes": 1}}


def _write_parquet(path: str, ids, vs) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "v": pa.array(vs, pa.string())}), path)


def _build_table(root: str) -> None:
    """Two snapshots: snap 1 adds f1+f2; snap 2 deletes f1, adds f3."""
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    f1 = os.path.join(root, "data", "f1.parquet")
    f2 = os.path.join(root, "data", "f2.parquet")
    f3 = os.path.join(root, "data", "f3.parquet")
    _write_parquet(f1, [1], ["a"])
    _write_parquet(f2, [2], ["b"])
    _write_parquet(f3, [3], ["c"])
    m1 = os.path.join(root, "metadata", "m1.avro")
    m2 = os.path.join(root, "metadata", "m2.avro")
    with open(m1, "wb") as fh:  # deflate codec on one manifest
        fh.write(_avro_file(_MANIFEST_SCHEMA,
                            [_entry(f1), _entry(f2)], codec="deflate"))
    with open(m2, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA,
                            [_entry(f1, status=2), _entry(f2, status=0),
                             _entry(f3)]))
    for snap, m in ((1, m1), (2, m2)):
        ml = os.path.join(root, "metadata", f"snap-{snap}.avro")
        with open(ml, "wb") as fh:
            fh.write(_avro_file(_LIST_SCHEMA, [{
                "manifest_path": m, "manifest_length": 1,
                "partition_spec_id": 0, "content": 0}]))
    md = {
        "format-version": 2, "table-uuid": "t", "location": root,
        "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "manifest-list":
                os.path.join(root, "metadata", "snap-1.avro")},
            {"snapshot-id": 2, "manifest-list":
                os.path.join(root, "metadata", "snap-2.avro")},
        ]}
    with open(os.path.join(root, "metadata", "v2.metadata.json"),
              "w") as fh:
        json.dump(md, fh)
    with open(os.path.join(root, "metadata", "version-hint.text"),
              "w") as fh:
        fh.write("2")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_avro_reader_generic_shapes():
    """The generic Avro decoder handles unions, blocked arrays with
    negative (size-prefixed) counts, maps, enums, and fixed."""
    schema = {"type": "record", "name": "t", "fields": [
        {"name": "u", "type": ["null", "string"]},
        {"name": "a", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "int"}},
        {"name": "e", "type": {"type": "enum", "name": "E",
                               "symbols": ["X", "Y"]}},
        {"name": "f", "type": {"type": "fixed", "name": "F",
                               "size": 3}},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "boolean"},
    ]}
    rec = {"u": "hi", "a": [1, -2, 3], "m": {"k": 7}, "e": "Y",
           "f": b"xyz", "d": 2.5, "b": True}
    meta, records = avro_read(_avro_file(schema, [rec, rec]))
    assert records == [rec, rec]
    # negative-count array block (writer emits size-prefixed form)
    body = _zz(-2) + _zz(2 * len(_zz(5))) + _zz(5) + _zz(5) + _zz(0)
    arr_schema = {"type": "array", "items": "long"}
    blob = bytearray(b"Obj\x01")
    blob += _enc({"avro.schema": json.dumps(arr_schema).encode(),
                  "avro.codec": b"null"},
                 {"type": "map", "values": "bytes"})
    blob += bytes(range(16)) + _zz(1) + _zz(len(body)) + body \
        + bytes(range(16))
    _, recs = avro_read(bytes(blob))
    assert recs == [[5, 5]]


def test_read_current_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "ice")
    _build_table(root)
    t = IcebergTable(root)
    assert t.schema().fieldNames() == ["id", "v"]
    # current snapshot (2): f1 deleted, f2 existing, f3 added
    assert _rows(read_iceberg(spark, root)) == [(2, "b"), (3, "c")]
    # time travel to snapshot 1
    assert _rows(read_iceberg(spark, root, snapshot_id=1)) == \
        [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="snapshot 99"):
        read_iceberg(spark, root, snapshot_id=99)


def test_refusals_delete_files_and_formats(spark, tmp_path):
    root = str(tmp_path / "ice")
    _build_table(root)
    # equality-delete data file (content=2) must refuse
    m = os.path.join(root, "metadata", "m1.avro")
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [
            _entry(os.path.join(root, "data", "f1.parquet"),
                   content=2)]))
    # equality deletes decode since round 6, but a malformed entry
    # with no equality_ids must still refuse loudly
    with pytest.raises(ValueError, match="equality_ids"):
        read_iceberg(spark, root, snapshot_id=1)
    # Avro data files must refuse (ORC is supported since round 5)
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [
            _entry(os.path.join(root, "data", "f1.parquet"),
                   fmt="AVRO")]))
    with pytest.raises(NotImplementedError, match="AVRO"):
        read_iceberg(spark, root, snapshot_id=1)


def test_refuses_renamed_required_columns(spark, tmp_path):
    """A file whose parquet footer lacks a REQUIRED schema column (the
    column-rename case name-based resolution cannot express) raises
    instead of returning silent nulls."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    _build_table(root)
    old = os.path.join(root, "data", "f2.parquet")
    pq.write_table(pa.table({"id_old": pa.array([2], pa.int64()),
                             "v": pa.array(["b"], pa.string())}),
                   old)
    with pytest.raises(ValueError, match="renamed or schema-evolved"):
        read_iceberg(spark, root, snapshot_id=1)


def test_add_column_evolution_reads_nulls(spark, tmp_path):
    """ADVICE r5: legal add-column evolution — an old data file that
    lacks an OPTIONAL top-level column (added after the file was
    written) must read with nulls for that column, not be refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    _build_table(root)
    old = os.path.join(root, "data", "f2.parquet")
    # f2 predates the optional column 'v': only 'id' present
    pq.write_table(pa.table({"id": pa.array([2], pa.int64())}), old)
    got = sorted(read_iceberg(spark, root, snapshot_id=1).collect())
    assert [(r["id"], r["v"]) for r in got] == [(1, "a"), (2, None)]


def test_unknown_codec_and_bad_magic(tmp_path):
    with pytest.raises(ValueError, match="not an Avro"):
        avro_read(b"nope")
    blob = _avro_file(_LIST_SCHEMA, [])
    bad = blob.replace(b"null", b"zstd", 1)
    with pytest.raises(ValueError, match="zstd"):
        avro_read(bad)


def test_plugin_reads_iceberg(spark, tmp_path):
    from python_minerva_etl_spark.sources.plugins import get_plugin

    root = str(tmp_path / "ice")
    _build_table(root)
    got = get_plugin("iceberg")(spark, root)
    assert _rows(got) == [(2, "b"), (3, "c")]


_KV_BOUNDS = {"type": "array", "items": {
    "type": "record", "name": "i64_bytes", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"}]}}

_MANIFEST_BOUNDS_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "lower_bounds", "type": ["null", _KV_BOUNDS]},
                {"name": "upper_bounds", "type": ["null", _KV_BOUNDS]},
            ]}},
    ]}


def _entry_with_bounds(path, lo, hi):
    def kv(v):
        return [{"key": 1, "value": struct.pack("<q", v)}]
    return {"status": 1, "snapshot_id": 1,
            "data_file": {"content": 0, "file_path": path,
                          "file_format": "PARQUET",
                          "record_count": 1, "file_size_in_bytes": 1,
                          "lower_bounds": kv(lo),
                          "upper_bounds": kv(hi)}}


def test_where_prunes_files_by_column_bounds(spark, tmp_path):
    """Scan planning: a predicate provably false against a file's
    lower/upper_bounds must skip the file WITHOUT opening it — proven
    by giving the out-of-range file a path that does not exist (an
    unpruned read would raise), and a file with NO bounds must be
    kept (conservative)."""
    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    f_low = os.path.join(root, "data", "low.parquet")    # ids 1..3
    f_high = os.path.join(root, "data", "gone.parquet")  # ids 100.. (absent!)
    f_nb = os.path.join(root, "data", "nb.parquet")      # no bounds
    _write_parquet(f_low, [1, 2, 3], ["a", "b", "c"])
    _write_parquet(f_nb, [7], ["n"])
    m = os.path.join(root, "metadata", "m.avro")
    entries = [
        _entry_with_bounds(f_low, 1, 3),
        _entry_with_bounds(f_high, 100, 200),
        _entry(f_nb),  # plain schema in a second manifest below
    ]
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_BOUNDS_SCHEMA, entries[:2],
                            codec="deflate"))
    m2 = os.path.join(root, "metadata", "m2.avro")
    with open(m2, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, entries[2:]))
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0},
            {"manifest_path": m2, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0}]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)

    # without where, the missing high file must make the read fail
    with pytest.raises(Exception):
        read_iceberg(spark, root).collect()
    # with a pruning predicate, the missing file is never opened and
    # the bound-less file survives pruning but is filtered row-wise
    got = _rows(read_iceberg(spark, root, where=[("id", "<=", 3)]))
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    got = _rows(read_iceberg(spark, root, where=[("id", "=", 7)]))
    assert got == [(7, "n")]
    # predicate excluding everything with bounds + the no-bounds file
    got = _rows(read_iceberg(spark, root, where=[("id", "<", 1)]))
    assert got == []
    with pytest.raises(ValueError, match="unsupported predicate"):
        read_iceberg(spark, root, where=[("id", "!=", 1)])
    with pytest.raises(ValueError, match="unknown column"):
        read_iceberg(spark, root, where=[("nope", "=", 1)])


def test_where_bounds_true_map_form(spark, tmp_path):
    """Column stats also arrive as a TRUE Avro map (string keys) from
    some writers; both forms must prune identically."""
    schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "lower_bounds",
                     "type": {"type": "map", "values": "bytes"}},
                    {"name": "upper_bounds",
                     "type": {"type": "map", "values": "bytes"}},
                ]}},
        ]}
    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    f1 = os.path.join(root, "data", "f1.parquet")
    _write_parquet(f1, [5], ["x"])
    rec = {"status": 1, "snapshot_id": 1,
           "data_file": {"content": 0, "file_path": f1,
                         "file_format": "PARQUET", "record_count": 1,
                         "file_size_in_bytes": 1,
                         "lower_bounds": {"1": struct.pack("<q", 5)},
                         "upper_bounds": {"1": struct.pack("<q", 5)}}}
    missing = dict(rec, data_file=dict(
        rec["data_file"],
        file_path=os.path.join(root, "data", "gone.parquet"),
        lower_bounds={"1": struct.pack("<q", 50)},
        upper_bounds={"1": struct.pack("<q", 60)}))
    m = os.path.join(root, "metadata", "m.avro")
    with open(m, "wb") as fh:
        fh.write(_avro_file(schema, [rec, missing]))
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0}]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)
    assert _rows(read_iceberg(spark, root, where=[("id", "=", 5)])) \
        == [(5, "x")]


# --------------------------------------------------- avro SOURCE plugin

def test_avro_source_reads_types_and_nesting(spark, tmp_path):
    """The avro source plugin: primitives, nullable unions, nested
    record/array/map, enum->string, and logical decimal/date/
    timestamp-micros — decoded per file in executors, values checked
    against what the in-test spec writer put in."""
    import datetime
    import decimal

    from python_minerva_etl_spark.sources.plugins import get_plugin

    schema = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "kind", "type": {"type": "enum", "name": "K",
                                  "symbols": ["A", "B"]}},
        {"name": "nested", "type": {
            "type": "record", "name": "sub", "fields": [
                {"name": "x", "type": "int"},
                {"name": "y", "type": ["null", "double"]}]}},
        {"name": "amount", "type": {"type": "bytes",
                                    "logicalType": "decimal",
                                    "precision": 10, "scale": 2}},
        {"name": "d", "type": {"type": "int", "logicalType": "date"}},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros"}},
    ]}

    def amount_bytes(cents: int) -> bytes:
        n = max(1, (cents.bit_length() + 8) // 8)
        return cents.to_bytes(n, "big", signed=True)

    recs1 = [{"id": 1, "name": "a", "score": 1.5, "tags": ["x", "y"],
              "attrs": {"k": 7}, "kind": "A",
              "nested": {"x": 3, "y": 2.5},
              "amount": amount_bytes(12345),
              "d": 19723,            # 2024-01-01
              "ts": 1704067200000000},
             {"id": 2, "name": None, "score": -0.25, "tags": [],
              "attrs": {}, "kind": "B",
              "nested": {"x": -1, "y": None},
              "amount": amount_bytes(-50),
              "d": 0, "ts": 0}]
    recs2 = [{"id": 3, "name": "c", "score": 0.0, "tags": ["z"],
              "attrs": {"a": 1, "b": 2}, "kind": "A",
              "nested": {"x": 0, "y": 0.0},
              "amount": amount_bytes(0), "d": 100, "ts": 86400000000}]
    d = tmp_path / "av"
    os.makedirs(d)
    (d / "part-0.avro").write_bytes(
        _avro_file(schema, recs1, codec="deflate"))
    (d / "part-1.avro").write_bytes(_avro_file(schema, recs2))

    df = get_plugin("avro")(spark, str(d))
    assert [f.name for f in df.schema.fields] == [
        "id", "name", "score", "tags", "attrs", "kind", "nested",
        "amount", "d", "ts"]
    assert df.schema["amount"].dataType.simpleString() == "decimal(10,2)"
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 3
    r1 = rows[1]
    assert (r1.name, r1.score, list(r1.tags)) == ("a", 1.5, ["x", "y"])
    assert dict(r1.attrs) == {"k": 7} and r1.kind == "A"
    assert (r1.nested.x, r1.nested.y) == (3, 2.5)
    assert r1.amount == decimal.Decimal("123.45")
    assert r1.d == datetime.date(2024, 1, 1)
    assert r1.ts == datetime.datetime(2024, 1, 1)
    r2 = rows[2]
    assert r2.name is None and r2.nested.y is None
    assert r2.amount == decimal.Decimal("-0.50")


def test_avro_source_refuses_mixed_schemas_and_bad_unions(spark, tmp_path):
    from python_minerva_etl_spark.sources.avro import read_avro

    s1 = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}]}
    s2 = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "string"}]}
    d = tmp_path / "av"
    os.makedirs(d)
    (d / "a.avro").write_bytes(_avro_file(s1, [{"id": 1}]))
    (d / "b.avro").write_bytes(_avro_file(s2, [{"id": "x"}]))
    with pytest.raises(Exception, match="mixed-schema"):
        read_avro(spark, str(d)).collect()
    # non-nullable multi-branch union refused at schema time
    s3 = {"type": "record", "name": "r", "fields": [
        {"name": "u", "type": ["int", "string"]}]}
    (d2 := tmp_path / "av2").mkdir()
    (d2 / "a.avro").write_bytes(_avro_file(s3, [{"u": 1}]))
    with pytest.raises(ValueError, match="union"):
        read_avro(spark, str(d2))
    with pytest.raises(FileNotFoundError):
        read_avro(spark, str(tmp_path / "nope"))


def _avro_file_blocks(schema, records, codec="null", per_block=2):
    """Multi-block container (the in-test writer above emits a single
    block; real writers emit many)."""
    sync = bytes(range(16))
    out = bytearray(b"Obj\x01")
    out += _enc({"avro.schema": json.dumps(schema).encode(),
                 "avro.codec": codec.encode()},
                {"type": "map", "values": "bytes"})
    out += sync
    for i in range(0, len(records), per_block):
        chunk = records[i:i + per_block]
        body = b"".join(_enc(r, schema) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = co.compress(body) + co.flush()
        out += _zz(len(chunk)) + _zz(len(body)) + body + sync
    return bytes(out)


def test_avro_decoder_property_roundtrip():
    """Property: any record list round-trips through the spec writer
    and our decoder, across codecs, block splits, and value edge
    cases (zigzag boundaries, unicode, empty/nested collections)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "b", "type": "bytes"},
        {"name": "f", "type": "double"},
        {"name": "a", "type": {"type": "array",
                               "items": ["null", "long"]}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ]}
    longs = st.one_of(
        st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
        st.sampled_from([0, 1, -1, 63, 64, -64, -65,
                         2 ** 31 - 1, -2 ** 31, 2 ** 62, -(2 ** 62)]))
    rec = st.fixed_dictionaries({
        "i": longs,
        "s": st.one_of(st.none(), st.text(max_size=20)),
        "b": st.binary(max_size=16),
        "f": st.floats(allow_nan=False, width=64),
        "a": st.lists(st.one_of(st.none(), longs), max_size=5),
        "m": st.dictionaries(st.text(max_size=8),
                             st.text(max_size=8), max_size=4),
    })

    @settings(max_examples=60, deadline=None)
    @given(records=st.lists(rec, max_size=7),
           codec=st.sampled_from(["null", "deflate"]),
           per_block=st.integers(min_value=1, max_value=3))
    def check(records, codec, per_block):
        blob = _avro_file_blocks(schema, records, codec, per_block)
        _, got = avro_read(blob)
        assert got == records

    check()


def test_manifest_level_pruning_from_partition_summaries(spark, tmp_path):
    """The upper scan-planning layer: a manifest whose partition
    summaries exclude the predicate is skipped WITHOUT opening its
    Avro — proven by pointing the excluded manifest at a nonexistent
    file.  Bucket-transform fields must NOT prune (conservative)."""
    list_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "partitions", "type": ["null", {
                "type": "array", "items": {
                    "type": "record", "name": "field_summary",
                    "fields": [
                        {"name": "contains_null", "type": "boolean"},
                        {"name": "lower_bound",
                         "type": ["null", "bytes"]},
                        {"name": "upper_bound",
                         "type": ["null", "bytes"]},
                    ]}}]},
        ]}
    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    f1 = os.path.join(root, "data", "f1.parquet")
    _write_parquet(f1, [5], ["x"])
    m_ok = os.path.join(root, "metadata", "m_ok.avro")
    with open(m_ok, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [_entry(f1)]))
    m_gone = os.path.join(root, "metadata", "gone.avro")  # never created

    def summ(lo, hi):
        return [{"contains_null": False,
                 "lower_bound": struct.pack("<q", lo),
                 "upper_bound": struct.pack("<q", hi)}]

    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(list_schema, [
            {"manifest_path": m_ok, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0,
             "partitions": summ(1, 10)},
            {"manifest_path": m_gone, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0,
             "partitions": summ(100, 200)},
        ]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "partition-specs": [{"spec-id": 0, "fields": [
              {"name": "id", "transform": "identity",
               "source-id": 1, "field-id": 1000}]}],
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)

    # without a predicate the missing manifest must fail the read
    with pytest.raises(Exception):
        read_iceberg(spark, root).collect()
    # with the predicate, the out-of-range manifest is never opened
    assert _rows(read_iceberg(spark, root, where=[("id", "<", 50)])) \
        == [(5, "x")]
    # a bucket transform must not prune (the summary is over hashed
    # values, not source values): same predicate now fails because
    # the missing manifest survives pruning
    md["partition-specs"][0]["fields"][0]["transform"] = "bucket[8]"
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)
    with pytest.raises(Exception):
        read_iceberg(spark, root, where=[("id", "<", 50)]).collect()


def test_mixed_parquet_and_orc_data_files(spark, tmp_path):
    """ORC data files are legal per spec; a table mixing parquet and
    ORC reads as the union, and the rename guard covers ORC footers
    too."""
    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    fp = os.path.join(root, "data", "p.parquet")
    _write_parquet(fp, [1], ["a"])
    fo_dir = os.path.join(root, "data", "orc")
    (spark.createDataFrame([(2, "b")], "id long, v string")
     .coalesce(1).write.orc(fo_dir))
    import glob as _glob
    fo = _glob.glob(os.path.join(fo_dir, "*.orc"))[0]
    m = os.path.join(root, "metadata", "m.avro")
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [
            _entry(fp), _entry(fo, fmt="ORC")]))
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0}]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (2, "b")]
    # rename guard fires on ORC footers too (required column renamed)
    (spark.createDataFrame([(9, "z")], "id_old long, v string")
     .coalesce(1).write.mode("overwrite").orc(fo_dir))
    fo2 = _glob.glob(os.path.join(fo_dir, "*.orc"))[0]
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [
            _entry(fp), _entry(fo2, fmt="ORC")]))
    with pytest.raises(ValueError, match="renamed or schema-evolved"):
        read_iceberg(spark, root)
    # Avro data files still refused
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [
            _entry(fp, fmt="AVRO")]))
    with pytest.raises(NotImplementedError, match="AVRO"):
        read_iceberg(spark, root)


def test_metadata_fallback_sorts_numerically(tmp_path):
    """ADVICE r5: without version-hint.text the directory-scan
    fallback must pick v10 over v9 (numeric, not lexicographic)."""
    root = str(tmp_path / "ice")
    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir)
    for v in (9, 10):
        with open(os.path.join(mdir, f"v{v}.metadata.json"), "w") as fh:
            json.dump({"format-version": 2, "marker": v}, fh)
    t = IcebergTable(root)
    assert t._metadata_path().endswith("v10.metadata.json")
    # HiveCatalog-style '<N>-<uuid>' names sort numerically too
    os.remove(os.path.join(mdir, "v9.metadata.json"))
    os.remove(os.path.join(mdir, "v10.metadata.json"))
    for v in (2, 11):
        with open(os.path.join(mdir, f"{v:05d}-abc.metadata.json"),
                  "w") as fh:
            json.dump({"format-version": 2, "marker": v}, fh)
    assert t._metadata_path().endswith("00011-abc.metadata.json")


def _write_pos_delete(path: str, pairs: list[tuple[str, int]]) -> None:
    """Author a v2 position-delete parquet file per the Iceberg spec:
    columns file_path (string) + pos (long)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "file_path": pa.array([p for p, _ in pairs], pa.string()),
        "pos": pa.array([i for _, i in pairs], pa.int64())}), path)


def _delete_entry(path: str) -> dict:
    return {"status": 1, "snapshot_id": 1,
            "data_file": {"content": 1, "file_path": path,
                          "file_format": "PARQUET", "record_count": 1,
                          "file_size_in_bytes": 1}}


def _build_mor_table(root: str) -> None:
    """Merge-on-read table: one snapshot, two data files of 3 rows
    each, one delete manifest removing d1 row 1 and d2 rows 0+2."""
    os.makedirs(os.path.join(root, "metadata"))
    os.makedirs(os.path.join(root, "data"))
    d1 = os.path.join(root, "data", "d1.parquet")
    d2 = os.path.join(root, "data", "d2.parquet")
    _write_parquet(d1, [1, 2, 3], ["a", "b", "c"])
    _write_parquet(d2, [4, 5, 6], ["d", "e", "f"])
    # delete file uses the same path form as the manifest entries
    pd_file = os.path.join(root, "data", "del1.parquet")
    _write_pos_delete(pd_file, [(d1, 1), (d2, 0), (d2, 2)])
    dm = os.path.join(root, "metadata", "dm.avro")
    with open(dm, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [_delete_entry(pd_file)]))
    m = os.path.join(root, "metadata", "m.avro")
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA, [_entry(d1), _entry(d2)]))
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "content": 0},
            {"manifest_path": dm, "manifest_length": 1,
             "partition_spec_id": 0, "content": 1}]))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)


def test_position_deletes_applied(spark, tmp_path):
    """v2 merge-on-read: position-delete files drop exactly the
    (file_path, pos) pairs they list."""
    root = str(tmp_path / "ice")
    _build_mor_table(root)
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (3, "c"),
                                                (5, "e")]


def test_position_deletes_with_file_uri_paths(spark, tmp_path):
    """Delete files written by engines that record 'file://' URIs must
    still match Spark's _metadata.file_path form."""
    root = str(tmp_path / "ice")
    _build_mor_table(root)
    # rewrite the delete file with file:// URI paths
    d1 = os.path.join(root, "data", "d1.parquet")
    d2 = os.path.join(root, "data", "d2.parquet")
    _write_pos_delete(os.path.join(root, "data", "del1.parquet"),
                      [(f"file://{d1}", 1), (f"file://{d2}", 0),
                       (f"file://{d2}", 2)])
    assert _rows(read_iceberg(spark, root)) == [(1, "a"), (3, "c"),
                                                (5, "e")]


def test_position_deletes_survive_predicate_pruning(spark, tmp_path):
    """File-level pruning must not skip the delete application for
    surviving files: a predicate that keeps d2 still sees d2's two
    deleted rows dropped."""
    root = str(tmp_path / "ice")
    _build_mor_table(root)
    got = _rows(read_iceberg(spark, root, where=[("id", ">", 3)]))
    assert got == [(5, "e")]


def test_position_deletes_over_orc_refused(spark, tmp_path):
    """ORC data files + position deletes refuse loudly (row_index is
    a parquet-only metadata column in Spark)."""
    root = str(tmp_path / "ice")
    _build_mor_table(root)
    # flip one data file's declared format to ORC
    d1 = os.path.join(root, "data", "d1.parquet")
    d2 = os.path.join(root, "data", "d2.parquet")
    fo_dir = os.path.join(root, "data", "orc")
    (spark.createDataFrame([(7, "g")], "id long, v string")
     .coalesce(1).write.orc(fo_dir))
    import glob as _glob
    fo = _glob.glob(os.path.join(fo_dir, "*.orc"))[0]
    m = os.path.join(root, "metadata", "m.avro")
    with open(m, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_SCHEMA,
                            [_entry(d1), _entry(d2),
                             _entry(fo, fmt="ORC")]))
    with pytest.raises(NotImplementedError, match="ORC"):
        read_iceberg(spark, root)


# ---------------------------------------------- equality deletes (v2)

_MANIFEST_SEQ_SCHEMA = {
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

_LIST_SEQ_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": ["null", "long"]},
    ]}


def _seq_entry(path, seq=None, content=0, eq_ids=None):
    return {"status": 1, "snapshot_id": 1, "sequence_number": seq,
            "data_file": {"content": content, "file_path": path,
                          "file_format": "PARQUET",
                          "record_count": 1,
                          "file_size_in_bytes": 1,
                          "equality_ids": eq_ids}}


def _build_eq_table(root: str, entries_by_manifest,
                    inherit_seqs) -> None:
    """One snapshot; ``entries_by_manifest`` = list of (entries,
    list_content, inherited_seq) triples."""
    os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
    mlist_entries = []
    for i, (entries, content) in enumerate(entries_by_manifest):
        m = os.path.join(root, "metadata", f"em{i}.avro")
        with open(m, "wb") as fh:
            fh.write(_avro_file(_MANIFEST_SEQ_SCHEMA, entries))
        mlist_entries.append({
            "manifest_path": m, "manifest_length": 1,
            "partition_spec_id": 0, "content": content,
            "sequence_number": inherit_seqs[i]})
    ml = os.path.join(root, "metadata", "snap-1.avro")
    with open(ml, "wb") as fh:
        fh.write(_avro_file(_LIST_SEQ_SCHEMA, mlist_entries))
    md = {"format-version": 2, "table-uuid": "t", "location": root,
          "schemas": [_ICE_SCHEMA], "current-schema-id": 0,
          "current-snapshot-id": 1,
          "snapshots": [{"snapshot-id": 1, "manifest-list": ml}]}
    with open(os.path.join(root, "metadata", "v1.metadata.json"),
              "w") as fh:
        json.dump(md, fh)


def test_equality_deletes_respect_sequence_numbers(spark, tmp_path):
    """THE merge-on-read semantic: an equality delete at seq 2
    removes matching rows only from data files with seq < 2 — a
    re-insert of the same key at seq 3 survives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    a = os.path.join(root, "data", "a.parquet")
    b = os.path.join(root, "data", "b.parquet")
    _write_parquet(a, [1, 2], ["a", "b"])
    _write_parquet(b, [3], ["b"])   # re-insert of v='b' AFTER delete
    dfile = os.path.join(root, "data", "eqdel.parquet")
    pq.write_table(pa.table({"v": pa.array(["b"], pa.string())}),
                   dfile)
    _build_eq_table(
        root,
        [([_seq_entry(a, seq=1), _seq_entry(b, seq=3)], 0),
         ([_seq_entry(dfile, seq=2, content=2, eq_ids=[2])], 1)],
        inherit_seqs=[None, None])
    got = _rows(read_iceberg(spark, root))
    assert got == [(1, "a"), (3, "b")]


def test_equality_delete_multi_column_and_null_match(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    a = os.path.join(root, "data", "a.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "v": pa.array(["x", None, "y"], pa.string())}), a)
    dfile = os.path.join(root, "data", "eqdel.parquet")
    pq.write_table(pa.table({
        "id": pa.array([2, 3], pa.int64()),
        "v": pa.array([None, "zzz"], pa.string())}), dfile)
    _build_eq_table(
        root,
        [([_seq_entry(a, seq=1)], 0),
         ([_seq_entry(dfile, seq=2, content=2, eq_ids=[1, 2])], 1)],
        inherit_seqs=[None, None])
    # (2, NULL) matches null-safely; (3, 'zzz') matches no row
    got = _rows(read_iceberg(spark, root))
    assert got == [(1, "x"), (3, "y")]


def test_equality_delete_sequence_inheritance(spark, tmp_path):
    """Entries without an explicit sequence number inherit the
    manifest-list entry's (v2 inheritance)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    a = os.path.join(root, "data", "a.parquet")
    _write_parquet(a, [1, 2], ["a", "b"])
    dfile = os.path.join(root, "data", "eqdel.parquet")
    pq.write_table(pa.table({"v": pa.array(["a"], pa.string())}),
                   dfile)
    _build_eq_table(
        root,
        [([_seq_entry(a)], 0),               # inherits seq 1
         ([_seq_entry(dfile, content=2, eq_ids=[2])], 1)],  # seq 2
        inherit_seqs=[1, 2])
    assert _rows(read_iceberg(spark, root)) == [(2, "b")]

    # and with NO sequence info anywhere: honest refusal
    root2 = str(tmp_path / "ice2")
    os.makedirs(os.path.join(root2, "data"))
    a2 = os.path.join(root2, "data", "a.parquet")
    _write_parquet(a2, [1], ["a"])
    d2 = os.path.join(root2, "data", "eqdel.parquet")
    pq.write_table(pa.table({"v": pa.array(["a"], pa.string())}), d2)
    _build_eq_table(
        root2,
        [([_seq_entry(a2)], 0),
         ([_seq_entry(d2, content=2, eq_ids=[2])], 1)],
        inherit_seqs=[None, None])
    with pytest.raises(ValueError, match="sequence number"):
        read_iceberg(spark, root2).collect()


def test_position_and_equality_deletes_combined(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ice")
    os.makedirs(os.path.join(root, "data"))
    os.makedirs(os.path.join(root, "metadata"))
    a = os.path.join(root, "data", "a.parquet")
    _write_parquet(a, [1, 2, 3, 4], ["a", "b", "c", "d"])
    pos = os.path.join(root, "data", "posdel.parquet")
    _write_pos_delete(pos, [(a, 0)])          # drops (1, 'a')
    eqd = os.path.join(root, "data", "eqdel.parquet")
    pq.write_table(pa.table({"v": pa.array(["c"], pa.string())}),
                   eqd)
    # position-delete entries need no equality_ids; reuse the seq
    # schema (equality_ids stays null)
    _build_eq_table(
        root,
        [([_seq_entry(a, seq=1)], 0),
         ([_seq_entry(pos, seq=2, content=1),
           _seq_entry(eqd, seq=2, content=2, eq_ids=[2])], 1)],
        inherit_seqs=[None, None])
    assert _rows(read_iceberg(spark, root)) == [(2, "b"), (4, "d")]


def test_equality_delete_plan_constant_in_batch_count(spark,
                                                      tmp_path):
    """Many CDC batches' equality-delete files over the same key set
    apply as ONE aggregated broadcast anti join (max(seq) per key),
    not one join per file — plan size stays O(1) as history grows."""
    from python_minerva_etl_spark.storage.iceberg import read_iceberg
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg, write_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 100).toDF("id"), p)
    for k in range(6):
        equality_delete_iceberg(
            spark, p,
            spark.createDataFrame([(k * 10,), (k * 10 + 1,)],
                                  "id long"))
    df = read_iceberg(spark, p)
    assert df.count() == 100 - 12
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re
    # one LeftAnti for ALL six delete commits (plus none extra)
    assert len(re.findall("LeftAnti", plan)) == 1, plan[:2000]
    # re-deleting an already-deleted key in a later batch stays
    # correct (max-seq collapse)
    equality_delete_iceberg(
        spark, p, spark.createDataFrame([(0,), (55,)], "id long"))
    assert read_iceberg(spark, p).count() == 100 - 13


def test_lit_physical_timestamp_micros_exact():
    """Timestamp literals must convert to epoch-micros with EXACT
    integer arithmetic: float .timestamp()*1e6 drifts 1-3µs for
    far-future values, and a drifted equality literal that equals a
    file's lower/upper bound would wrongly prune a matching file."""
    import datetime as dt

    from python_minerva_etl_spark.storage.iceberg import _lit_physical

    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    for base, us in [(1704067200, 1), (4102444800, 999999),
                     (32503680000, 7), (32503680000, 500001)]:
        t = dt.datetime.fromtimestamp(
            base, dt.timezone.utc).replace(microsecond=us)
        want = (t - epoch) // dt.timedelta(microseconds=1)
        assert _lit_physical("timestamptz", t) == want, t
        # naive datetimes are treated as UTC
        assert _lit_physical(
            "timestamp", t.replace(tzinfo=None)) == want, t


def test_hadoop_style_file_uris_read(spark, tmp_path):
    """Hadoop-written metadata spells local locations ``file:/p``
    (one slash): the manifest list, manifests and data files it names
    open like plain paths, and position deletes still match."""
    from python_minerva_etl_spark.storage.iceberg import read_iceberg
    from python_minerva_etl_spark.storage.iceberg_write import (
        delete_iceberg, write_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(spark, spark.range(0, 10).toDF("id"), p)
    delete_iceberg(spark, p, [("id", "<", 3)])
    md_path = IcebergTable(p)._metadata_path()
    with open(md_path) as fh:
        md = json.load(fh)
    for s in md["snapshots"]:
        s["manifest-list"] = "file:" + os.path.abspath(
            s["manifest-list"].replace("file://", ""))
    with open(md_path, "w") as fh:
        json.dump(md, fh)
    assert sorted(r.id for r in read_iceberg(spark, p).collect()) == \
        list(range(3, 10))
