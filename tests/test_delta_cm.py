"""Delta column mapping (mode 'name'): physical parquet columns
resolved back to the logical schema — flat, nested, partitioned, and
composed with deletion vectors.  Fixtures are hand-written the way a
foreign column-mapping engine lays tables out (PROTOCOL.md Column
Mapping): parquet files carry ONLY physical `col-<uuid>`-style names,
the logical names exist solely in schemaString metadata, and
partitionValues are keyed by physical name."""

from __future__ import annotations

import json
import os

import pytest

from python_minerva_etl_spark.storage.delta import read_delta, write_delta


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fld(name, typ, phys, cid, nullable=True):
    return {"name": name, "type": typ, "nullable": nullable,
            "metadata": {"delta.columnMapping.id": cid,
                         "delta.columnMapping.physicalName": phys}}


def _log(p, schema_fields, adds, partition_cols=(), mode="name",
         protocol=None):
    os.makedirs(os.path.join(p, "_delta_log"), exist_ok=True)
    actions = [
        {"protocol": protocol or {"minReaderVersion": 2,
                                  "minWriterVersion": 5}},
        {"metaData": {
            "id": "m", "format": {"provider": "parquet",
                                  "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": schema_fields}),
            "partitionColumns": list(partition_cols),
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "9"},
            "createdTime": 0}},
    ] + adds
    with open(os.path.join(p, "_delta_log",
                           f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")


def _add(path, pvals=None):
    return {"add": {"path": path, "partitionValues": pvals or {},
                    "size": 1, "modificationTime": 0,
                    "dataChange": True}}


def test_flat_column_mapping_name_mode(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({
        "col-aaa": pa.array([1, 2], type=pa.int64()),
        "col-bbb": pa.array(["x", "y"])}),
        os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet")])
    got = read_delta(spark, p)
    assert got.columns == ["id", "v"]
    assert _rows(got) == [(1, "x"), (2, "y")]
    # logical filters reach the physical read path
    assert got.filter("v = 'y'").count() == 1


def test_nested_struct_array_map_renames(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(p)
    inner = pa.struct([("col-x", pa.int64()), ("col-y", pa.string())])
    tbl = pa.table({
        "col-s": pa.array([{"col-x": 1, "col-y": "a"}, None],
                          type=inner),
        "col-arr": pa.array([[{"col-x": 2, "col-y": "b"}], []],
                            type=pa.list_(inner)),
        "col-m": pa.array([[("k", {"col-x": 3, "col-y": "c"})], []],
                          type=pa.map_(pa.string(), inner)),
    })
    pq.write_table(tbl, os.path.join(p, "f0.parquet"))
    inner_fields = [_fld("x", "long", "col-x", 4),
                    _fld("y", "string", "col-y", 5)]
    struct_t = {"type": "struct", "fields": inner_fields}
    _log(p, [
        _fld("s", struct_t, "col-s", 1),
        _fld("arr", {"type": "array", "elementType": struct_t,
                     "containsNull": True}, "col-arr", 2),
        _fld("m", {"type": "map", "keyType": "string",
                   "valueType": struct_t,
                   "valueContainsNull": True}, "col-m", 3),
    ], [_add("f0.parquet")])
    got = read_delta(spark, p)
    rows = got.orderBy("s").collect()
    r0 = rows[1]  # non-null struct sorts after null
    assert r0["s"]["x"] == 1 and r0["s"]["y"] == "a"
    assert r0["arr"][0]["x"] == 2 and r0["arr"][0]["y"] == "b"
    assert r0["m"]["k"]["x"] == 3 and r0["m"]["k"]["y"] == "c"
    # null struct stays null (not a struct of nulls)
    assert rows[0]["s"] is None
    # logical nested access works end-to-end
    assert got.filter("s.x = 1").count() == 1


def test_partition_values_keyed_by_physical_name(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "part"))
    pq.write_table(pa.table({"col-i": pa.array([1, 2],
                                               type=pa.int64())}),
                   os.path.join(p, "part", "f0.parquet"))
    pq.write_table(pa.table({"col-i": pa.array([3],
                                               type=pa.int64())}),
                   os.path.join(p, "part", "f1.parquet"))
    _log(p, [_fld("id", "long", "col-i", 1),
             _fld("region", "string", "col-r", 2)],
         [_add("part/f0.parquet", {"col-r": "emea"}),
          _add("part/f1.parquet", {"col-r": "apac"})],
         partition_cols=["region"])
    got = read_delta(spark, p)
    assert _rows(got) == [(1, "emea"), (2, "emea"), (3, "apac")]


def test_column_mapping_with_deletion_vector(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta_dv import (dv_write,
                                                           z85_encode)

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-i": pa.array([10, 11, 12],
                                               type=pa.int64())}),
                   os.path.join(p, "f0.parquet"))
    desc = dv_write(p, [1])  # mask row 1 (value 11)
    add = _add("f0.parquet")
    add["add"]["deletionVector"] = desc
    _log(p, [_fld("id", "long", "col-i", 1)], [add],
         protocol={"minReaderVersion": 3, "minWriterVersion": 7,
                   "readerFeatures": ["columnMapping",
                                      "deletionVectors"],
                   "writerFeatures": ["columnMapping",
                                      "deletionVectors"]})
    assert _rows(read_delta(spark, p)) == [(10,), (12,)]
    assert z85_encode  # imported for fixture parity with DV tests


def test_missing_physical_name_raises(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-i": pa.array([1],
                                               type=pa.int64())}),
                   os.path.join(p, "f0.parquet"))
    # name mode but a field without physicalName metadata: loud
    fields = [{"name": "id", "type": "long", "nullable": True,
               "metadata": {}}]
    _log(p, fields, [_add("f0.parquet")])
    with pytest.raises(ValueError, match="physicalName"):
        read_delta(spark, p)


def test_column_mapped_append_and_dml(spark, tmp_path):
    """Round 6: writes to column-mapped (mode name) tables stage
    parquet under PHYSICAL names with physical-keyed stats, so any
    column-mapping reader resolves them; UPDATE/DELETE/MERGE/
    replaceWhere ride the same staging.  Overwrite / merge_schema
    stay refused (they would need fresh field ids); OPTIMIZE
    compacts in the physical world (test below)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-aaa": pa.array([1, 2], pa.int64()),
                             "col-bbb": pa.array(["x", "y"])}),
                   os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet")])
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(3, "z")], "id long, v string").coalesce(1))
    assert _rows(dt.read(spark)) == [(1, "x"), (2, "y"), (3, "z")]
    new = [f for f in dt._replay()["files"]
           if f["path"] != "f0.parquet"]
    stats = [json.loads(f["stats"]) for f in new
             if json.loads(f["stats"])["numRecords"]]
    # staged files + stats speak physical
    assert stats and "col-aaa" in stats[0]["minValues"]
    names = pq.ParquetFile(
        os.path.join(p, new[0]["path"])).schema_arrow.names
    assert set(names) == {"col-aaa", "col-bbb"}
    # row-level DML through the same physical staging
    dt.update(spark, {"v": "upper(v)"}, "id = 1")
    dt.delete(spark, "id = 2")
    dt.merge(spark, spark.createDataFrame(
        [(9, "nine")], "id long, v string"), "t.id = s.id",
        when_not_matched_insert=True)
    dt.replace_where(spark, spark.createDataFrame(
        [(7, "seven")], "id long, v string"), "id > 5")
    assert _rows(dt.read(spark)) == [(1, "X"), (3, "z"),
                                     (7, "seven")]
    with pytest.raises(NotImplementedError, match="overwrite"):
        dt.write(spark, spark.createDataFrame(
            [(1, "a")], "id long, v string"), mode="overwrite")
    with pytest.raises(NotImplementedError, match="merge_schema"):
        dt.write(spark, spark.createDataFrame(
            [(1, "a", 1.0)], "id long, v string, extra double"),
            merge_schema=True)


def test_column_mapped_partitioned_append(spark, tmp_path):
    """Appends into a partitioned cm table record partitionValues
    keyed by the PHYSICAL partition-column name, matching the
    foreign layout the reader already resolves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "col-ppp=a"))
    pq.write_table(pa.table({"col-qqq": pa.array([1], pa.int64())}),
                   os.path.join(p, "col-ppp=a", "f0.parquet"))
    _log(p, [_fld("par", "string", "col-ppp", 1),
             _fld("id", "long", "col-qqq", 2)],
         [_add("col-ppp=a/f0.parquet", {"col-ppp": "a"})],
         partition_cols=["par"])
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [("b", 2)], "par string, id long").coalesce(1))
    assert _rows(dt.read(spark)) == [("a", 1), ("b", 2)]
    # match by exact fixture path, NOT a substring — a staged file's
    # uuid hex contains "f0" ~11% of the time (round-7 flake)
    newf = [f for f in dt._replay()["files"]
            if f["path"] != "col-ppp=a/f0.parquet"][0]
    assert newf["partitionValues"] == {"col-ppp": "b"}


# ------------------------------------------------------ mode 'id'


def _pq_with_ids(path, cols):
    """Write parquet whose fields carry PARQUET:field_id metadata —
    the physical shape every id-mode Delta writer produces.
    ``cols`` = [(parquet_name, field_id, pa_array)]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [pa.field(n, arr.type,
                       metadata={b"PARQUET:field_id": str(i).encode()})
              for n, i, arr in cols]
    pq.write_table(
        pa.Table.from_arrays([arr for _n, _i, arr in cols],
                             schema=pa.schema(fields)), path)


def test_flat_column_mapping_id_mode(spark, tmp_path):
    """Mode 'id' resolves parquet columns by FIELD ID: the file here
    deliberately spells physical names that differ from the schema's
    physicalName (the post-rename situation id mode exists for)."""
    import pyarrow as pa

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("old-name-1", 1, pa.array([1, 2],
                                             type=pa.int64())),
                  ("old-name-2", 2, pa.array(["x", "y"]))])
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet")], mode="id")
    got = read_delta(spark, p)
    assert got.columns == ["id", "v"]
    assert _rows(got) == [(1, "x"), (2, "y")]


def test_id_mode_mixed_physical_names_across_files(spark, tmp_path):
    """Two files from different epochs of the table's rename history
    — different parquet column names, same field ids — read as one
    consistent table."""
    import pyarrow as pa

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("alpha", 1, pa.array([1], type=pa.int64())),
                  ("beta", 2, pa.array(["a"]))])
    _pq_with_ids(os.path.join(p, "f1.parquet"),
                 [("renamed", 1, pa.array([2], type=pa.int64())),
                  ("also_renamed", 2, pa.array(["b"]))])
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet"), _add("f1.parquet")], mode="id")
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b")]


def test_id_mode_partitioned(spark, tmp_path):
    import pyarrow as pa

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "part"))
    _pq_with_ids(os.path.join(p, "part", "f0.parquet"),
                 [("i", 1, pa.array([1, 2], type=pa.int64()))])
    _pq_with_ids(os.path.join(p, "part", "f1.parquet"),
                 [("i", 1, pa.array([3], type=pa.int64()))])
    _log(p, [_fld("id", "long", "col-i", 1),
             _fld("region", "string", "col-r", 2)],
         [_add("part/f0.parquet", {"col-r": "emea"}),
          _add("part/f1.parquet", {"col-r": "apac"})],
         partition_cols=["region"], mode="id")
    got = read_delta(spark, p)
    assert _rows(got) == [(1, "emea"), (2, "emea"), (3, "apac")]


def test_id_mode_missing_field_id_metadata_raises(spark, tmp_path):
    import pyarrow as pa

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("x", 1, pa.array([1], type=pa.int64()))])
    fld = {"name": "id", "type": "long", "nullable": True,
           "metadata": {"delta.columnMapping.physicalName": "col-a"}}
    _log(p, [fld], [_add("f0.parquet")], mode="id")
    with pytest.raises(ValueError, match="delta.columnMapping.id"):
        read_delta(spark, p).collect()


def test_id_mode_append_and_dml_roundtrip(spark, tmp_path):
    """Round 7: id-mode WRITES — staged parquet carries
    PARQUET:field_id (Spark's fieldId.write from the alias metadata),
    so id-resolving readers match the new files regardless of their
    physical column spelling; UPDATE/DELETE ride the same staging;
    OPTIMIZE compacts reading by field id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(p)
    # foreign file spelled differently than the schema physicalName
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("oldname", 1, pa.array([1], type=pa.int64())),
                  ("oldv", 2, pa.array(["a"]))])
    _log(p, [_fld("id", "long", "col-a", 1),
             _fld("v", "string", "col-b", 2)],
         [_add("f0.parquet")], mode="id")
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(2, "b")], "id long, v string").coalesce(1))
    assert _rows(dt.read(spark)) == [(1, "a"), (2, "b")]
    new = [f for f in dt._replay()["files"]
           if f["path"] != "f0.parquet"][0]
    sa = pq.ParquetFile(os.path.join(p, new["path"])).schema_arrow
    got = {sa.field(i).name:
           (sa.field(i).metadata or {}).get(b"PARQUET:field_id")
           for i in range(len(sa.names))}
    assert got == {"col-a": b"1", "col-b": b"2"}
    # row-level DML through the same id-stamped staging
    dt.update(spark, {"v": "upper(v)"}, "id = 1")
    dt.delete(spark, "id = 2")
    assert _rows(dt.read(spark)) == [(1, "A")]
    # OPTIMIZE reads by field id (mixed physical spellings) and
    # rewrites with ids intact
    dt.write(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string").coalesce(1))
    assert dt.optimize(spark, small_file_bytes=1 << 20) is not None
    assert _rows(dt.read(spark)) == [(1, "A"), (3, "c")]


def test_column_mapped_optimize_and_cdf(spark, tmp_path):
    """Round 7: OPTIMIZE compacts name-mode tables entirely in the
    physical world (physical columns read, physical files staged,
    physical stats), and changes() reconstructs the CDF with logical
    column names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-aaa": pa.array([1, 2], pa.int64()),
                             "col-bbb": pa.array(["x", "y"])}),
                   os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-aaa", 1),
             _fld("v", "string", "col-bbb", 2)],
         [_add("f0.parquet")])
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(3, "z")], "id long, v string").coalesce(1))
    dt.write(spark, spark.createDataFrame(
        [(4, "w")], "id long, v string").coalesce(1))

    # OPTIMIZE: bin-packs the small physical files; rewritten files
    # keep physical columns + physically-keyed stats
    v = dt.optimize(spark, small_file_bytes=1 << 20)
    assert v is not None
    assert _rows(dt.read(spark)) == [(1, "x"), (2, "y"), (3, "z"),
                                     (4, "w")]
    live = dt._replay()["files"]
    assert len(live) == 1
    names = pq.ParquetFile(
        os.path.join(p, live[0]["path"])).schema_arrow.names
    assert set(names) == {"col-aaa", "col-bbb"}
    stats = json.loads(live[0]["stats"])
    assert "col-aaa" in stats["minValues"]

    # CDF over the mapped table: enable it, run an update, read the
    # feed back with LOGICAL names
    dt.set_properties({"delta.enableChangeDataFeed": "true"})
    dt.update(spark, {"v": "upper(v)"}, "id = 3")
    last = dt.versions()[-1]
    feed = dt.changes(spark, last, last)
    rows = {(r.id, r.v, r._change_type) for r in feed.collect()}
    assert (3, "z", "update_preimage") in rows
    assert (3, "Z", "update_postimage") in rows


def test_id_mode_cdf_foreign_fixture(spark, tmp_path):
    """CDF over an id-mapped table (foreign fixture): the cdc file's
    data columns resolve by field id — spelled differently than the
    schema's physicalName — while the synthetic _change_type matches
    by name."""
    import pyarrow as pa

    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_change_data"))
    _pq_with_ids(os.path.join(p, "f0.parquet"),
                 [("oldname", 1, pa.array([1, 2], type=pa.int64()))])
    _log(p, [_fld("id", "long", "col-a", 1)], [_add("f0.parquet")],
         mode="id")
    # commit 1: an insert recorded via an explicit cdc action
    import pyarrow.parquet as pq
    fields = [pa.field("newname", pa.int64(),
                       metadata={b"PARQUET:field_id": b"1"}),
              pa.field("_change_type", pa.string())]
    pq.write_table(pa.Table.from_arrays(
        [pa.array([3], type=pa.int64()), pa.array(["insert"])],
        schema=pa.schema(fields)),
        os.path.join(p, "_change_data", "c1.parquet"))
    _pq_with_ids(os.path.join(p, "f1.parquet"),
                 [("newname", 1, pa.array([3], type=pa.int64()))])
    with open(os.path.join(p, "_delta_log",
                           f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 1000}})
                 + "\n")
        fh.write(json.dumps({"add": {
            "path": "f1.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
        fh.write(json.dumps({"cdc": {
            "path": "_change_data/c1.parquet", "partitionValues": {},
            "size": 1, "dataChange": False}}) + "\n")

    from python_minerva_etl_spark.storage.delta import DeltaTable
    feed = DeltaTable(p).changes(spark, 1, 1)
    rows = [(r.id, r._change_type) for r in feed.collect()]
    assert rows == [(3, "insert")]


# ------------------------------------------- nested id-mode (r8)


def _pq_nested_ids(path, names):
    """Foreign nested id-mode parquet: struct + array-of-struct with
    PARQUET:field_id at EVERY level (UNIQUE per field, as Delta's
    maxColumnId allocation guarantees), physical spellings from
    ``names`` = (top_id, top_s, sx, sy, top_arr)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ni, ns, nx, ny, na = names

    def inner(xid, yid):
        return pa.struct([
            pa.field(nx, pa.int64(),
                     metadata={b"PARQUET:field_id": str(xid).encode()}),
            pa.field(ny, pa.string(),
                     metadata={b"PARQUET:field_id": str(yid).encode()})])

    s_t, e_t = inner(3, 4), inner(6, 7)
    fields = [
        pa.field(ni, pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field(ns, s_t, metadata={b"PARQUET:field_id": b"2"}),
        pa.field(na, pa.list_(e_t),
                 metadata={b"PARQUET:field_id": b"5"})]
    tbl = pa.Table.from_arrays(
        [pa.array([1, 2], type=pa.int64()),
         pa.array([{nx: 10, ny: "a"}, None], type=s_t),
         pa.array([[{nx: 20, ny: "z"}], []], type=pa.list_(e_t))],
        schema=pa.schema(fields))
    pq.write_table(tbl, path)


def _nested_schema_fields():
    def struct_t(xid, yid):
        return {"type": "struct", "fields": [
            _fld("x", "long", "col-x", xid),
            _fld("y", "string", "col-y", yid)]}

    return [
        _fld("id", "long", "col-i", 1),
        _fld("s", struct_t(3, 4), "col-s", 2),
        _fld("arr", {"type": "array", "elementType": struct_t(6, 7),
                     "containsNull": True}, "col-r", 5)]


def _walk_ids(field, out, prefix=""):
    import pyarrow as pa
    out[prefix + field.name] = (field.metadata or {}).get(
        b"PARQUET:field_id")
    t = field.type
    if pa.types.is_struct(t):
        for i in range(t.num_fields):
            _walk_ids(t.field(i), out, prefix + field.name + ".")
    elif pa.types.is_list(t):
        _walk_ids(t.value_field, out, prefix + field.name + ".")


def test_id_mode_nested_write_read_dml_cdf_roundtrip(spark,
                                                     tmp_path):
    """Round 8: NESTED id-mode columns — a foreign fixture whose
    nested physical spellings differ from the schema's physicalName
    (the post-rename epoch), appended to, updated, deleted from, and
    change-fed, with every staged file carrying PARQUET:field_id at
    every nesting level."""
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(p)
    _pq_nested_ids(os.path.join(p, "f0.parquet"),
                   ("old-i", "old-s", "old-x", "old-y", "old-r"))
    _log(p, _nested_schema_fields(), [_add("f0.parquet")], mode="id")
    dt = DeltaTable(p)

    got = read_delta(spark, p)
    rows = {r.id: r for r in got.collect()}
    assert rows[1]["s"]["x"] == 10 and rows[1]["s"]["y"] == "a"
    assert rows[1]["arr"][0]["x"] == 20
    assert rows[2]["s"] is None and rows[2]["arr"] == []

    # append with LOGICAL nested rows: staged file must carry ids at
    # every level so any id-resolving reader matches it
    dt.write(spark, spark.createDataFrame(
        [(3, (30, "c"), [(31, "d")])],
        "id long, s struct<x:long,y:string>, "
        "arr array<struct<x:long,y:string>>").coalesce(1))
    new = [f for f in dt._replay()["files"]
           if f["path"] != "f0.parquet"][0]
    sa = pq.ParquetFile(os.path.join(p, new["path"])).schema_arrow
    ids: dict = {}
    for i in range(len(sa.names)):
        _walk_ids(sa.field(i), ids)
    assert ids["col-i"] == b"1" and ids["col-s"] == b"2"
    assert ids["col-s.col-x"] == b"3" and ids["col-s.col-y"] == b"4"
    assert ids["col-r"] == b"5"
    assert ids["col-r.element.col-x"] == b"6"
    got = {r.id: r for r in dt.read(spark).collect()}
    assert got[3]["s"]["x"] == 30 and got[3]["arr"][0]["y"] == "d"
    # nested predicate against the PRE-RENAME file: schema pruning
    # must not drop the field-id metadata (name fallback would
    # silently null-fill and match nothing)
    assert dt.read(spark).filter("s.x = 10").count() == 1

    # DML with a NESTED predicate through the same staging
    dt.set_properties({"delta.enableChangeDataFeed": "true"})
    v_before = dt.versions()[-1]
    dt.update(spark, {"id": "id + 100"}, "s.x = 10")
    dt.delete(spark, "id = 2")
    got = sorted(r.id for r in dt.read(spark).collect())
    assert got == [3, 101]
    feed = dt.changes(spark, v_before + 1, dt.versions()[-1])
    kinds = sorted((r.id, r._change_type) for r in feed.collect())
    assert (101, "update_postimage") in kinds
    assert (1, "update_preimage") in kinds
    assert (2, "delete") in kinds
    # cdf pre-image keeps nested values
    pre = [r for r in feed.collect()
           if r._change_type == "update_preimage"][0]
    assert pre["s"]["x"] == 10 and pre["arr"][0]["y"] == "z"


def test_id_mode_nested_read_leaves_session_confs_alone(spark,
                                                        tmp_path):
    """Round 9 (r8 advice): a nested id-mode read must NOT pin
    ``nestedSchemaPruning`` off session-wide — per-file footer
    localization resolves ids itself, so the nested filter stays
    correct even with pruning EXPLICITLY enabled, and unrelated
    queries keep nested pruning afterwards."""
    from python_minerva_etl_spark.storage.delta import DeltaTable

    conf = "spark.sql.optimizer.nestedSchemaPruning.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        p = str(tmp_path / "t")
        os.makedirs(p)
        _pq_nested_ids(os.path.join(p, "f0.parquet"),
                       ("old-i", "old-s", "old-x", "old-y", "old-r"))
        _log(p, _nested_schema_fields(), [_add("f0.parquet")],
             mode="id")
        dt = DeltaTable(p)
        df = dt.read(spark)
        # the r8 wrong-results shape: nested predicate against a
        # PRE-RENAME file, with nested schema pruning ACTIVE
        assert spark.conf.get(conf) == "true"
        assert df.filter("s.x = 10").count() == 1
        assert df.filter("exists(arr, e -> e.x = 20)").count() == 1
        assert spark.conf.get(conf) == "true"
        # a second spelling era: append through the engine, filter
        # must see rows from BOTH eras in one plan
        dt.write(spark, spark.createDataFrame(
            [(3, (10, "c"), [(31, "d")])],
            "id long, s struct<x:long,y:string>, "
            "arr array<struct<x:long,y:string>>").coalesce(1))
        assert sorted(
            r.id for r in
            dt.read(spark).filter("s.x = 10").collect()) == [1, 3]
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, before)


def test_name_mode_nested_write_stages_physical_names(spark,
                                                      tmp_path):
    """Round 8: NAME-mode nested writes must stage nested children
    under their PHYSICAL names (a foreign physical-name reader
    resolves them); previously only top-level columns were renamed."""
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable

    p = str(tmp_path / "t")
    os.makedirs(p)
    import pyarrow as pa
    inner = pa.struct([("col-x", pa.int64()), ("col-y", pa.string())])
    pq.write_table(pa.table({
        "col-i": pa.array([1], type=pa.int64()),
        "col-s": pa.array([{"col-x": 10, "col-y": "a"}], type=inner),
        "col-r": pa.array([[{"col-x": 20, "col-y": "z"}]],
                          type=pa.list_(inner))}),
        os.path.join(p, "f0.parquet"))
    _log(p, _nested_schema_fields(), [_add("f0.parquet")],
         mode="name")
    dt = DeltaTable(p)
    dt.write(spark, spark.createDataFrame(
        [(2, (30, "c"), [(31, "d")])],
        "id long, s struct<x:long,y:string>, "
        "arr array<struct<x:long,y:string>>").coalesce(1))
    new = [f for f in dt._replay()["files"]
           if f["path"] != "f0.parquet"][0]
    sa = pq.ParquetFile(os.path.join(p, new["path"])).schema_arrow
    s_field = sa.field(sa.names.index("col-s"))
    assert [s_field.type.field(i).name
            for i in range(s_field.type.num_fields)] == \
        ["col-x", "col-y"]
    arr_field = sa.field(sa.names.index("col-r"))
    assert [arr_field.type.value_type.field(i).name
            for i in range(2)] == ["col-x", "col-y"]
    got = {r.id: r for r in dt.read(spark).collect()}
    assert got[1]["s"]["x"] == 10 and got[2]["s"]["y"] == "c"
    assert got[2]["arr"][0]["x"] == 31


def test_deep_nesting_roundtrip_both_modes(spark, tmp_path):
    """Torture the nested rebuild recursion in BOTH directions:
    struct-inside-array-inside-struct plus a map of structs, nulls
    at every level, written through the engine's staging and read
    back through read_delta AND the registered source, name and id
    modes."""
    from python_minerva_etl_spark.storage.delta import DeltaTable
    from python_minerva_etl_spark.streaming.delta_source import (
        register_delta_source)

    register_delta_source(spark)
    inner = {"type": "struct", "fields": [
        _fld("a", "long", "col-a", 10),
        _fld("b", "string", "col-b", 11)]}
    mid = {"type": "struct", "fields": [
        _fld("xs", {"type": "array", "elementType": inner,
                    "containsNull": True}, "col-xs", 7),
        _fld("m", {"type": "map", "keyType": "string",
                   "valueType": {"type": "struct", "fields": [
                       _fld("a", "long", "col-a2", 12),
                       _fld("b", "string", "col-b2", 13)]},
                   "valueContainsNull": True}, "col-m", 8)]}
    fields = [_fld("id", "long", "col-i", 1),
              _fld("s", mid, "col-s", 2)]
    ddl = ("id long, s struct<xs: array<struct<a:long,b:string>>, "
           "m: map<string, struct<a:long,b:string>>>")
    rows = [
        (1, ([( 5, "x"), None, (6, None)],
             {"k1": (7, "y"), "k2": None})),
        (2, None),
        (3, ([], {})),
        (4, (None, {"z": (None, "w")})),
    ]
    for mode in ("name", "id"):
        p = str(tmp_path / f"t_{mode}")
        os.makedirs(p)
        _log(p, fields, [], mode=mode)
        dt = DeltaTable(p)
        dt.write(spark, spark.createDataFrame(rows, ddl).coalesce(1))
        eng = {r.id: r for r in dt.read(spark).collect()}
        assert eng[1]["s"]["xs"][0]["a"] == 5
        assert eng[1]["s"]["xs"][1] is None
        assert eng[1]["s"]["xs"][2]["b"] is None
        assert eng[1]["s"]["m"]["k1"]["b"] == "y"
        assert eng[1]["s"]["m"]["k2"] is None
        assert eng[2]["s"] is None
        assert eng[3]["s"]["xs"] == [] and eng[3]["s"]["m"] == {}
        assert eng[4]["s"]["xs"] is None
        assert eng[4]["s"]["m"]["z"]["a"] is None
        # written file speaks PHYSICAL names at depth
        import pyarrow.parquet as pq
        f = dt._replay()["files"][0]
        sa = pq.ParquetFile(os.path.join(p, f["path"])).schema_arrow
        top = sa.field(sa.names.index("col-s"))
        assert {top.type.field(i).name
                for i in range(top.type.num_fields)} == \
            {"col-xs", "col-m"}
        # registered source parity
        got = {r.id: r for r in spark.read.format("minerva_delta")
               .load(p).collect()}
        assert sorted(map(str, got.values())) == \
            sorted(map(str, eng.values())), mode


@pytest.mark.parametrize("mode", ["name", "id"])
def test_mapped_filters_prune_on_physical_keys(spark, tmp_path, mode):
    """A filter on a column-mapped partitioned table prunes on the
    PHYSICAL partitionValues and stats keys, through read_delta's
    ``where`` and the registered source's pushed filters alike, and
    returns exactly the unpruned read's matching rows — proven by
    corrupting the file the filter excludes (a pruned file is never
    opened)."""
    import shutil

    import pyarrow as pa

    from python_minerva_etl_spark.streaming.delta_source import (
        register_delta_source)

    register_delta_source(spark)
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "part"))
    adds = []
    for name, ids, region in (("f0", [1, 2], "emea"),
                              ("f1", [3], "apac")):
        _pq_with_ids(os.path.join(p, "part", f"{name}.parquet"),
                     [("col-i", 1, pa.array(ids, type=pa.int64()))])
        add = _add(f"part/{name}.parquet", {"col-r": region})
        add["add"]["stats"] = json.dumps({
            "numRecords": len(ids), "minValues": {"col-i": min(ids)},
            "maxValues": {"col-i": max(ids)},
            "nullCount": {"col-i": 0}})
        adds.append(add)
    _log(p, [_fld("id", "long", "col-i", 1),
             _fld("region", "string", "col-r", 2)],
         adds, partition_cols=["region"], mode=mode)
    full = _rows(read_delta(spark, p))
    assert full == [(1, "emea"), (2, "emea"), (3, "apac")]
    for where, sql, want, excluded in (
            ([("region", "=", "emea")], "region = 'emea'",
             [(1, "emea"), (2, "emea")], "f1"),
            ([("id", ">=", 3)], "id >= 3", [(3, "apac")], "f0")):
        victim = os.path.join(p, "part", f"{excluded}.parquet")
        shutil.copy(victim, victim + ".bak")
        with open(victim, "wb") as fh:
            fh.write(b"not parquet at all")
        assert _rows(read_delta(spark, p, where=where)) == want, sql
        got = spark.read.format("minerva_delta").load(p).filter(sql)
        assert _rows(got) == want, sql
        os.replace(victim + ".bak", victim)


def test_unknown_mapping_mode_refuses_on_every_path(spark, tmp_path):
    """One reader of ``delta.columnMapping.mode`` serves the snapshot
    read, the change feed, the registered source and the writers, so
    an unknown mode refuses on all of them; the change feed used to
    read it as mode 'name'."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.delta import DeltaTable
    from python_minerva_etl_spark.streaming.delta_source import (
        register_delta_source)

    register_delta_source(spark)
    p = str(tmp_path / "t")
    os.makedirs(p)
    pq.write_table(pa.table({"col-a": pa.array([1], pa.int64())}),
                   os.path.join(p, "f0.parquet"))
    _log(p, [_fld("id", "long", "col-a", 1)], [_add("f0.parquet")],
         mode="future")
    dt = DeltaTable(p)
    for attempt in (
            lambda: read_delta(spark, p),
            lambda: dt.changes(spark, 0).collect(),
            lambda: spark.read.format("minerva_delta").load(p).collect(),
            lambda: (spark.read.format("minerva_delta")
                     .option("readChangeFeed", "true")
                     .option("startingVersion", 0).load(p).collect()),
            lambda: dt.write(spark, spark.range(1).toDF("id"))):
        with pytest.raises(Exception, match="'future' unknown"):
            attempt()
