"""Iceberg partition transforms (Table Spec "Partition Transforms"
+ Appendix B bucket hashing): write-path staging/spec/summaries for
day/hour/month/year, bucket[N] (murmur3 seed 0, conformance vectors),
truncate[W]; reader manifest-level pruning in the transformed domain
(proven by deleting the excluded manifest); DML and compaction on
transform-partitioned tables; session-timezone-proof day values."""

from __future__ import annotations

import datetime
import os

import pytest

from python_minerva_etl_spark.storage.avro_file import avro_read
from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)
from python_minerva_etl_spark.storage.iceberg_write import (
    _murmur3_bytes, _murmur3_long, _parse_partition_by,
    compact_iceberg, update_iceberg, write_iceberg)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _part_dirs(p):
    return sorted(e.name for e in os.scandir(os.path.join(p, "data"))
                  if e.is_dir())


def test_murmur3_spec_appendix_b_vectors():
    """The spec's published conformance vectors: ints hash as their
    8-byte long form (hash(34) == hash(34L) == 2017239379), strings
    as UTF-8 (hash('iceberg') == 1210000089)."""
    assert _murmur3_long(34) == 2017239379
    assert _murmur3_bytes(b"iceberg") == 1210000089
    assert _murmur3_long(-34) == _murmur3_bytes(
        (-34).to_bytes(8, "little", signed=True))


def test_days_transform_roundtrip_and_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    rows = [(i, datetime.datetime(2024, 1, 1 + i // 4, 6 * (i % 4)),
             float(i)) for i in range(12)]
    write_iceberg(spark, spark.createDataFrame(
        rows, "id long, ts timestamp, val double"), p,
        partition_by="days(ts)")
    md = IcebergTable(p).metadata()
    sf = md["partition-specs"][0]["fields"][0]
    assert (sf["transform"], sf["name"]) == ("day", "ts_day")
    dirs = _part_dirs(p)
    assert len(dirs) == 3 and all(d.startswith("ts_day=")
                                  for d in dirs)
    assert _rows(read_iceberg(spark, p).select("id")) == [
        (i,) for i in range(12)]
    # second append in a far-away day; prune the first manifest
    write_iceberg(spark, spark.createDataFrame(
        [(100, datetime.datetime(2024, 6, 1), 1.0)],
        "id long, ts timestamp, val double"), p,
        partition_by="days(ts)")
    snap = IcebergTable(p)._snapshot(IcebergTable(p).metadata(), None)
    with open(snap["manifest-list"], "rb") as fh:
        _, manifests = avro_read(fh.read())
    jan = [m for m in manifests if m["added_snapshot_id"] == 1]
    assert len(jan) == 1
    os.remove(jan[0]["manifest_path"])  # excluded => never opened
    got = read_iceberg(spark, p, where=[
        ("ts", ">", datetime.datetime(2024, 5, 1))])
    assert [r.id for r in got.collect()] == [100]
    # the weak transformed-domain bound keeps same-day manifests: a
    # predicate INSIDE the deleted manifest's range now fails loudly
    # (the file is gone), proving it would have been opened
    with pytest.raises(Exception):
        read_iceberg(spark, p, where=[
            ("ts", "=", datetime.datetime(2024, 1, 2, 6))]).collect()


def test_day_values_are_session_timezone_proof(spark, tmp_path):
    """days() is pure unix_micros arithmetic: an 11pm-EST instant
    (4am UTC next day) buckets by its UTC day regardless of the
    session timezone."""
    p = str(tmp_path / "t")
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ts = datetime.datetime(2024, 3, 10, 4, 30,
                               tzinfo=datetime.timezone.utc)
        write_iceberg(spark, spark.createDataFrame(
            [(1, ts.replace(tzinfo=None))],
            "id long, ts timestamp"), p, partition_by="days(ts)")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # the table was written with a session where the wall clock was
    # still March 9 — the partition value must be the UTC day
    epoch_day = (datetime.date(2024, 3, 10)
                 - datetime.date(1970, 1, 1)).days
    assert _part_dirs(p) == [f"ts_day={epoch_day}"]


def test_bucket_transform_matches_reference_hash(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, f"s{i}") for i in range(20)], "id long, v string"), p,
        partition_by="bucket(id, 4)")
    got = {int(d.split("=")[1]) for d in _part_dirs(p)}
    expect = {(_murmur3_long(i) & 0x7FFFFFFF) % 4 for i in range(20)}
    assert got == expect
    assert read_iceberg(spark, p).count() == 20
    # string bucketing hits the scalar path
    p2 = str(tmp_path / "t2")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "iceberg")], "id long, v string"), p2,
        partition_by="bucket(v, 7)")
    b = (_murmur3_bytes(b"iceberg") & 0x7FFFFFFF) % 7
    assert _part_dirs(p2) == [f"v_bucket={b}"]


def test_truncate_month_year_hour_transforms(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, w) for i, w in enumerate(
            ["apple", "apricot", "banana", "berry"])],
        "id long, v string"), p, partition_by="truncate(v, 2)")
    assert [d.split("=")[1] for d in _part_dirs(p)] == \
        ["ap", "ba", "be"]
    got = read_iceberg(spark, p, where=[("v", "=", "banana")])
    assert [r.id for r in got.collect()] == [2]
    # truncate over negative longs floors toward -inf (spec)
    p2 = str(tmp_path / "t2")
    write_iceberg(spark, spark.createDataFrame(
        [(-7,), (-3,), (4,)], "n long"), p2,
        partition_by="truncate(n, 5)")
    assert [d.split("=")[1] for d in _part_dirs(p2)] == \
        ["-10", "-5", "0"]
    # month/year over dates
    p3 = str(tmp_path / "t3")
    write_iceberg(spark, spark.createDataFrame(
        [(1, datetime.date(2024, 3, 5)),
         (2, datetime.date(2025, 1, 2))], "id long, d date"), p3,
        partition_by="month(d)")
    assert [d.split("=")[1] for d in _part_dirs(p3)] == \
        [str((2024 - 1970) * 12 + 2), str((2025 - 1970) * 12 + 0)]
    got = read_iceberg(spark, p3,
                       where=[("d", ">", datetime.date(2024, 12, 1))])
    assert [r.id for r in got.collect()] == [2]
    # hour over timestamps
    p4 = str(tmp_path / "t4")
    write_iceberg(spark, spark.createDataFrame(
        [(1, datetime.datetime(1970, 1, 1, 5, 59)),
         (2, datetime.datetime(1970, 1, 1, 6, 1))],
        "id long, ts timestamp"), p4, partition_by="hours(ts)")
    assert [d.split("=")[1] for d in _part_dirs(p4)] == ["5", "6"]


def test_dml_and_compaction_on_transformed_tables(spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(i, f"s{i}") for i in range(20)], "id long, v string"), p,
        partition_by="bucket(id, 4)")
    n = update_iceberg(spark, p, {"v": "upper(v)"},
                       [("id", "<", 3)])
    assert n == 3
    got = {r.id: r.v for r in read_iceberg(spark, p).collect()}
    assert got[0] == "S0" and got[19] == "s19" and len(got) == 20
    assert compact_iceberg(spark, p) is not None
    got = {r.id: r.v for r in read_iceberg(spark, p).collect()}
    assert got[0] == "S0" and len(got) == 20


def test_parse_and_refusal_surface(spark, tmp_path):
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "id", "required": False, "type": "long"},
        {"id": 2, "name": "ts", "required": False,
         "type": "timestamp"},
        {"id": 3, "name": "d", "required": False, "type": "date"},
        {"id": 4, "name": "f", "required": False, "type": "double"},
    ]}
    assert _parse_partition_by("day(ts)", schema).transform == "day"
    assert _parse_partition_by("days(ts)", schema).name == "ts_day"
    assert _parse_partition_by(
        "bucket(id, 16)", schema).transform == "bucket[16]"
    assert _parse_partition_by(
        "truncate(id, 10)", schema).result_type == "long"
    with pytest.raises(NotImplementedError, match="month"):
        _parse_partition_by("month(ts)", schema)  # tz-dependent
    with pytest.raises(NotImplementedError, match="bucket"):
        _parse_partition_by("bucket(f, 4)", schema)
    with pytest.raises(ValueError, match="unknown partition source"):
        _parse_partition_by("day(nope)", schema)
    with pytest.raises(ValueError, match="cannot parse"):
        _parse_partition_by("zorder(id)", schema)
    # wrong-transform append refusal
    p = str(tmp_path / "t")
    write_iceberg(spark, spark.createDataFrame(
        [(1, "a")], "id long, v string"), p,
        partition_by="bucket(id, 4)")
    with pytest.raises(ValueError, match="does not match"):
        write_iceberg(spark, spark.createDataFrame(
            [(2, "b")], "id long, v string"), p, partition_by="id")


def test_bucket_equality_pruning(spark, tmp_path):
    """bucket[N] manifest summaries prune EQUALITY predicates only
    (bucket(lit) outside the summary's bucket range is a sound
    exclusion; range predicates never prune through a hash) — proven
    by corrupting the excluded manifest's data file."""
    import glob

    p = str(tmp_path / "t")
    # find ids in distinct buckets so the two appends get disjoint
    # bucket summaries
    by_bucket = {}
    for i in range(100):
        by_bucket.setdefault(
            (_murmur3_long(i) & 0x7FFFFFFF) % 8, []).append(i)
    buckets = sorted(by_bucket)
    a_ids = by_bucket[buckets[0]][:3]
    b_ids = by_bucket[buckets[-1]][:3]
    write_iceberg(spark, spark.createDataFrame(
        [(i,) for i in a_ids], "id long").coalesce(1), p,
        partition_by="bucket(id, 8)")
    write_iceberg(spark, spark.createDataFrame(
        [(i,) for i in b_ids], "id long").coalesce(1), p,
        partition_by="bucket(id, 8)")
    # corrupt append A's data file: an equality probe for a B id must
    # never open it (manifest-level bucket pruning)
    for f in glob.glob(os.path.join(p, "data", "*", "*.parquet")):
        if f"id_bucket={buckets[0]}" in f:
            open(f, "wb").write(b"garbage")
    got = read_iceberg(spark, p, where=[("id", "=", b_ids[0])])
    assert [r.id for r in got.collect()] == [b_ids[0]]
    # a RANGE predicate must NOT prune through the hash: it still
    # tries to open the corrupt file and fails loudly (sound: no
    # silent exclusion through a non-order-preserving transform)
    with pytest.raises(Exception):
        read_iceberg(spark, p,
                     where=[("id", ">=", 0)]).collect()
