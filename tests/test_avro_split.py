"""Byte-range (sync-marker) splitting of the Avro source: every
block must be decoded by EXACTLY ONE split under the preceding-sync
ownership rule, for any split size, any codec, and both decode paths
— and the planned parallelism must actually shatter large files."""

from __future__ import annotations

import json
import os
import random

from python_minerva_etl_spark.sources.avro import (plan_splits,
                                                   read_avro,
                                                   write_avro)
from python_minerva_etl_spark.storage.avro_file import (_find_sync,
                                                        _read_header)
from tests.test_avro_vector import _ALL_VARINT, _multi_block
from tests.test_iceberg import _avro_file


def _mixed_rows(n, seed=11):
    rng = random.Random(seed)
    return [(i, rng.choice([None, "x" * rng.randint(0, 40)]),
             rng.random(), rng.random() < 0.5)
            for i in range(n)]


def _write_mixed(spark, path, n=4000, block_bytes=1 << 12, **kw):
    df = spark.createDataFrame(
        _mixed_rows(n), "id long, s string, x double, f boolean")
    write_avro(df.coalesce(1), path, block_bytes=block_bytes, **kw)


def _collect_ids(spark, path, split_bytes):
    df = read_avro(spark, path, split_bytes=split_bytes)
    return sorted(r["id"] for r in df.collect())


def test_split_parity_sweep(spark, tmp_path):
    """Same multiset of rows at every split size — no block lost,
    none decoded twice, across split boundaries landing mid-header,
    mid-block, and on sync markers."""
    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=4000, block_bytes=1 << 12)
    want = list(range(4000))
    sz = os.path.getsize(os.path.join(
        d, os.listdir(d)[0]))
    for split in (1 << 10, 1 << 12, 7777, sz // 3, 10 * sz):
        assert _collect_ids(spark, d, split) == want, split


import pytest


@pytest.mark.parametrize("codec", ["deflate", "snappy", "zstandard",
                                   "bzip2", "xz"])
def test_split_parity_codecs(spark, tmp_path, codec):
    """Write+read parity under splitting for every compressed codec
    of the Avro 1.11 spec — the complete set (r8 verdict #6 asked
    for zstandard; bzip2/xz ride the stdlib; snappy carries the
    spec's big-endian CRC32 suffix)."""
    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=3000, block_bytes=1 << 12, codec=codec)
    assert _collect_ids(spark, d, 1 << 11) == list(range(3000))


def test_zstd_frame_content_size():
    """The RFC 8878 frame-header parse that lets pyarrow decompress
    without the zstandard package: exact content size for sizes
    exercising every FCS field width, None for a frame with the
    size omitted and for non-zstd bytes."""
    import pyarrow as pa

    from python_minerva_etl_spark.storage.avro_file import \
        _zstd_frame_size

    for size in (0, 1, 255, 256, 300, 65_791, 65_792, 1 << 20):
        blob = bytes(i & 0xFF for i in range(size))
        comp = pa.Codec("zstd").compress(blob)
        comp = comp.to_pybytes() if hasattr(comp, "to_pybytes") \
            else bytes(comp)
        assert _zstd_frame_size(comp) == size, size
    assert _zstd_frame_size(b"not a zstd frame") is None
    # FCS flag 0 without single-segment: size genuinely unknown
    headerless = bytes([0x28, 0xB5, 0x2F, 0xFD, 0x00, 0x00, 0x00])
    assert _zstd_frame_size(headerless) is None


def test_split_parity_all_varint_path(spark, tmp_path):
    """The numpy all-varint fast path under splitting (hand-built
    multi-block file, blocks of 3 records)."""
    rng = random.Random(3)
    recs = [{"id": i, "small": rng.randint(-9, 9), "flag": True,
             "kind": "B", "d": 1, "ts": 2, "tms": 3}
            for i in range(200)]
    d = tmp_path / "av"
    os.makedirs(d)
    payload = _multi_block(_ALL_VARINT, recs, per_block=3)
    (d / "p.avro").write_bytes(payload)
    for split in (64, 500, len(payload)):
        got = sorted(r["id"] for r in read_avro(
            spark, str(d), split_bytes=split).collect())
        assert got == list(range(200)), split


def test_split_planning_and_parallelism(spark, tmp_path):
    """plan_splits shatters a large file into ranges; the read's
    input partitioning matches (one task per split)."""
    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=4000, block_bytes=1 << 12)
    f = os.path.join(d, os.listdir(d)[0])
    sz = os.path.getsize(f)
    splits = plan_splits([f], 1 << 12)
    assert len(splits) == -(-sz // (1 << 12))
    assert splits[0][1] == 0 and splits[-1][2] == sz
    # contiguity: ranges tile the file exactly
    for (_, _, e0), (_, s1, _) in zip(splits, splits[1:]):
        assert e0 == s1
    df = read_avro(spark, d, split_bytes=1 << 12)
    assert df.rdd.getNumPartitions() == len(splits)


def test_split_table_runs_no_python_rdd(spark, tmp_path):
    """The (path, start, end) split table is a driver-side local scan,
    not a Python RDD (whose tasks each pay a Python worker's start-up),
    and the read still runs one task per split."""
    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=4000, block_bytes=1 << 12)
    splits = plan_splits([os.path.join(d, f) for f in os.listdir(d)
                          if f.endswith(".avro")], 1 << 12)
    df = read_avro(spark, d, split_bytes=1 << 12)
    assert df.count() == 4000
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert df.rdd.getNumPartitions() == len(splits)


def test_header_only_file_any_split(spark, tmp_path):
    d = tmp_path / "av"
    os.makedirs(d)
    (d / "empty.avro").write_bytes(_avro_file(_ALL_VARINT, []))
    for split in (16, 1 << 20):
        assert read_avro(spark, str(d),
                         split_bytes=split).count() == 0


def test_find_sync_straddles_chunk_boundary(tmp_path):
    """A sync marker straddling the 1 MiB scan-chunk boundary must
    still be found (15-byte overlap)."""
    sync = bytes(range(16))
    p = tmp_path / "buf.bin"
    pos = (1 << 20) - 7  # 7 bytes before the boundary
    blob = bytearray(os.urandom(pos)) + sync + os.urandom(64)
    # ensure no accidental earlier match
    assert bytes(blob).find(sync) == pos
    p.write_bytes(bytes(blob))
    with open(p, "rb") as fh:
        assert _find_sync(fh, sync, 0, len(blob)) == pos
        assert _find_sync(fh, sync, pos, len(blob)) == pos
        assert _find_sync(fh, sync, pos + 1, len(blob)) is None
        assert _find_sync(fh, sync, 0, pos) is None  # limit honored


def test_header_probe_widens_for_big_schemas(tmp_path):
    """_read_header must parse headers longer than its first 64 KiB
    probe (fat writer schemas are real: hundreds of doc'd fields)."""
    fields = [{"name": f"c{i}", "type": "long",
               "doc": "x" * 400} for i in range(300)]
    schema = {"type": "record", "name": "wide", "fields": fields}
    payload = _avro_file(schema, [])
    assert len(payload) > (1 << 16)
    p = tmp_path / "wide.avro"
    p.write_bytes(payload)
    with open(p, "rb") as fh:
        meta, sync, header_end = _read_header(fh)
    assert json.loads(meta["avro.schema"])["name"] == "wide"
    # _avro_file appends one empty block: count 0 + size 0 + sync
    assert header_end == len(payload) - 18 and len(sync) == 16


def test_schema_drift_refused_per_split(spark, tmp_path):
    """The drift check must run in every split task, not just once
    per file."""
    import pytest
    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=500, block_bytes=1 << 10)
    other = {"type": "record", "name": "r2", "fields": [
        {"name": "z", "type": "long"}]}
    with open(os.path.join(d, "zz-drift.avro"), "wb") as fh:
        fh.write(_avro_file(other, [{"z": 1}]))
    with pytest.raises(Exception, match="mixed-schema|differs"):
        read_avro(spark, d, split_bytes=1 << 10).collect()


def test_column_pruning_parity_all_paths(spark, tmp_path):
    """read_avro(columns=…) must return exactly the full read's
    projection — through the all-varint fast path, the general
    (string-bearing) path, and the sequential fallback — with the
    schema subset in writer order."""
    import pytest

    d = str(tmp_path / "av")
    _write_mixed(spark, d, n=2000, block_bytes=1 << 12)
    full = read_avro(spark, d)
    for cols in (["id", "x"], ["s"], ["f", "id"]):
        got = read_avro(spark, d, split_bytes=1 << 12, columns=cols)
        want_order = [c for c in ("id", "s", "x", "f") if c in cols]
        assert got.columns == want_order
        assert sorted(map(repr, got.collect())) == \
            sorted(map(repr, full.select(*want_order).collect()))
    with pytest.raises(ValueError, match="unknown columns"):
        read_avro(spark, d, columns=["nope"])

    # all-varint path
    from tests.test_avro_vector import _ALL_VARINT, _multi_block
    import os as _os
    recs = [{"id": i, "small": i % 7, "flag": i % 2 == 0,
             "kind": "B", "d": 1, "ts": 2, "tms": 3}
            for i in range(100)]
    d2 = tmp_path / "av2"
    _os.makedirs(d2)
    (d2 / "p.avro").write_bytes(_multi_block(_ALL_VARINT, recs, 5))
    full = read_avro(spark, str(d2))
    got = read_avro(spark, str(d2), columns=["small", "id"])
    assert got.columns == ["id", "small"]
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, full.select("id", "small").collect()))
