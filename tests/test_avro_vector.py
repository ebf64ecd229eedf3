"""Vectorized Avro block decode: the one block decoder must be
byte-exact with the sequential decoder on both plan shapes (the
numpy-scanned all-varint shape and the Python-scanned general
shape), and must never claim files it cannot decode exactly."""

from __future__ import annotations

import datetime
import json
import os
import random

from python_minerva_etl_spark.sources.avro import (_all_varint,
                                                   _vector_plan_general,
                                                   read_avro)
from tests.test_iceberg import _avro_file, _enc, _zz


def _multi_block(schema, records, per_block=3):
    sync = bytes(range(16))
    out = bytearray(b"Obj\x01")
    out += _enc({"avro.schema": json.dumps(schema).encode(),
                 "avro.codec": b"null"},
                {"type": "map", "values": "bytes"})
    out += sync
    for i in range(0, len(records), per_block):
        chunk = records[i:i + per_block]
        body = b"".join(_enc(r, schema) for r in chunk)
        out += _zz(len(chunk)) + _zz(len(body)) + body + sync
    return bytes(out)


_ALL_VARINT = {"type": "record", "name": "r", "fields": [
    {"name": "id", "type": "long"},
    {"name": "small", "type": "int"},
    {"name": "flag", "type": "boolean"},
    {"name": "kind", "type": {"type": "enum", "name": "K",
                              "symbols": ["A", "B", "C"]}},
    {"name": "d", "type": {"type": "int", "logicalType": "date"}},
    {"name": "ts", "type": {"type": "long",
                            "logicalType": "timestamp-micros"}},
    {"name": "tms", "type": {"type": "long",
                             "logicalType": "timestamp-millis"}},
]}


def test_vector_plan_eligibility():
    assert _all_varint(_vector_plan_general(_ALL_VARINT))
    # strings, floats, nullable unions: the general (Python-scanned)
    # shape; nesting: no plan, sequential decode
    for other in ("string", "double", "bytes", ["null", "long"]):
        s = {"type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"}, {"name": "x", "type": other}]}
        assert not _all_varint(_vector_plan_general(s))
    s = {"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"},
        {"name": "x", "type": {"type": "array", "items": "long"}}]}
    assert _vector_plan_general(s) is None


def test_vector_path_matches_sequential_exactly(spark, tmp_path):
    rng = random.Random(7)
    recs = []
    for i in range(500):
        recs.append({
            # bias toward multi-byte + negative varints
            "id": rng.choice([0, -1, 1, 63, -64, 64, 2**31,
                              -2**31, 2**62, -2**62,
                              rng.randint(-2**63, 2**63 - 1)]),
            "small": rng.randint(-2**31, 2**31 - 1),
            "flag": rng.random() < 0.5,
            "kind": rng.choice(["A", "B", "C"]),
            "d": rng.randint(-10000, 30000),
            "ts": rng.randint(0, 2**48),
            "tms": rng.randint(0, 2**44),
        })
    d = tmp_path / "av"
    os.makedirs(d)
    (d / "p0.avro").write_bytes(_multi_block(_ALL_VARINT, recs[:300]))
    (d / "p1.avro").write_bytes(
        _avro_file(_ALL_VARINT, recs[300:], codec="deflate"))

    epoch_d = datetime.date(1970, 1, 1)
    epoch_t = datetime.datetime(1970, 1, 1)
    got = sorted(
        (r["id"], r["small"], r["flag"], r["kind"], r["d"], r["ts"],
         r["tms"])
        for r in read_avro(spark, str(d)).collect())
    want = sorted(
        (w["id"], w["small"], w["flag"], w["kind"],
         epoch_d + datetime.timedelta(days=w["d"]),
         epoch_t + datetime.timedelta(microseconds=w["ts"]),
         epoch_t + datetime.timedelta(milliseconds=w["tms"]))
        for w in recs)
    assert got == want


def test_vector_path_empty_and_single_row(spark, tmp_path):
    d = tmp_path / "av"
    os.makedirs(d)
    (d / "empty.avro").write_bytes(_avro_file(_ALL_VARINT, []))
    assert read_avro(spark, str(d)).count() == 0
    one = [{"id": -(2**63), "small": -1, "flag": True, "kind": "C",
            "d": 0, "ts": 1, "tms": 2}]
    (d / "one.avro").write_bytes(_avro_file(_ALL_VARINT, one))
    rows = read_avro(spark, str(d)).collect()
    assert len(rows) == 1 and rows[0]["id"] == -(2**63)


def test_write_avro_roundtrip_and_refusals(spark, tmp_path):
    """Executor-side Avro sink: lossless roundtrip incl. nulls, and
    loud refusals for unsupported types / nulls under
    force_required."""
    import pytest
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.sources.avro import (read_avro,
                                                       write_avro)

    df = spark.createDataFrame(
        [(1, 2.5, True, "a", None), (2, None, False, None, b"\x01")],
        "id long, x double, f boolean, s string, b binary")
    d = str(tmp_path / "out")
    files = write_avro(df.repartition(2), d)
    assert files and all(p.endswith(".avro") for p in files)
    got = sorted((r["id"], r["x"], r["f"], r["s"], bytes(r["b"])
                  if r["b"] is not None else None)
                 for r in read_avro(spark, d).collect())
    assert got == [(1, 2.5, True, "a", None),
                   (2, None, False, None, b"\x01")]

    # unsupported type refused at schema time
    with pytest.raises(NotImplementedError, match="unix_micros"):
        write_avro(spark.createDataFrame(
            [([1],)], "a array<long>"), str(tmp_path / "bad"))

    # force_required: null in a required column raises executor-side
    with pytest.raises(Exception, match="required column"):
        write_avro(spark.createDataFrame(
            [(1, None)], "id long, s string"),
            str(tmp_path / "bad2"), force_required=True)


def test_write_avro_force_required_hits_vector_path(spark, tmp_path):
    """force_required writes plain long schemas, which the vectorized
    reader scans with numpy (the all-varint plan shape) — and values
    round-trip."""
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.sources.avro import read_avro, write_avro
    from python_minerva_etl_spark.storage.avro_file import avro_read

    df = spark.range(100).select(
        "id", (F.col("id") * 7 - 350).alias("v"))
    d = str(tmp_path / "out")
    (f0, *_) = write_avro(df, d, force_required=True)
    import json
    meta, _recs = avro_read(open(f0, "rb").read())
    schema = json.loads(meta["avro.schema"].decode())
    assert _all_varint(_vector_plan_general(schema))
    got = sorted((r["id"], r["v"])
                 for r in read_avro(spark, d).collect())
    assert got == [(i, i * 7 - 350) for i in range(100)]


def test_write_avro_deflate_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.sources.avro import (read_avro,
                                                       write_avro)
    df = spark.range(500).select("id", (F.col("id") * 3).alias("v"))
    d = str(tmp_path / "out")
    write_avro(df, d, force_required=True, codec="deflate")
    got = sorted((r["id"], r["v"])
                 for r in read_avro(spark, d).collect())
    assert got == [(i, i * 3) for i in range(500)]
    import pytest
    with pytest.raises(ValueError, match="codec"):
        write_avro(df, str(tmp_path / "bad"), codec="zstd")


# ---------------------------------------- general (string-bearing) path

_MIXED = {"type": "record", "name": "m", "fields": [
    {"name": "id", "type": "long"},
    {"name": "text", "type": ["null", "string"]},
    {"name": "raw", "type": ["null", "bytes"]},
    {"name": "score", "type": "double"},
    {"name": "ratio", "type": ["null", "float"]},
    {"name": "n", "type": ["null", "int"]},
    {"name": "flag", "type": "boolean"},
    {"name": "kind", "type": {"type": "enum", "name": "K2",
                              "symbols": ["X", "Y"]}},
    {"name": "d", "type": {"type": "int", "logicalType": "date"}},
    {"name": "ts", "type": ["null", {"type": "long",
                            "logicalType": "timestamp-micros"}]},
]}


def _mixed_records(n, seed=11):
    rng = random.Random(seed)
    recs = []
    for i in range(n):
        recs.append({
            "id": rng.randint(-2**62, 2**62),
            "text": None if rng.random() < 0.2 else
                    "".join(rng.choice("ab é中 xyz")
                            for _ in range(rng.randint(0, 300))),
            "raw": None if rng.random() < 0.3 else
                   bytes(rng.randrange(256)
                         for _ in range(rng.randint(0, 40))),
            "score": rng.uniform(-1e9, 1e9),
            "ratio": None if rng.random() < 0.5
                     else rng.uniform(-1e3, 1e3),
            "n": None if rng.random() < 0.4
                 else rng.randint(-2**31, 2**31 - 1),
            "flag": rng.random() < 0.5,
            "kind": rng.choice(["X", "Y"]),
            "d": rng.randint(-3000, 40000),
            "ts": None if rng.random() < 0.1
                  else rng.randint(-2**50, 2**50),
        })
    return recs


def test_general_plan_eligibility():
    assert _vector_plan_general(_MIXED) is not None
    assert not _all_varint(_vector_plan_general(_MIXED))
    # nesting / multi-branch unions / decimal still fall back
    for bad in ({"type": "array", "items": "long"},
                ["null", "long", "string"],
                {"type": "bytes", "logicalType": "decimal",
                 "precision": 9, "scale": 2}):
        s = {"type": "record", "name": "r", "fields": [
            {"name": "x", "type": bad}]}
        assert _vector_plan_general(s) is None


def test_general_path_matches_sequential_exactly(spark, tmp_path):
    """Byte-exact parity: the same multi-block file decoded by the
    general vectorized path and by the sequential decoder, value by
    value (nullable strings/bytes/floats/ints, negative varints,
    NUL bytes and multi-byte UTF-8 inside strings)."""
    recs = _mixed_records(400)
    raw = _multi_block(_MIXED, recs, per_block=37)
    p = os.path.join(str(tmp_path), "m.avro")
    with open(p, "wb") as fh:
        fh.write(raw)

    from python_minerva_etl_spark.sources.avro import \
        _decode_block_general
    df = read_avro(spark, p)
    got = df.toPandas()
    assert len(got) == 400

    # drive the block decoder directly against the raw records
    from python_minerva_etl_spark.storage.avro_file import avro_blocks
    _, blocks = avro_blocks(raw)
    plan = _vector_plan_general(_MIXED)
    off = 0
    for n, body in blocks:
        cols = _decode_block_general(body, n, plan)
        for i in range(n):
            r = recs[off + i]
            assert int(cols[0][i]) == r["id"]
            assert cols[1][i] == r["text"]
            assert cols[2][i] == r["raw"]
            assert float(cols[3][i]) == float(
                __import__("struct").unpack(
                    "<d", __import__("struct").pack(
                        "<d", r["score"]))[0])
            if r["ratio"] is None:
                assert cols[4][i] is None
            if r["n"] is None:
                assert cols[5][i] is None
            else:
                assert int(cols[5][i]) == r["n"]
            assert bool(cols[6][i]) == r["flag"]
            assert cols[7][i] == r["kind"]
        off += n
    assert off == 400


def test_general_path_oversized_block_falls_back(spark, tmp_path,
                                                 monkeypatch):
    """A block over the size cap must re-decode sequentially with the
    same result, not raise."""
    import python_minerva_etl_spark.sources.avro as avro_mod
    recs = _mixed_records(50, seed=3)
    raw = _multi_block(_MIXED, recs, per_block=50)
    p = os.path.join(str(tmp_path), "big.avro")
    with open(p, "wb") as fh:
        fh.write(raw)
    monkeypatch.setattr(avro_mod, "_GEN_MAX_BLOCK", 8)
    got = read_avro(spark, p).toPandas()
    assert len(got) == 50
    assert got["kind"].tolist() == [r["kind"] for r in recs]


def test_write_avro_flushes_multiple_blocks(spark, tmp_path):
    """The sink splits large batches into ~4 MiB blocks so files it
    writes always stay inside the vectorized reader's cap."""
    from python_minerva_etl_spark.sources.avro import write_avro
    from python_minerva_etl_spark.storage.avro_file import avro_blocks
    big = spark.range(6).selectExpr(
        "id", "repeat('x', 3000000) AS text").coalesce(1)
    paths = write_avro(big, str(tmp_path / "blk"))
    assert len(paths) == 1
    with open(paths[0], "rb") as fh:
        _, blocks = avro_blocks(fh.read())
    # flush fires once the body EXCEEDS 4 MiB, so each block holds two
    # 3 MB rows — never the whole 18 MB batch
    assert len(blocks) == 3
    assert all(len(body) <= (4 << 20) + 3000100 for _, body in blocks)
    got = read_avro(spark, paths[0]).toPandas()
    assert len(got) == 6 and set(got["text"].str.len()) == {3000000}


def test_general_path_property_random_values(tmp_path):
    """Hypothesis: arbitrary values through the mixed schema decode
    identically on the vectorized and sequential paths — including
    adversarial strings (varint-terminator-looking bytes, NULs,
    astral-plane UTF-8), float payloads that look like varint ends,
    and every null combination."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from python_minerva_etl_spark.sources.avro import (
        _convert, _decode_block_general)
    from python_minerva_etl_spark.storage.avro_file import avro_blocks

    plan = _vector_plan_general(_MIXED)

    rec = st.fixed_dictionaries({
        "id": st.integers(min_value=-2**63, max_value=2**63 - 1),
        "text": st.none() | st.text(max_size=60),
        "raw": st.none() | st.binary(max_size=30),
        "score": st.floats(allow_nan=False),
        "ratio": st.none() | st.floats(allow_nan=False, width=32),
        "n": st.none() | st.integers(min_value=-2**31,
                                     max_value=2**31 - 1),
        "flag": st.booleans(),
        "kind": st.sampled_from(["X", "Y"]),
        "d": st.integers(min_value=-100000, max_value=100000),
        # within datetime's representable span (years 1..9999): the
        # REFERENCE path (_convert) builds datetime objects
        "ts": st.none() | st.integers(min_value=-62_000_000_000_000_000,
                                      max_value=250_000_000_000_000_000),
    })

    @settings(max_examples=60, deadline=None)
    @given(recs=st.lists(rec, min_size=1, max_size=25))
    def check(recs):
        raw = _multi_block(_MIXED, recs, per_block=7)
        _, blocks = avro_blocks(raw)
        off = 0
        for n, body in blocks:
            cols = _decode_block_general(body, n, plan)
            for i in range(n):
                r = recs[off + i]
                for c, f in enumerate(_MIXED["fields"]):
                    got = cols[c][i]
                    if hasattr(got, "item"):
                        got = got.item()
                    wantv = _convert(r[f["name"]], f["type"])
                    assert got == wantv or (got is None
                                            and wantv is None), \
                        (f["name"], got, wantv)
            off += n

    check()


def test_all_varint_keep_parity():
    """Column-pruned (``keep``) decode of the all-varint shape: each
    kept column equals the sequential decoder's value, for single
    columns, subsets and the full set."""
    from python_minerva_etl_spark.sources.avro import (
        _convert, _decode_block_general)
    from python_minerva_etl_spark.storage.avro_file import (_Cursor,
                                                            _decode,
                                                            avro_blocks)

    rng = random.Random(5)
    recs = [{"id": rng.choice([0, -1, 2**62, -2**63, 2**63 - 1,
                               rng.randint(-2**40, 2**40)]),
             "small": rng.randint(-2**31, 2**31 - 1),
             "flag": rng.random() < 0.5,
             "kind": rng.choice(["A", "B", "C"]),
             "d": rng.randint(-10000, 30000),
             "ts": rng.randint(0, 2**48),
             "tms": rng.randint(0, 2**44)} for _ in range(60)]
    _, blocks = avro_blocks(_multi_block(_ALL_VARINT, recs, per_block=7))
    plan = _vector_plan_general(_ALL_VARINT)
    assert _all_varint(plan)
    fields = _ALL_VARINT["fields"]
    for keep in ([0], [1, 3], [2, 4, 6], [5], list(range(7))):
        off = 0
        for n, body in blocks:
            cur = _Cursor(body)
            ref = [_decode(cur, _ALL_VARINT, {}) for _ in range(n)]
            assert ref == recs[off:off + n]
            cols = _decode_block_general(body, n, plan, keep)
            assert len(cols) == len(keep)
            for col, f in zip(cols, keep):
                name, ftype = fields[f]["name"], fields[f]["type"]
                got = [v.item() if hasattr(v, "item") else v
                       for v in col]
                assert got == [_convert(r[name], ftype) for r in ref], \
                    (keep, name)
            off += n
        assert off == len(recs)


def test_enum_and_union_indexes_range_checked(spark, tmp_path):
    """An enum index outside the symbol list (-1 would wrap to the
    last symbol) raises on both plan shapes — the all-varint one and
    the general one, whose fallback is the sequential decoder — and
    so does a union branch index outside the union."""
    import pytest

    from python_minerva_etl_spark.sources.avro import (plan_read,
                                                       split_frames)
    from python_minerva_etl_spark.storage.avro_file import (
        avro_read, write_container)

    enum = {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}
    for ftype in (enum, ["null", enum]):
        schema = {"type": "record", "name": "r", "fields": [
            {"name": "id", "type": "long"}, {"name": "e", "type": ftype}]}
        branch = _zz(1) if isinstance(ftype, list) else b""
        for bad in (-1, 3):
            body = b"".join(_zz(i) + branch + _zz(idx)
                            for i, idx in ((0, 0), (1, bad), (2, 2)))
            p = tmp_path / f"e{len(branch)}_{bad}.avro"
            p.write_bytes(write_container(schema, [(3, body)]))
            files, ws, _, canon, plan, colnames = plan_read(str(p))
            assert _all_varint(plan) == (ftype is enum)
            with pytest.raises(ValueError,
                               match="enum index out of range"):
                list(split_frames(str(p), 0, os.path.getsize(p), canon,
                                  ws, plan, colnames, 1 << 20))
            with pytest.raises(Exception,
                               match="enum index out of range"):
                read_avro(spark, str(p)).collect()

    schema = {"type": "record", "name": "u", "fields": [
        {"name": "x", "type": ["null", "long"]}]}
    for bad in (-1, 2):
        blob = write_container(schema, [(1, _zz(bad) + _zz(5))])
        with pytest.raises(ValueError, match="union index out of range"):
            avro_read(blob)
