"""Iceberg v2 append path — minimal, spec-conformant table writes.

Mirrors the Delta writer's conformance discipline
(``storage/delta.py``): data files are staged by a distributed Spark
parquet write and renamed into ``data/``, metadata is committed
CAS-style (``os.link`` put-if-absent on the next ``v<N>.metadata.json``
— two racing writers can never both win a version), and every byte of
Avro written here follows the published specs:

- Avro 1.11 object container files (header map, sync markers,
  zigzag-varint longs) for manifests and manifest lists;
- Iceberg Table Spec v2 (https://iceberg.apache.org/spec/) for the
  manifest entry / manifest-file shapes, single-value binary bound
  serialization (int 4-byte LE, long/double 8-byte LE, string UTF-8),
  snapshot + metadata JSON fields.

Scope (documented in COVERAGE.md): create + append (unpartitioned or
ONE identity-transform partition column of int/long/string, with
manifest partition summaries) and merge-on-read DELETE
(:func:`delete_iceberg` — position-delete files, no data-file
rewrites).  Overwrite and schema evolution are out of scope; spec
mismatches refuse loudly.  Bounds are written for top-level
int/long/float/double/string/date/timestamp columns so our own
reader's scan planning (``iceberg.py:_file_may_match``) can prune
the files this writer produces.

No reference implementation is copied: ``/root/reference`` ships no
code; this module is written against the public specs above.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .iceberg import IcebergTable, _localize, _to_spark_schema
from .stats import (DAY, US, epoch, footer_bounds, zorder_cluster,
                    zorder_proxy_sql)


class IcebergConcurrentCommit(FileExistsError):
    """Another writer committed the same metadata version first."""


# ------------------------------------------------------------ avro writer


def _zigzag(n: int) -> bytes:
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


def _avro_encode(value, schema) -> bytes:
    if isinstance(schema, list):  # union — null first per our schemas
        if value is None:
            return _zigzag(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _zigzag(idx) + _avro_encode(value, schema[idx])
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if value else b"\x00"
        if schema in ("int", "long"):
            return _zigzag(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "bytes":
            return _zigzag(len(value)) + bytes(value)
        if schema == "string":
            b = value.encode("utf-8")
            return _zigzag(len(b)) + b
        raise ValueError(f"avro encode: unsupported type {schema!r}")
    t = schema["type"]
    if t == "record":
        return b"".join(_avro_encode(value.get(f["name"]), f["type"])
                        for f in schema["fields"])
    if t == "array":
        if not value:
            return _zigzag(0)
        return (_zigzag(len(value))
                + b"".join(_avro_encode(v, schema["items"])
                           for v in value)
                + _zigzag(0))
    if t == "map":
        if not value:
            return _zigzag(0)
        body = b"".join(_avro_encode(k, "string")
                        + _avro_encode(v, schema["values"])
                        for k, v in value.items())
        return _zigzag(len(value)) + body + _zigzag(0)
    raise ValueError(f"avro encode: unsupported type {t!r}")


def _avro_file(schema: dict, records: list) -> bytes:
    """Avro 1.11 object container file, null codec, one block."""
    sync = uuid.uuid4().bytes
    out = bytearray(b"Obj\x01")
    out += _avro_encode(
        {"avro.schema": json.dumps(schema).encode(),
         "avro.codec": b"null"},
        {"type": "map", "values": "bytes"})
    out += sync
    body = b"".join(_avro_encode(r, schema) for r in records)
    out += _zigzag(len(records)) + _zigzag(len(body)) + body + sync
    return bytes(out)


# ------------------------------------------------ spark -> iceberg schema

_SPARK_PRIM = {
    T.BooleanType(): "boolean", T.IntegerType(): "int",
    T.LongType(): "long", T.FloatType(): "float",
    T.DoubleType(): "double", T.StringType(): "string",
    T.BinaryType(): "binary", T.DateType(): "date",
    T.TimestampNTZType(): "timestamp",
    T.TimestampType(): "timestamptz",
    T.ShortType(): "int", T.ByteType(): "int",
}


def _to_iceberg_type(dt: T.DataType, next_id) -> object:
    if dt in _SPARK_PRIM:
        return _SPARK_PRIM[dt]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.StructType):
        return {"type": "struct", "fields": [
            {"id": next_id(), "name": f.name,
             "required": not f.nullable,
             "type": _to_iceberg_type(f.dataType, next_id)}
            for f in dt.fields]}
    if isinstance(dt, T.ArrayType):
        return {"type": "list", "element-id": next_id(),
                "element-required": not dt.containsNull,
                "element": _to_iceberg_type(dt.elementType, next_id)}
    if isinstance(dt, T.MapType):
        return {"type": "map", "key-id": next_id(),
                "value-id": next_id(),
                "key": _to_iceberg_type(dt.keyType, next_id),
                "value-required": not dt.valueContainsNull,
                "value": _to_iceberg_type(dt.valueType, next_id)}
    raise NotImplementedError(
        f"iceberg write: unsupported Spark type {dt.simpleString()}")


def _to_iceberg_schema(schema: T.StructType) -> dict:
    counter = {"n": 0}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    fields = []
    for f in schema.fields:
        fid = next_id()
        fields.append({"id": fid, "name": f.name,
                       "required": not f.nullable,
                       "type": _to_iceberg_type(f.dataType, next_id)})
    return {"type": "struct", "schema-id": 0, "fields": fields}


# ------------------------------------------------------- bound encoding

_BOUND_ENCODERS = {
    "int": lambda v: struct.pack("<i", int(v)),
    "long": lambda v: struct.pack("<q", int(v)),
    "float": lambda v: struct.pack("<f", float(v)),
    "double": lambda v: struct.pack("<d", float(v)),
    "string": lambda v: str(v).encode("utf-8"),
    "date": lambda v: struct.pack(
        "<i", v if isinstance(v, int) else epoch(v, DAY)),
    # parquet stats hand back datetimes; Iceberg bounds are micros LE
    "timestamp": lambda v: struct.pack(
        "<q", v if isinstance(v, int) else epoch(v, US)),
    "timestamptz": lambda v: struct.pack(
        "<q", v if isinstance(v, int) else epoch(v, US)),
}


# --------------------------------------------- partition transforms
#
# Iceberg Table Spec "Partition Transforms": identity, day/hour/
# month/year (order-preserving time buckets), truncate[W]
# (order-preserving prefixes), bucket[N] (murmur3_x86_32 seed 0 of
# the single-value binary form, & MAX_INT, % N — Appendix B).  The
# derived partition value is computed JVM-side for every transform
# except bucket, whose murmur3 runs as a vectorized Arrow batch
# (numpy closed form for the fixed 8-byte int/long input; per-value
# python for variable-length strings inside the same pandas_udf).


def _murmur3_bytes(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public domain reference algorithm), the hash
    Iceberg's bucket transform mandates (seed 0).  Returns a SIGNED
    32-bit int, matching the Java reference."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data)
    for i in range(0, n - (n % 4), 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n - (n % 4):]
    for i, b in enumerate(tail):
        k ^= b << (8 * i)
    if tail:
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _murmur3_long(v: int) -> int:
    """Iceberg hashes int AND long as the long's 8-byte
    little-endian form (spec Appendix B: hash(34) == hash(34L))."""
    return _murmur3_bytes(
        int(v).to_bytes(8, "little", signed=True))


def _murmur3_long_vec(x):
    """Vectorized :func:`_murmur3_long` over an int64 numpy array —
    fixed 8-byte little-endian input means exactly two full murmur3
    blocks and no tail, so the whole hash is closed-form numpy.
    Returns the raw uint32 hashes.  Shared by the Spark pandas_udf
    bucket transform and the Arrow-batch writer path."""
    import numpy as np

    le = x.astype("<i8").view(np.uint32).reshape(-1, 2)

    def rotl(v, r):
        return (v << np.uint32(r)) | (v >> np.uint32(32 - r))

    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(len(x), dtype=np.uint32)
    for blk in (le[:, 0].copy(), le[:, 1].copy()):
        k = (blk * c1).astype(np.uint32)
        k = rotl(k, 15)
        k = (k * c2).astype(np.uint32)
        h ^= k
        h = rotl(h, 13)
        h = (h * np.uint32(5)
             + np.uint32(0xE6546B64)).astype(np.uint32)
    h ^= np.uint32(8)
    h ^= h >> np.uint32(16)
    h = (h * np.uint32(0x85EBCA6B)).astype(np.uint32)
    h ^= h >> np.uint32(13)
    h = (h * np.uint32(0xC2B2AE35)).astype(np.uint32)
    h ^= h >> np.uint32(16)
    return h


class _PartField:
    """One partition-spec field: how to derive, serialize, and name
    the partition value this writer stages and commits."""

    def __init__(self, transform: str, source: str, name: str,
                 result_type: str):
        self.transform = transform    # spec spelling, e.g. bucket[4]
        self.source = source          # source column name
        self.name = name              # partition field name
        self.result_type = result_type  # iceberg type of the value

    def expr(self, src_spark_type: T.DataType):
        """Spark Column computing the partition value — session-
        timezone-proof for timestamps (pure unix_micros arithmetic,
        never calendar functions on an instant)."""
        from pyspark.sql import functions as F

        c = f"`{self.source}`"
        is_ts = isinstance(src_spark_type, T.TimestampType)
        t = self.transform
        if t == "identity":
            return F.col(self.source)
        if t == "day":
            if is_ts:
                return F.expr(
                    f"CAST(floor(unix_micros({c}) / 86400000000) "
                    "AS INT)")
            return F.datediff(F.col(self.source),
                              F.lit("1970-01-01").cast("date"))
        if t == "hour":
            return F.expr(
                f"CAST(floor(unix_micros({c}) / 3600000000) AS INT)")
        if t == "month":
            return F.expr(f"(year({c}) - 1970) * 12 + month({c}) - 1")
        if t == "year":
            return F.expr(f"year({c}) - 1970")
        if t.startswith("truncate["):
            w = int(t[len("truncate["):-1])
            if isinstance(src_spark_type, T.StringType):
                return F.expr(f"substring({c}, 1, {w})")
            sql_t = src_spark_type.simpleString()
            return F.expr(
                f"CAST({c} - ((({c} % {w}) + {w}) % {w}) AS {sql_t})")
        if t.startswith("bucket["):
            n = int(t[len("bucket["):-1])
            if isinstance(src_spark_type, T.StringType):
                @F.pandas_udf("int")
                def _bucket_str(s):
                    import pandas as pd
                    return s.map(
                        lambda v: None if v is None else
                        (_murmur3_bytes(v.encode("utf-8"))
                         & 0x7FFFFFFF) % n).astype("Int32")
                return _bucket_str(F.col(self.source))

            @F.pandas_udf("int")
            def _bucket_int(s):
                # fixed 8-byte little-endian input: closed-form
                # vectorized murmur3 (two full blocks, no tail)
                import numpy as np
                import pandas as pd
                mask = s.isna()
                x = s.fillna(0).astype("int64").to_numpy()
                h = _murmur3_long_vec(x)
                out = pd.Series(
                    ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n))
                    .astype("int32"))
                out[mask.to_numpy()] = None
                return out.astype("Int32")
            return _bucket_int(F.col(self.source))
        raise NotImplementedError(
            f"iceberg: partition transform {t!r} unsupported")

    def values_arrow(self, col):
        """Per-row partition values for a pyarrow column — the
        executor-side (Arrow batch) twin of :meth:`expr`, used by the
        registered ``minerva_iceberg`` writer.  Must agree with
        ``expr`` value-for-value (locked by
        ``tests/test_iceberg_source.py``): day/hour are pure
        unix-micros arithmetic (timezone-proof), month/year calendar
        over DATE only, bucket is the same murmur3 kernel."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        t = self.transform
        pat = col.type
        if t == "identity":
            return col.to_pandas()
        if t in ("day", "hour") and pa.types.is_timestamp(pat):
            # normalize the UNIT first (tz preserved — the int64 view
            # of a timestamp is epoch-based regardless of tz, but an
            # ns-unit column would come out 1000x off)
            us = col.cast(pa.timestamp("us", tz=pat.tz)) \
                .cast(pa.int64()).to_numpy(zero_copy_only=False)
            div = 86_400_000_000 if t == "day" else 3_600_000_000
            return pd.Series(np.floor_divide(us, div).astype("int64"))
        if pa.types.is_date(pat):
            days = col.cast(pa.date32()).cast(pa.int32()) \
                .to_numpy(zero_copy_only=False).astype("int64")
            if t == "day":
                return pd.Series(days)
            dt = pd.to_datetime(days, unit="D")
            if t == "month":
                return pd.Series(
                    ((dt.year - 1970) * 12 + dt.month - 1).to_numpy())
            if t == "year":
                return pd.Series((dt.year - 1970).to_numpy())
        if t.startswith("truncate["):
            w = int(t[len("truncate["):-1])
            if pa.types.is_string(pat) or pa.types.is_large_string(pat):
                return col.to_pandas().str.slice(0, w)
            x = col.cast(pa.int64()).to_numpy(zero_copy_only=False)
            return pd.Series(x - (((x % w) + w) % w))
        if t.startswith("bucket["):
            n = int(t[len("bucket["):-1])
            if pa.types.is_string(pat) or pa.types.is_large_string(pat):
                return col.to_pandas().map(
                    lambda v: None if v is None else
                    (_murmur3_bytes(v.encode("utf-8"))
                     & 0x7FFFFFFF) % n)
            x = col.cast(pa.int64()).to_numpy(zero_copy_only=False)
            h = _murmur3_long_vec(x)
            return pd.Series(
                ((h & np.uint32(0x7FFFFFFF)) % np.uint32(n))
                .astype("int64"))
        raise NotImplementedError(
            f"iceberg: partition transform {t!r} unsupported on the "
            f"arrow write path")

    def parse_dir_value(self, raw: str):
        """Typed partition value from its staged Hive dir string."""
        if self.result_type in ("int", "long", "date"):
            return int(raw)
        return raw

    def avro_type(self) -> str:
        return {"int": "int", "long": "long", "string": "string",
                "date": "int"}[self.result_type]

    def bound_encoder(self):
        enc_type = ("int" if self.result_type == "date"
                    else self.result_type)
        return _BOUND_ENCODERS[enc_type]


_TIME_RESULTS = {"day": "date", "hour": "int", "month": "int",
                 "year": "int"}


def _parse_partition_by(spec: str, ice_schema: dict) -> _PartField:
    """``partition_by`` strings → :class:`_PartField`:
    ``"col"`` (identity), ``"day(col)"``/``"days(col)"`` (and hour/
    month/year), ``"truncate(col, W)"``, ``"bucket(col, N)"``."""
    import re

    types = {f["name"]: f["type"] for f in ice_schema["fields"]
             if isinstance(f["type"], str)}

    def src_type(col: str) -> str:
        if col not in {f["name"] for f in ice_schema["fields"]}:
            raise ValueError(
                f"iceberg: unknown partition source column {col!r}")
        if col not in types:
            raise NotImplementedError(
                f"iceberg: partition transform over nested-typed "
                f"column {col!r} unsupported")
        return types[col]

    m = re.match(r"^\s*(\w+)\s*$", spec)
    if m:
        col = m.group(1)
        t = src_type(col)
        if t not in ("int", "long", "string"):
            raise NotImplementedError(
                f"iceberg append: partition column {col!r} "
                f"must be int/long/string, got {t!r}")
        return _PartField("identity", col, col, t)
    m = re.match(r"^\s*(\w+?)s?\s*\(\s*(\w+)\s*\)\s*$", spec)
    if m and m.group(1).rstrip("s") in _TIME_RESULTS:
        kind = m.group(1).rstrip("s")
        col = m.group(2)
        t = src_type(col)
        legal = {"day": ("timestamp", "timestamptz", "date"),
                 "hour": ("timestamp", "timestamptz"),
                 "month": ("date",), "year": ("date",)}[kind]
        if t not in legal:
            raise NotImplementedError(
                f"iceberg: {kind}() over {t!r} unsupported "
                f"(supported source types: {legal}; calendar "
                "functions on timestamp instants depend on the "
                "session timezone, so month/year take date columns)")
        return _PartField(kind, col, f"{col}_{kind}",
                          _TIME_RESULTS[kind])
    m = re.match(r"^\s*(bucket|truncate)\s*\(\s*(\w+)\s*,"
                 r"\s*(\d+)\s*\)\s*$", spec)
    if m:
        kind, col, param = m.group(1), m.group(2), int(m.group(3))
        if param <= 0:
            raise ValueError(f"iceberg: {kind} width/count must be "
                             "positive")
        t = src_type(col)
        if kind == "bucket":
            if t not in ("int", "long", "string"):
                raise NotImplementedError(
                    f"iceberg: bucket() over {t!r} unsupported "
                    "(int/long/string)")
            return _PartField(f"bucket[{param}]", col,
                              f"{col}_bucket", "int")
        if t not in ("int", "long", "string"):
            raise NotImplementedError(
                f"iceberg: truncate() over {t!r} unsupported "
                "(int/long/string)")
        return _PartField(f"truncate[{param}]", col, f"{col}_trunc",
                          t)
    raise ValueError(
        f"iceberg: cannot parse partition_by {spec!r} (want 'col', "
        "'day(col)', 'hour(col)', 'month(col)', 'year(col)', "
        "'bucket(col, N)', or 'truncate(col, W)')")


def _spec_part_field(spec_fields: list[dict],
                     ice_schema: dict) -> _PartField:
    """:class:`_PartField` from an EXISTING table's default spec
    (single-field specs only — the shape this writer produces)."""
    if len(spec_fields) != 1:
        raise NotImplementedError(
            "iceberg: multi-field partition specs unsupported by "
            "this writer")
    f = spec_fields[0]
    by_id = {x["id"]: x["name"] for x in ice_schema["fields"]}
    src = by_id.get(f.get("source-id"))
    if src is None:
        raise ValueError(
            f"iceberg: partition spec references unknown source-id "
            f"{f.get('source-id')}")
    t = f.get("transform", "identity")
    types = {x["name"]: x["type"] for x in ice_schema["fields"]
             if isinstance(x["type"], str)}
    if t == "identity":
        result = types.get(src)
    elif t in _TIME_RESULTS:
        result = _TIME_RESULTS[t]
    elif t.startswith("bucket["):
        result = "int"
    elif t.startswith("truncate["):
        result = types.get(src)
    else:
        raise NotImplementedError(
            f"iceberg: partition transform {t!r} unsupported")
    if result not in ("int", "long", "string", "date"):
        raise NotImplementedError(
            f"iceberg: partition value type {result!r} unsupported")
    return _PartField(t, src, f.get("name") or src, result)


def _file_bounds(parquet_path: str, ice_schema: dict
                 ) -> tuple[list, list]:
    """Per-column lower/upper bounds from the parquet footer
    (:func:`.stats.footer_bounds`), encoded per the Iceberg
    single-value serialization, as [{key: field-id, value: bytes}]
    logical maps.  Unbounded columns (or those of non-encodable
    types) are simply omitted — the reader treats missing bounds
    conservatively."""
    by_name = {f["name"]: f for f in ice_schema["fields"]
               if isinstance(f["type"], str)}
    _, cols = footer_bounds(parquet_path, by_name)
    lower, upper = [], []
    for name, b in cols.items():
        enc = _BOUND_ENCODERS.get(by_name[name]["type"])
        if enc is None or b.lo is None:
            continue
        try:
            lower.append({"key": by_name[name]["id"], "value": enc(b.lo)})
            upper.append({"key": by_name[name]["id"],
                          "value": enc(b.hi)})
        except (struct.error, ValueError, TypeError):
            continue
    return lower, upper


# --------------------------------------------------------- avro schemas

_KV_BYTES = {"type": "array", "items": {
    "type": "record", "name": "k_v", "fields": [
        {"name": "key", "type": "int"},
        {"name": "value", "type": "bytes"}]}}

_MANIFEST_ENTRY_SCHEMA = {
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
                {"name": "lower_bounds",
                 "type": ["null", _KV_BYTES]},
                {"name": "upper_bounds",
                 "type": ["null", _KV_BYTES]},
                # spec field 135: the schema field ids an
                # equality-delete file (content=2) matches on; null
                # for data files and position deletes
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}]},
            ]}},
    ]}

_MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        # spec field 515: the sequence number assigned when the
        # manifest was added — entries inside a manifest with a null
        # sequence_number inherit it (the reader's eq-delete ordering
        # depends on it, so every NEW manifest records its commit seq)
        {"name": "sequence_number", "type": ["null", "long"]},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        {"name": "added_files_count", "type": ["null", "int"]},
        {"name": "added_rows_count", "type": ["null", "long"]},
        # field_summary per spec r508: drives the reader's
        # manifest-level partition pruning
        {"name": "partitions", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "r508", "fields": [
                    {"name": "contains_null", "type": "boolean"},
                    {"name": "lower_bound",
                     "type": ["null", "bytes"]},
                    {"name": "upper_bound",
                     "type": ["null", "bytes"]},
                ]}}]},
    ]}

# carrying a previous snapshot's manifest forward preserves every
# scan-relevant key, including its ORIGINAL sequence_number (eq-delete
# ordering inherits from it; foreign manifests may still carry null)
_MANIFEST_CARRY_KEYS = ("manifest_path", "manifest_length",
                        "partition_spec_id", "content",
                        "sequence_number", "added_snapshot_id",
                        "added_files_count", "added_rows_count",
                        "partitions")


# ------------------------------------------------------------- the write


def _stage_data_files(df: DataFrame, table_path: str,
                      part: "_PartField | None" = None,
                      ice_schema: dict | None = None) -> list[dict]:
    """Distributed parquet write into a staging dir, then rename each
    part file to ``data/[<field>=<val>/]<uuid>.parquet``.  Returns
    manifest ``data_file`` dicts (path, size, row count from the
    footer, and the typed partition value when partitioned).

    Partitioned staging derives the partition VALUE (identity copy
    or the spec transform — day/hour/month/year/bucket/truncate)
    under a temp name for ``partitionBy`` — Spark's Hive layout
    drops the partitioning column from the files, but Iceberg data
    files must carry every schema column."""
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    if part is None:
        df.write.mode("overwrite").parquet(staging)
        part_dirs = [(staging, None)]
    else:
        src_type = df.schema[part.source].dataType
        (df.withColumn("__part", part.expr(src_type))
         .write.mode("overwrite").partitionBy("__part")
         .parquet(staging))
        part_dirs = []
        for name in sorted(os.listdir(staging)):
            if not name.startswith("__part="):
                continue
            raw = name[len("__part="):]
            if raw == "__HIVE_DEFAULT_PARTITION__":
                shutil.rmtree(staging, ignore_errors=True)
                raise ValueError(
                    f"iceberg append: null value in partition source "
                    f"column {part.source!r}")
            from urllib.parse import unquote
            val = part.parse_dir_value(unquote(raw))
            part_dirs.append((os.path.join(staging, name), val))
    data_dir = os.path.join(table_path, "data")
    import pyarrow.parquet as pq
    out = []
    for src_dir, pval in part_dirs:
        if pval is None:
            dst_dir = data_dir
        else:
            dst_dir = os.path.join(
                data_dir, f"{part.name}={pval}")
        os.makedirs(dst_dir, exist_ok=True)
        for name in sorted(os.listdir(src_dir)):
            if not name.endswith(".parquet"):
                continue
            final = os.path.join(dst_dir,
                                 f"{uuid.uuid4().hex}.parquet")
            os.replace(os.path.join(src_dir, name), final)
            entry = {
                "content": 0,
                "file_path": final,
                "file_format": "PARQUET",
                "record_count":
                    pq.ParquetFile(final).metadata.num_rows,
                "file_size_in_bytes": os.path.getsize(final),
            }
            if pval is not None:
                entry["partition"] = {part.name: pval}
            out.append(entry)
    shutil.rmtree(staging, ignore_errors=True)
    return out


def _append_compatible(table: T.StructType, df: T.StructType) -> bool:
    if [f.name for f in table.fields] != [f.name for f in df.fields]:
        return False
    for tf, wf in zip(table.fields, df.fields):
        if tf.dataType != wf.dataType:
            return False
        if not tf.nullable and wf.nullable:
            return False
    return True


def _evolve_schema(ice_schema: dict, df_schema: T.StructType) -> dict:
    """Add-column schema evolution (``merge_schema=True`` appends,
    mirroring the Delta twin ``storage/delta.py:_merge_schemas``):
    new dataframe columns append as OPTIONAL fields with fresh field
    ids above the table's last-column-id; shared columns must keep
    their exact Spark type (silent widening refused); the dataframe
    may omit optional existing columns (files missing an optional
    column read as nulls — the reader's add-column contract) but
    never a required one.  Returns ``ice_schema`` itself when the
    batch adds nothing (no evolution, no metadata change)."""
    spark_existing = {f.name: f
                      for f in _to_spark_schema(ice_schema).fields}
    new_fields = []
    for f in df_schema.fields:
        ex = spark_existing.get(f.name)
        if ex is None:
            new_fields.append(f)
            continue
        if ex.dataType != f.dataType:
            raise ValueError(
                f"iceberg append: column {f.name!r} type "
                f"{f.dataType.simpleString()} does not match the "
                f"table's {ex.dataType.simpleString()} — type "
                "changes/widening are refused, not merged")
        if not ex.nullable and f.nullable:
            raise ValueError(
                f"iceberg append: required column {f.name!r} cannot "
                "accept a nullable batch column")
    batch_names = {f.name for f in df_schema.fields}
    missing_req = sorted(
        f["name"] for f in ice_schema["fields"]
        if f.get("required") and f["name"] not in batch_names)
    if missing_req:
        raise ValueError(
            f"iceberg append: batch lacks required table columns "
            f"{missing_req}")
    if not new_fields:
        return ice_schema
    counter = {"n": _last_column_id(ice_schema)}

    def next_id() -> int:
        counter["n"] += 1
        return counter["n"]

    added = []
    for f in new_fields:
        fid = next_id()
        added.append({"id": fid, "name": f.name,
                      "required": False,  # old files must read null
                      "type": _to_iceberg_type(f.dataType, next_id)})
    evolved = dict(ice_schema)
    evolved["fields"] = list(ice_schema["fields"]) + added
    return evolved


def write_iceberg(spark: SparkSession, df: DataFrame, path: str,
                  max_commit_attempts: int = 5,
                  partition_by: str | None = None,
                  merge_schema: bool = False) -> None:
    """Append ``df`` to the Iceberg table at ``path``, creating the
    table (format-version 2) if absent.

    ``partition_by`` — ONE partition field, identity or transformed
    (Table Spec "Partition Transforms"): ``"col"`` (identity over
    int/long/string), ``"day(col)"`` / ``"days(col)"`` (timestamp or
    date), ``"hour(col)"`` (timestamp), ``"month(col)"`` /
    ``"year(col)"`` (date), ``"bucket(col, N)"`` (murmur3 seed-0 per
    Appendix B over int/long/string), ``"truncate(col, W)"``
    (int/long floor-to-multiple, string prefix).  On create it
    becomes the table's default spec; on append it must match the
    existing spec's (transform, source column).  Partitioned staging
    is still ONE distributed write (the derived VALUE goes under a
    temp name for ``partitionBy`` so the data files keep every
    schema column, unlike Hive layout), and each manifest records
    per-partition-field summaries so the reader's manifest-level
    pruning works on tables this writer produces.  Null partition
    values are refused (they would silently land in a Hive
    default-partition dir).

    Commit protocol: stage data files once, then CAS the metadata —
    read the current version, write ``v<N+1>.metadata.json`` via
    ``os.link`` put-if-absent, and on :class:`IcebergConcurrentCommit`
    re-read and retry with the already-staged files (the Iceberg
    optimistic-concurrency contract; data files are immutable and
    uniquely named, so a retry never rewrites them).

    ``merge_schema=True`` enables add-column evolution
    (:func:`_evolve_schema`): new batch columns append as optional
    fields (old files read null), batches may omit optional columns
    (new files read null); the commit publishes the evolved schema
    with a bumped schema-id and last-column-id."""
    ice_schema, part = _precheck_append(path, df.schema, partition_by,
                                        merge_schema)
    data_files = _stage_data_files(df, path, part, ice_schema)
    _bound_entries(data_files, ice_schema)
    _commit_staged(path, data_files, ice_schema, part,
                   max_commit_attempts,
                   df_schema=df.schema if merge_schema else None)


def overwrite_iceberg(spark: SparkSession, df: DataFrame, path: str,
                      max_commit_attempts: int = 5,
                      partition_by: str | None = None) -> None:
    """TRUNCATE-and-replace: commit ONE ``overwrite`` snapshot whose
    manifest list holds ONLY the new data manifest — every previously
    live data/delete file drops out of the current snapshot but stays
    time-travelable until :func:`expire_snapshots`.  Schema and
    partition spec must match the existing table (this is a data
    overwrite, not an evolution); a missing table creates, exactly
    like :func:`write_iceberg`.  Incremental append scans refuse
    ranges containing the overwrite — correct, a truncation cannot be
    consumed as appends."""
    mdir = os.path.join(path, "metadata")
    if not (os.path.isdir(mdir)
            and any(n.endswith(".metadata.json")
                    for n in os.listdir(mdir))):
        write_iceberg(spark, df, path, max_commit_attempts,
                      partition_by)
        return
    ice_schema, part = _precheck_append(path, df.schema, partition_by)
    data_files = _stage_data_files(df, path, part, ice_schema)
    _bound_entries(data_files, ice_schema)
    table = IcebergTable(path)
    for _ in range(max_commit_attempts):
        md = table.metadata()
        base_version = _version_of(table._metadata_path())
        try:
            _commit_append(table, md, data_files, base_version,
                           part, carry=False, operation="overwrite")
            return
        except IcebergConcurrentCommit:
            continue
    raise IcebergConcurrentCommit(
        f"iceberg overwrite: lost the commit race "
        f"{max_commit_attempts} times at {path!r}")


def _precheck_append(path: str, df_schema: T.StructType,
                     partition_by: str | None,
                     merge_schema: bool = False
                     ) -> tuple[dict, "_PartField | None"]:
    """The fail-fast half of :func:`write_iceberg` (shared with the
    registered data source's writer, which runs it at planning time
    BEFORE executors stage anything): schema compatibility against an
    existing table, partition-spec agreement, supported partition
    transforms/types.  Returns ``(ice_schema, part_field)`` — the
    EVOLVED schema when ``merge_schema`` adds columns."""
    table = IcebergTable(path)
    mdir = os.path.join(path, "metadata")
    os.makedirs(mdir, exist_ok=True)

    exists = any(n.endswith(".metadata.json") for n in os.listdir(mdir))
    if exists:
        md = table.metadata()
        ice_schema = table._current_schema(md)
        if not _append_compatible(_to_spark_schema(ice_schema),
                                  df_schema):
            if merge_schema:
                ice_schema = _evolve_schema(ice_schema, df_schema)
            else:
                raise ValueError(
                    "iceberg append: dataframe schema "
                    f"{df_schema.simpleString()} does not match table "
                    f"schema "
                    f"{_to_spark_schema(ice_schema).simpleString()} "
                    "(pass merge_schema=True for add-column "
                    "evolution)")
        specs = {s.get("spec-id", 0): s.get("fields", [])
                 for s in md.get("partition-specs", [])}
        spec_fields = specs.get(md.get("default-spec-id", 0), [])
        part = (_parse_partition_by(partition_by, ice_schema)
                if partition_by is not None else None)
        if bool(spec_fields) != (part is not None):
            raise ValueError(
                f"iceberg append: partition_by={partition_by!r} does "
                f"not match the table's default spec "
                f"({len(spec_fields)} fields)")
        if spec_fields:
            existing = _spec_part_field(spec_fields, ice_schema)
            if (existing.transform, existing.source) != \
                    (part.transform, part.source):
                raise ValueError(
                    f"iceberg append: partition_by={partition_by!r} "
                    f"({part.transform} over {part.source!r}) does "
                    f"not match the table's default spec "
                    f"({existing.transform} over {existing.source!r})")
            part = existing  # keep the table's field name
    else:
        ice_schema = _to_iceberg_schema(df_schema)
        part = (_parse_partition_by(partition_by, ice_schema)
                if partition_by is not None else None)
    return ice_schema, part


def _commit_staged(path: str, data_files: list[dict],
                   ice_schema: dict, part: "_PartField | None",
                   max_commit_attempts: int = 5,
                   df_schema: T.StructType | None = None,
                   extra_summary: dict | None = None) -> None:
    """The CAS retry half of :func:`write_iceberg`, given
    already-staged manifest entries (with bounds).  ``df_schema``
    (merge-schema appends only) lets a retry RE-derive the evolved
    schema against freshly-read metadata — a racer may have evolved
    the table first, and blindly committing our pre-race schema
    would drop their columns."""
    table = IcebergTable(path)
    mdir = os.path.join(path, "metadata")
    for _ in range(max_commit_attempts):
        schema_patch = None
        if any(n.endswith(".metadata.json") for n in os.listdir(mdir)):
            md = table.metadata()
            base_version = _version_of(table._metadata_path())
            if df_schema is not None:
                cur = table._current_schema(md)
                evolved = _evolve_schema(cur, df_schema)
                if evolved is not cur:
                    ice_schema = evolved
                    schema_patch = evolved
                else:
                    ice_schema = cur
        else:
            base_version = 0
            md = {
                "format-version": 2,
                "table-uuid": str(uuid.uuid4()),
                "location": path,
                "last-sequence-number": 0,
                "last-column-id": _last_column_id(ice_schema),
                "schemas": [ice_schema],
                "current-schema-id": 0,
                "partition-specs": [{
                    "spec-id": 0,
                    "fields": [] if part is None else [{
                        "name": part.name,
                        "transform": part.transform,
                        "source-id": next(
                            f["id"] for f in ice_schema["fields"]
                            if f["name"] == part.source),
                        "field-id": 1000,
                    }]}],
                "default-spec-id": 0,
                "snapshots": [],
                "current-snapshot-id": -1,
            }
        try:
            _commit_append(table, md, data_files, base_version,
                           part, schema_patch=schema_patch,
                           extra_summary=extra_summary)
            return
        except IcebergConcurrentCommit:
            continue
    raise IcebergConcurrentCommit(
        f"iceberg append: lost the commit race "
        f"{max_commit_attempts} times at {path!r}")


def _last_column_id(ice_schema: dict) -> int:
    top = [f["id"] for f in ice_schema["fields"]]

    def walk(t) -> list[int]:
        if not isinstance(t, dict):
            return []
        if t["type"] == "struct":
            return [f["id"] for f in t["fields"]] + [
                i for f in t["fields"] for i in walk(f["type"])]
        if t["type"] == "list":
            return [t["element-id"]] + walk(t["element"])
        if t["type"] == "map":
            return ([t["key-id"], t["value-id"]]
                    + walk(t["key"]) + walk(t["value"]))
        return []

    nested = [i for f in ice_schema["fields"] for i in walk(f["type"])]
    return max(top + nested)


def _version_of(metadata_path: str) -> int:
    import re as _re
    stem = os.path.basename(metadata_path)[:-len(".metadata.json")]
    m = _re.match(r"v?(\d+)", stem)
    return int(m.group(1)) if m else 0


def _partitioned_entry_schema(part: "_PartField") -> dict:
    """Manifest-entry Avro schema extended with the data_file
    ``partition`` record (spec field r102) for one partition field
    (identity or transformed — the record field is named after the
    SPEC FIELD, typed as the transform's result)."""
    import copy
    schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
    df_schema = next(f for f in schema["fields"]
                     if f["name"] == "data_file")["type"]
    df_schema["fields"].insert(2, {
        "name": "partition",
        "type": {"type": "record", "name": "r102", "fields": [
            {"name": part.name, "type": part.avro_type()}]}})
    return schema


def _commit_append(table: IcebergTable, md: dict,
                   data_files: list[dict],
                   base_version: int,
                   part_info: "_PartField | None" = None,
                   carry: bool = True,
                   operation: str = "append",
                   schema_patch: dict | None = None,
                   extra_summary: dict | None = None) -> None:
    """Commit one snapshot on top of ``md``, which was read from
    metadata version ``base_version``.  ``carry=True`` is a fast
    append (the previous snapshot's manifests carry over unchanged);
    ``carry=False`` with ``operation="replace"`` makes the new
    manifest the ONLY one — the compaction commit shape.
    ``schema_patch`` (merge-schema appends) publishes an evolved
    schema alongside the snapshot: appended to ``schemas`` under a
    bumped schema-id, made current, last-column-id raised."""
    path, mdir = table.path, os.path.join(table.path, "metadata")
    seq = md.get("last-sequence-number", 0) + 1
    snap_id = max([s["snapshot-id"] for s in md.get("snapshots", [])],
                  default=0) + 1
    commit_uuid = uuid.uuid4().hex

    manifest = os.path.join(mdir, f"m-{commit_uuid}.avro")
    entries = [{"status": 1, "snapshot_id": snap_id,
                "sequence_number": None,  # inherited = commit seq
                "data_file": f} for f in data_files]
    if part_info is None or not data_files:
        entry_schema = _MANIFEST_ENTRY_SCHEMA
        summaries = None
    else:
        entry_schema = _partitioned_entry_schema(part_info)
        # manifest-list partition summary (one field): the reader's
        # manifest-level pruning consumes these bounds
        enc = part_info.bound_encoder()
        vals = [f["partition"][part_info.name] for f in data_files]
        summaries = [{"contains_null": False,
                      "lower_bound": enc(min(vals)),
                      "upper_bound": enc(max(vals))}]
    with open(manifest, "wb") as fh:
        fh.write(_avro_file(entry_schema, entries))

    # fast append: previous snapshot's manifests carry over unchanged
    prev_manifests: list[dict] = []
    cur = md.get("current-snapshot-id", -1)
    if carry:
        for s in md.get("snapshots", []):
            if s.get("snapshot-id") == cur and "manifest-list" in s:
                with open(_localize(s["manifest-list"]), "rb") as fh:
                    from .iceberg import avro_read
                    _, prev_manifests = avro_read(fh.read())
                break
    new_entry = {
        "manifest_path": manifest,
        "manifest_length": os.path.getsize(manifest),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(data_files),
        "added_rows_count": sum(f["record_count"]
                                for f in data_files),
        "partitions": summaries,
    }
    carried = [{k: m.get(k) for k in _MANIFEST_CARRY_KEYS}
               for m in prev_manifests]
    mlist = os.path.join(mdir, f"snap-{snap_id}-{commit_uuid}.avro")
    with open(mlist, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_FILE_SCHEMA,
                            [new_entry] + carried))

    now_ms = int(time.time() * 1000)
    new_md = dict(md)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now_ms
    if schema_patch is not None:
        new_sid = max([s.get("schema-id", 0)
                       for s in md.get("schemas", [])], default=0) + 1
        patched = dict(schema_patch)
        patched["schema-id"] = new_sid
        new_md["schemas"] = md.get("schemas", []) + [patched]
        new_md["current-schema-id"] = new_sid
        new_md["last-column-id"] = _last_column_id(patched)
    snap: dict = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist,
        # summary metric values are STRINGS per the spec
        "summary": {
            "operation": operation,
            "added-data-files": str(len(data_files)),
            "added-records": str(sum(f["record_count"]
                                     for f in data_files)),
            **(extra_summary or {}),
        },
    }
    prev_cur = md.get("current-snapshot-id")
    if prev_cur not in (None, -1):
        # ancestry chain: incremental scans walk parent ids
        snap["parent-snapshot-id"] = prev_cur
    new_md["snapshots"] = md.get("snapshots", []) + [snap]
    new_md["current-snapshot-id"] = snap_id
    _cas_metadata(table, new_md, base_version,
                  cleanup=(manifest, mlist))


def _cas_metadata(table: IcebergTable, new_md: dict,
                  base_version: int,
                  cleanup: tuple[str, ...] = ()) -> None:
    """Commit ``new_md`` as ``v<base_version+1>.metadata.json`` via
    ``os.link`` put-if-absent (two racers can never both win the
    version) and refresh ``version-hint.text``.  On a lost race the
    freshly-written ``cleanup`` files are removed and
    :class:`IcebergConcurrentCommit` raises.  The CAS target is
    ALWAYS base_version + 1: deriving it from the directory at commit
    time would let a writer holding stale metadata commit a higher
    version that silently drops a racer's snapshot."""
    mdir = os.path.join(table.path, "metadata")
    next_v = base_version + 1
    final = os.path.join(mdir, f"v{next_v}.metadata.json")
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as fh:
        json.dump(new_md, fh)
    try:
        os.link(tmp, final)  # atomic create-if-absent
    except FileExistsError:
        for p in cleanup:
            try:
                os.remove(p)
            except OSError:
                pass
        raise IcebergConcurrentCommit(
            f"concurrent Iceberg commit at version {next_v}")
    finally:
        try:
            os.remove(tmp)
        except OSError:
            pass
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(next_v))


# ------------------------------------------- row-level DML (MoR)
#
# DELETE / UPDATE / MERGE share four pieces, mirroring the Delta
# twin's ``_commit_row_dml`` structure (storage/delta.py):
#   _live_rows              one distributed scan of the current
#                           snapshot with merge-on-read deletes
#                           applied and (file, pos) kept per row
#   _position_hits          map rows back to the manifests' EXACT
#                           file_path form (spec readers match
#                           strings, not normalized URIs)
#   _stage_position_deletes sorted position-delete parquet parts
#   _commit_row_dml         ONE snapshot carrying a content=1
#                           delete manifest and/or a content=0 data
#                           manifest plus the carried-over previous
#                           manifests, CAS-committed


def _validate_preds(ice_schema: dict, preds) -> None:
    names = {f["name"] for f in ice_schema["fields"]}
    for col, op, _ in preds:
        if op not in ("=", "<", "<=", ">", ">="):
            raise ValueError(
                f"iceberg: unsupported predicate op {op!r}")
        if col not in names:
            raise ValueError(f"iceberg: unknown column {col!r}")


def _live_rows(spark: SparkSession, table: IcebergTable, md: dict,
               preds: list) -> tuple[DataFrame | None, list[dict]]:
    """Current-snapshot rows with position AND equality deletes
    applied (so DML can never touch — or worse, resurrect — an
    already-deleted row), plus two extra columns per row:
    ``_ice_path`` (normalized data-file path) and ``_ice_pos``
    (0-based parquet row ordinal from ``_metadata.row_index``).
    ``preds`` prune at the manifest and file level exactly like
    :meth:`IcebergTable.read` and re-apply as residual filters.
    Returns ``(None, [])`` when no live data file can match."""
    from pyspark.sql import functions as F

    from .iceberg import _file_may_match

    files, delete_files = table._data_files(
        table._snapshot(md, None), list(preds), md)
    if not files:
        return None, []
    ice_schema = table._current_schema(md)
    schema = _to_spark_schema(ice_schema)
    if preds:
        field_id = {f["name"]: f["id"]
                    for f in ice_schema["fields"]}
        field_type = {f["name"]: f["type"]
                      for f in ice_schema["fields"]
                      if isinstance(f["type"], str)}
        files = [f for f in files
                 if _file_may_match(f, preds, field_id, field_type)]
        if not files:
            return None, []
    fmts = {(f.get("file_format") or "PARQUET").upper()
            for f in files}
    if fmts - {"PARQUET"}:
        raise NotImplementedError(
            "iceberg row-level DML: parquet data files only (row "
            "positions come from _metadata.row_index, which Spark "
            f"exposes for parquet scans only); table has "
            f"{sorted(fmts - {'PARQUET'})} files")
    scan = spark.read.schema(schema).parquet(
        *[_localize(f["file_path"]) for f in files])
    out = IcebergTable._apply_deletes(
        spark, scan, delete_files, schema, ice_schema, files,
        keep_pos=True)
    for col, op, lit in preds:
        c = F.col(col)
        out = out.filter({"=": c == lit, "<": c < lit,
                          "<=": c <= lit, ">": c > lit,
                          ">=": c >= lit}[op])
    return out, files


def _position_hits(spark: SparkSession, rows: DataFrame,
                   files: list[dict]) -> DataFrame:
    """``(file_path, pos)`` pairs for ``rows`` (which carry
    ``_ice_path``/``_ice_pos``), with ``file_path`` restored to
    EXACTLY the form the data manifests use — mapped back from the
    normalized filesystem form via a broadcast lookup — so any spec
    reader matches the delete entries."""
    import re as _re

    from pyspark.sql import functions as F

    mapping = [(_re.sub("^file:/+", "/", f["file_path"]),
                f["file_path"]) for f in files]
    map_df = spark.createDataFrame(mapping,
                                   "_norm string, _orig string")
    return (rows.select(F.col("_ice_path").alias("_norm"),
                        F.col("_ice_pos").alias("pos"))
            .join(F.broadcast(map_df), "_norm")
            .select(F.col("_orig").alias("file_path"), "pos"))


def _stage_position_deletes(spark: SparkSession, path: str,
                            hits: DataFrame
                            ) -> tuple[list[dict], int]:
    """Write ``hits`` as spec-conformant position-delete parquet
    (sorted by file_path, pos within each part) under ``data/`` and
    return ``(manifest delete entries, total deleted positions)``.
    Empty parts are dropped; an empty hit set returns ``([], 0)``
    without leaving any file behind."""
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    (hits.sortWithinPartitions("file_path", "pos")
     .write.mode("overwrite").parquet(staging))
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    import pyarrow.parquet as pq
    del_entries: list[dict] = []
    n_deleted = 0
    referenced: set[str] = set()
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        nrows = pq.ParquetFile(
            os.path.join(staging, name)).metadata.num_rows
        if nrows == 0:
            continue
        final = os.path.join(data_dir,
                             f"del-{uuid.uuid4().hex}.parquet")
        os.replace(os.path.join(staging, name), final)
        # the distinct data files this delete file addresses (one
        # dictionary-encoded column read per staged part, driver-side
        # but bounded by the DML's own output) — _retry_row_dml
        # validates them against the refreshed snapshot before any
        # retry commit so a concurrent compact/overwrite can't
        # silently resurrect the deleted rows
        refs = (pq.read_table(final, columns=["file_path"])
                .column("file_path").unique().to_pylist())
        referenced.update(refs)
        # bounds on the reserved file_path field (spec id 2147483546):
        # a changelog/read planner can then skip data files no
        # position delete of this commit references
        del_entries.append({
            "content": 1,
            "file_path": final,
            "file_format": "PARQUET",
            "record_count": nrows,
            "file_size_in_bytes": os.path.getsize(final),
            "lower_bounds": [{"key": 2147483546,
                              "value": min(refs).encode("utf-8")}],
            "upper_bounds": [{"key": 2147483546,
                              "value": max(refs).encode("utf-8")}],
        })
        n_deleted += nrows
    shutil.rmtree(staging, ignore_errors=True)
    return del_entries, n_deleted, referenced


def _part_info(md: dict, ice_schema: dict) -> "_PartField | None":
    """The table's default-spec partition field (this writer's
    supported shape: none, or one identity/transformed field), for
    re-staging rewritten rows into the right Hive directories."""
    specs = {s.get("spec-id", 0): s.get("fields", [])
             for s in md.get("partition-specs", [])}
    spec_fields = specs.get(md.get("default-spec-id", 0), [])
    if not spec_fields:
        return None
    return _spec_part_field(spec_fields, ice_schema)


def _bound_entries(data_files: list[dict], ice_schema: dict) -> None:
    for f in data_files:
        lo, hi = _file_bounds(f["file_path"], ice_schema)
        f["lower_bounds"] = lo or None
        f["upper_bounds"] = hi or None


def _commit_row_dml(table: IcebergTable, md: dict,
                    data_entries: list[dict],
                    del_entries: list[dict],
                    part_info: "_PartField | None",
                    base_version: int,
                    operation: str = "overwrite") -> int:
    """Commit ONE snapshot carrying any mix of a content=0 data
    manifest (rewritten/inserted rows, with partition summaries when
    partitioned) and a content=1 delete manifest (position deletes),
    plus the previous snapshot's manifests carried over unchanged.
    Both new manifests inherit the commit's sequence number, so the
    position deletes apply to every OLDER file (and address the old
    files by path — the new data files are untouched by
    construction).  Returns the committed snapshot id."""
    mdir = os.path.join(table.path, "metadata")
    seq = md.get("last-sequence-number", 0) + 1
    snap_id = max([s["snapshot-id"] for s in md.get("snapshots", [])],
                  default=0) + 1
    commit_uuid = uuid.uuid4().hex
    new_manifests: list[dict] = []
    written: list[str] = []

    if data_entries:
        manifest = os.path.join(mdir, f"m-{commit_uuid}.avro")
        entries = [{"status": 1, "snapshot_id": snap_id,
                    "sequence_number": None,  # inherited = commit seq
                    "data_file": f} for f in data_entries]
        if part_info is None:
            entry_schema = _MANIFEST_ENTRY_SCHEMA
            summaries = None
        else:
            entry_schema = _partitioned_entry_schema(part_info)
            enc = part_info.bound_encoder()
            vals = [f["partition"][part_info.name]
                    for f in data_entries]
            summaries = [{"contains_null": False,
                          "lower_bound": enc(min(vals)),
                          "upper_bound": enc(max(vals))}]
        with open(manifest, "wb") as fh:
            fh.write(_avro_file(entry_schema, entries))
        new_manifests.append({
            "manifest_path": manifest,
            "manifest_length": os.path.getsize(manifest),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(data_entries),
            "added_rows_count": sum(f["record_count"]
                                    for f in data_entries),
            "partitions": summaries,
        })
        written.append(manifest)

    if del_entries:
        dmanifest = os.path.join(mdir, f"dm-{commit_uuid}.avro")
        entries = [{"status": 1, "snapshot_id": snap_id,
                    "sequence_number": None,
                    "data_file": f} for f in del_entries]
        with open(dmanifest, "wb") as fh:
            fh.write(_avro_file(_MANIFEST_ENTRY_SCHEMA, entries))
        new_manifests.append({
            "manifest_path": dmanifest,
            "manifest_length": os.path.getsize(dmanifest),
            "partition_spec_id": 0,
            "content": 1,
            "sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(del_entries),
            "added_rows_count": sum(f["record_count"]
                                    for f in del_entries),
            "partitions": None,
        })
        written.append(dmanifest)

    prev_manifests: list[dict] = []
    cur = md.get("current-snapshot-id", -1)
    for s in md.get("snapshots", []):
        if s.get("snapshot-id") == cur and "manifest-list" in s:
            with open(_localize(s["manifest-list"]), "rb") as fh:
                from .iceberg import avro_read
                _, prev_manifests = avro_read(fh.read())
            break
    carried = [{k: m.get(k) for k in _MANIFEST_CARRY_KEYS}
               for m in prev_manifests]
    mlist = os.path.join(mdir, f"snap-{snap_id}-{commit_uuid}.avro")
    with open(mlist, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_FILE_SCHEMA,
                            new_manifests + carried))

    now_ms = int(time.time() * 1000)
    new_md = dict(md)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now_ms
    snap: dict = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist,
        # summary metric values are STRINGS per the spec
        "summary": {
            "operation": operation,
            "added-data-files": str(len(data_entries)),
            "added-records": str(sum(f["record_count"]
                                     for f in data_entries)),
            "added-delete-files": str(len(del_entries)),
            "added-position-deletes": str(sum(
                f["record_count"] for f in del_entries)),
        },
    }
    prev_cur = md.get("current-snapshot-id")
    if prev_cur not in (None, -1):
        snap["parent-snapshot-id"] = prev_cur
    new_md["snapshots"] = md.get("snapshots", []) + [snap]
    new_md["current-snapshot-id"] = snap_id
    _cas_metadata(table, new_md, base_version,
                  cleanup=tuple(written) + (mlist,))
    return snap_id


def _retry_row_dml(table: IcebergTable, data_entries: list[dict],
                   del_entries: list[dict],
                   part_info: "_PartField | None",
                   operation: str, max_commit_attempts: int,
                   verb: str,
                   referenced_paths: "set[str] | None" = None) -> int:
    """The optimistic-concurrency tail every DML verb shares: re-read
    metadata, CAS at base_version+1, retry on a lost race with the
    already-staged files (immutable and uniquely named — a retry
    never rewrites them).

    Before EVERY commit attempt (first included — the CAS re-reads
    metadata, so a race that landed between the DML's scan and its
    first commit would otherwise succeed) the data files addressed by
    the staged position deletes (``referenced_paths``) are validated
    against the refreshed snapshot's live file set — a concurrent
    ``compact_iceberg``/overwrite replaces those files, and blindly
    committing the stale deletes would silently resurrect the
    deleted/updated rows (the compaction itself checks snapshot-id
    the same way)."""
    for _ in range(max_commit_attempts):
        md = table.metadata()
        if referenced_paths:
            cur_files, _ = table._data_files(table._snapshot(md, None))
            gone = referenced_paths - {f["file_path"]
                                       for f in cur_files}
            if gone:
                raise IcebergConcurrentCommit(
                    f"iceberg {verb}: a concurrent commit rewrote "
                    f"{len(gone)} data file(s) this DML's position "
                    f"deletes address (e.g. {sorted(gone)[0]!r}) — "
                    f"the staged deletes are stale; rerun the DML "
                    f"against the new snapshot")
        base_version = _version_of(table._metadata_path())
        try:
            return _commit_row_dml(table, md, data_entries,
                                   del_entries, part_info,
                                   base_version, operation)
        except IcebergConcurrentCommit:
            continue
    raise IcebergConcurrentCommit(
        f"iceberg {verb}: lost the commit race "
        f"{max_commit_attempts} times at {table.path!r}")


def delete_iceberg(spark: SparkSession, path: str,
                   where: list[tuple],
                   max_commit_attempts: int = 5,
                   equality: bool = False) -> int:
    """Merge-on-read DELETE: write position-delete files for every
    live row matching ``where`` (the same ``(column, op, literal)``
    predicate shape the reader takes) and commit them as a new
    snapshot — data files are never rewritten, exactly how Flink and
    Spark streaming writers delete from Iceberg v2 tables.

    Spark-first shape: one distributed scan WITH the hidden
    ``_metadata`` columns finds matching ``(file_path, pos)`` pairs
    on the delete-applied snapshot (re-deleting an already-deleted
    row — by position OR by a prior equality delete — is a no-op,
    not a duplicate entry); they are written as spec-conformant
    position-delete parquet and CAS-committed like appends.

    ``equality=True`` (requires every predicate op to be ``=``)
    writes ONE spec-conformant equality-delete row instead — a BLIND
    O(1) write with no table scan, the Flink-upsert shape; see
    :func:`equality_delete_iceberg` for the many-keys form.

    Returns the number of deleted row positions (0 = no matching
    rows, in which case NO commit is made); with ``equality=True``
    the write is blind, so it returns 1 (one delete row staged) and
    always commits."""
    if not where:
        raise ValueError(
            "iceberg delete: empty predicate would delete every row; "
            "pass explicit (column, op, literal) predicates")
    table = IcebergTable(path)
    md = table.metadata()
    _validate_preds(table._current_schema(md), list(where))
    if equality:
        bad = [p for p in where if p[1] != "="]
        if bad:
            raise ValueError(
                f"iceberg delete: equality=True needs '=' predicates "
                f"only, got {bad}")
        ice_schema = table._current_schema(md)
        spark_schema = _to_spark_schema(ice_schema)
        by_name = {f.name: f.dataType for f in spark_schema.fields}
        keys = spark.createDataFrame(
            [tuple(lit for _c, _op, lit in where)],
            T.StructType([T.StructField(c, by_name[c])
                          for c, _op, _lit in where]))
        equality_delete_iceberg(spark, path, keys,
                                max_commit_attempts=max_commit_attempts)
        return 1
    live, files = _live_rows(spark, table, md, list(where))
    if live is None:
        return 0
    del_entries, n_deleted, refd = _stage_position_deletes(
        spark, path, _position_hits(spark, live, files))
    if not del_entries:
        return 0
    _retry_row_dml(table, [], del_entries, None, "delete",
                   max_commit_attempts, "delete",
                   referenced_paths=refd)
    return n_deleted


def equality_delete_iceberg(spark: SparkSession, path: str,
                            keys: DataFrame,
                            max_commit_attempts: int = 5) -> int:
    """BLIND equality delete (Iceberg spec "Equality Delete Files"):
    every table row whose values match ANY row of ``keys`` on all of
    ``keys``' columns (null-safe: a null key value means IS NULL) is
    deleted, PROVIDED its data file's sequence number is strictly
    smaller than this commit's — a later re-insert of the same key
    survives, which is exactly what makes this the streaming-upsert
    delete shape (Flink/Paimon-style CDC writers emit these).

    No table scan, no position lookup: ``keys`` is staged as
    equality-delete parquet (distributed write, driver touches only
    the file list) and committed with ``equality_ids`` naming the key
    columns' schema field ids.  Cost is O(|keys|) regardless of table
    size — the read side applies them as broadcast anti joins
    (:meth:`storage.iceberg.IcebergTable.read`).

    Returns the committed snapshot id."""
    from pyspark.sql import functions as F

    table = IcebergTable(path)
    md = table.metadata()
    ice_schema = table._current_schema(md)
    by_name = {f["name"]: f for f in ice_schema["fields"]
               if isinstance(f["type"], str)}
    unknown = [c for c in keys.columns if c not in by_name]
    if unknown:
        raise ValueError(
            f"iceberg equality delete: key columns {unknown} are not "
            f"primitive table columns")
    if not keys.columns:
        raise ValueError("iceberg equality delete: no key columns")
    spark_schema = _to_spark_schema(ice_schema)
    by_sname = {f.name: f.dataType for f in spark_schema.fields}
    eq_ids = [by_name[c]["id"] for c in keys.columns]
    cast = keys.select(*[F.col(f"`{c}`").cast(by_sname[c]).alias(c)
                         for c in keys.columns])

    # stage like position deletes: one parquet part per partition,
    # empties dropped, entries carry content=2 + the field ids
    staging = os.path.join(path, f"_staging_{uuid.uuid4().hex}")
    cast.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    import pyarrow.parquet as pq
    del_entries: list[dict] = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        nrows = pq.ParquetFile(
            os.path.join(staging, name)).metadata.num_rows
        if nrows == 0:
            continue
        final = os.path.join(data_dir,
                             f"eqdel-{uuid.uuid4().hex}.parquet")
        os.replace(os.path.join(staging, name), final)
        # key-column bounds let planners skip data files whose own
        # bounds cannot overlap any deleted key
        lo, hi = _file_bounds(final, ice_schema)
        del_entries.append({
            "content": 2,
            "file_path": final,
            "file_format": "PARQUET",
            "record_count": nrows,
            "file_size_in_bytes": os.path.getsize(final),
            "lower_bounds": lo or None,
            "upper_bounds": hi or None,
            "equality_ids": list(eq_ids),
        })
    shutil.rmtree(staging, ignore_errors=True)
    if not del_entries:
        raise ValueError("iceberg equality delete: empty key set")
    return _retry_row_dml(table, [], del_entries, None, "delete",
                          max_commit_attempts, "equality-delete")


def update_iceberg(spark: SparkSession, path: str, set: dict,
                   where: list[tuple] | None = None,
                   max_commit_attempts: int = 5) -> int:
    """Merge-on-read UPDATE ... SET: rows matching ``where`` are
    masked out of their files via position deletes and the rewritten
    rows (the ``set`` expressions — {column: Column or SQL string},
    evaluated against the OLD row) land in NEW data files, committed
    together as ONE ``overwrite`` snapshot — no full file is
    rewritten and unmatched rows are never copied, mirroring the
    Delta twin (:meth:`storage.delta.DeltaTable.update`).  Updating
    the partition column moves rows to their new Hive directory and
    the new files keep manifest partition summaries + column bounds,
    so the reader's two-level pruning works on updated tables.

    Returns the number of updated rows (0 = nothing matched, no
    commit)."""
    import builtins

    from pyspark.sql import functions as F

    table = IcebergTable(path)
    md = table.metadata()
    ice_schema = table._current_schema(md)
    schema = _to_spark_schema(ice_schema)
    names = [f.name for f in schema.fields]
    unknown = sorted(builtins.set(set) - builtins.set(names))
    if unknown:
        raise ValueError(
            f"iceberg update: SET references unknown columns "
            f"{unknown}")
    exprs = {c: (F.expr(e) if isinstance(e, str) else e)
             for c, e in set.items()}
    preds = list(where or [])
    _validate_preds(ice_schema, preds)
    live, files = _live_rows(spark, table, md, preds)
    if live is None:
        return 0
    part_info = _part_info(md, ice_schema)
    matched = live.persist()
    try:
        del_entries, n, refd = _stage_position_deletes(
            spark, path, _position_hits(spark, matched, files))
        if not del_entries:
            return 0
        updated = matched.select(
            *[(exprs[f.name].cast(f.dataType) if f.name in exprs
               else F.col(f"`{f.name}`")).alias(f.name)
              for f in schema.fields])
        data_entries = _stage_data_files(updated, path, part_info,
                                         ice_schema)
        _bound_entries(data_entries, ice_schema)
    finally:
        matched.unpersist()
    _retry_row_dml(table, data_entries, del_entries, part_info,
                   "overwrite", max_commit_attempts, "update",
                   referenced_paths=refd)
    return n


def merge_iceberg(spark: SparkSession, path: str, source: DataFrame,
                  on, when_matched_update: dict | None = None,
                  when_matched_delete=None,
                  when_not_matched_insert=True,
                  max_commit_attempts: int = 5) -> int | None:
    """MERGE INTO the Iceberg table USING ``source`` ON ``on`` (a SQL
    string or Column over the aliases ``t`` = target, ``s`` = source
    — qualify ambiguous names), with the same clause semantics as the
    Delta twin (:meth:`storage.delta.DeltaTable.merge`):

    - ``when_matched_update``: {target column: expression over t/s}
      rewrites every matched target row (merge-on-read: position
      deletes + new data files).
    - ``when_matched_delete``: a condition over t/s (or True for
      unconditional) — matched rows satisfying it are
      position-deleted; with an update clause present the delete
      condition wins and the update applies to the REMAINING matched
      rows.
    - ``when_not_matched_insert``: True inserts source rows as-is
      (the source must carry every table column), a dict maps
      {target column: expression over s} with unlisted columns null,
      False/None disables inserts.

    Multiple source rows matching one target row make the matched
    clauses ambiguous and raise (detected with one aggregation over
    the match pairs).  An insert-only merge commits as an ``append``
    snapshot (incremental append scans keep working); any matched
    clause commits as ``overwrite``.  Returns the committed snapshot
    id, or None when the merge is a no-op."""
    import builtins

    from pyspark.sql import functions as F

    if when_matched_delete is True and when_matched_update is not None:
        raise ValueError(
            "unconditional WHEN MATCHED DELETE together with an "
            "update clause leaves no rows to update — give the "
            "delete a condition")
    table = IcebergTable(path)
    md = table.metadata()
    ice_schema = table._current_schema(md)
    schema = _to_spark_schema(ice_schema)
    names = [f.name for f in schema.fields]
    part_info = _part_info(md, ice_schema)
    cond = F.expr(on) if isinstance(on, str) else on
    live, files = _live_rows(spark, table, md, [])
    if live is None:
        full = T.StructType(list(schema.fields) + [
            T.StructField("_ice_path", T.StringType()),
            T.StructField("_ice_pos", T.LongType())])
        live = spark.createDataFrame([], full)
    tgt = live.alias("t")
    src = source.alias("s")
    have_matched = (when_matched_update is not None
                    or when_matched_delete is not None)

    matched = None
    updated = None
    del_entries: list[dict] = []
    refd: set[str] = set()
    try:
        if have_matched:
            matched = tgt.join(src, cond, "inner").persist()
            dup = (matched
                   .groupBy(F.col("t.`_ice_path`"),
                            F.col("t.`_ice_pos`"))
                   .count().filter(F.col("count") > 1)
                   .limit(1).count())
            if dup:
                raise ValueError(
                    "MERGE: multiple source rows match the same "
                    "target row — the matched clauses are ambiguous "
                    "(dedupe the source on the join key)")
            if when_matched_delete is None:
                dcond = F.lit(False)
            elif when_matched_delete is True:
                dcond = F.lit(True)
            elif isinstance(when_matched_delete, str):
                dcond = F.expr(when_matched_delete)
            else:
                dcond = when_matched_delete
            # SQL MERGE clause semantics: NULL delete condition is
            # NOT a delete — eqNullSafe(True) so delete-set and
            # update-set partition the matched rows (same fix as the
            # Delta twin: plain filter(dcond)/filter(~dcond) both
            # drop NULL rows, silently losing them).
            dcond = dcond.eqNullSafe(F.lit(True))
            affected = (matched if when_matched_update is not None
                        else matched.filter(dcond))
            del_entries, _, refd = _stage_position_deletes(
                spark, path,
                _position_hits(
                    spark,
                    affected.select(
                        F.col("t.`_ice_path`").alias("_ice_path"),
                        F.col("t.`_ice_pos`").alias("_ice_pos")),
                    files))
            if when_matched_update is not None:
                upd_rows = (matched.filter(~dcond)
                            if when_matched_delete is not None
                            else matched)
                uex = {c: (F.expr(e) if isinstance(e, str) else e)
                       for c, e in when_matched_update.items()}
                unknown = sorted(builtins.set(uex)
                                 - builtins.set(names))
                if unknown:
                    raise ValueError(
                        f"MERGE update references unknown columns "
                        f"{unknown}")
                updated = upd_rows.select(
                    *[(uex[f.name].cast(f.dataType) if f.name in uex
                       else F.col(f"t.`{f.name}`")).alias(f.name)
                      for f in schema.fields])
        inserted = None
        if when_not_matched_insert:
            not_m = src.join(tgt, cond, "left_anti")
            if when_not_matched_insert is True:
                missing = [n for n in names
                           if n not in source.columns]
                if missing:
                    raise ValueError(
                        f"MERGE insert: source lacks table columns "
                        f"{missing} (pass a mapping dict to fill "
                        "them)")
                inserted = not_m.select(
                    *[F.col(f"`{f.name}`").cast(f.dataType)
                      .alias(f.name) for f in schema.fields])
            else:
                iex = {c: (F.expr(e) if isinstance(e, str) else e)
                       for c, e in when_not_matched_insert.items()}
                unknown = sorted(builtins.set(iex)
                                 - builtins.set(names))
                if unknown:
                    raise ValueError(
                        f"MERGE insert references unknown columns "
                        f"{unknown}")
                inserted = not_m.select(
                    *[(iex[f.name] if f.name in iex
                       else F.lit(None)).cast(f.dataType)
                      .alias(f.name) for f in schema.fields])
        new_rows = None
        for piece in (updated, inserted):
            if piece is None:
                continue
            new_rows = piece if new_rows is None \
                else new_rows.unionByName(piece)
        data_entries: list[dict] = []
        if new_rows is not None and not new_rows.isEmpty():
            data_entries = _stage_data_files(
                new_rows, path, part_info, ice_schema)
            _bound_entries(data_entries, ice_schema)
    finally:
        if matched is not None:
            matched.unpersist()
    if not del_entries and not data_entries:
        return None
    operation = "append" if not del_entries else "overwrite"
    return _retry_row_dml(table, data_entries, del_entries,
                          part_info, operation,
                          max_commit_attempts, "merge",
                          referenced_paths=refd)


# ------------------------------------------------------- maintenance


def compact_iceberg(spark: SparkSession, path: str,
                    max_commit_attempts: int = 5,
                    zorder_by: list[str] | None = None,
                    target_file_bytes: int = 256 << 20,
                    incremental: bool = False) -> int | None:
    """Rewrite the current snapshot into fresh, delete-free data files
    (Iceberg's ``rewrite_data_files`` maintenance op): one distributed
    read with position/equality deletes applied, one distributed
    re-stage, then a REPLACE snapshot whose manifest list holds ONLY
    the new manifest — old data files and delete files drop out of
    the current snapshot but stay reachable from prior snapshots
    until :func:`expire_snapshots` removes them.  No-op (returns
    None) when the table already is a single delete-free file; raises
    :class:`IcebergConcurrentCommit` if the table changed between the
    scan and the commit (a blind replace would drop the racer's
    rows).

    ``zorder_by`` turns the pass into a multi-dimensional CLUSTERING
    rewrite (rewrite_data_files sort-order with a Z-curve): the
    shared quantile-binned Morton machinery
    (:func:`.stats.zorder_cluster`) range-partitions the rewrite so each new
    data file covers a narrow hyper-rectangle, and the per-file
    lower/upper bounds written into the manifest make the reader's
    ``where=`` file pruning effective on EVERY clustered column.
    Partitioned specs cluster PER PARTITION VALUE (the Delta
    optimize shape): each partition's files quantile-bin and rewrite
    as their own group, so clustering tasks never mix partition
    values and bin boundaries adapt to each partition's own
    distribution.  A zorder rewrite always runs even when the table
    is a single delete-free file.

    ``incremental=True`` (with ``zorder_by``) rewrites ONLY the data
    files whose sequence number postdates the last snapshot that
    recorded the SAME zorder-by (the summary marker both zorder
    paths write): appended data clusters as its own run while the
    big clustered set is untouched — its manifests are rewritten
    schema-preservingly to drop the absorbed entries, delete
    manifests carry verbatim, and explicit per-entry sequence
    numbers keep merge-on-read ordering exact.  Falls back to the
    full clustering rewrite when no live marker survives (an
    intervening plain compaction invalidates clustering); returns
    None when nothing new arrived."""
    table = IcebergTable(path)
    md = table.metadata()
    snap = table._snapshot(md, None)
    if not snap:
        return None
    data_files, delete_files = table._data_files(snap)
    if len(data_files) <= 1 and not delete_files and not zorder_by:
        return None
    ice_schema = table._current_schema(md)
    part_info = _part_info(md, ice_schema)
    if incremental and not zorder_by:
        raise ValueError(
            "compact_iceberg: incremental=True needs zorder_by")
    rewritten: set[str] | None = None
    if zorder_by:
        import math

        type_of = {f.name: f.dataType
                   for f in _to_spark_schema(ice_schema).fields}
        bad = [c for c in zorder_by if c not in type_of]
        if bad:
            raise ValueError(
                f"compact_iceberg zorder_by columns {bad} not in "
                "the table schema")
        for c in zorder_by:
            zorder_proxy_sql(c, type_of[c])  # fail fast on types
        target = data_files
        if incremental:
            z = _last_zorder_snapshot(md, zorder_by)
            if z is not None:
                zseq = z.get("sequence-number") or 0
                target = [f for f in data_files
                          if (f.get("_seq") or 0) > zseq]
                if not target:
                    return None
                rewritten = {f["file_path"] for f in target}
        # per-partition clustering (the Delta optimize shape): each
        # partition value clusters and quantile-bins as its OWN
        # group — its files cover narrow hyper-rectangles within the
        # partition, and groups never mix partition values across
        # clustering tasks.  At 100 TB each group is its own
        # distributed job; the driver holds only file metadata.
        if part_info is not None:
            by_pv: dict = {}
            for f in target:
                pv = (f.get("partition") or {}).get(part_info.name)
                by_pv.setdefault(pv, []).append(f)
            groups = [fs for _, fs in
                      sorted(by_pv.items(), key=lambda kv: str(kv[0]))]
        else:
            groups = [target]
        staged = []
        for fs in groups:
            if rewritten is not None or part_info is not None:
                df = table._scan_planned(spark, fs, delete_files,
                                         md, [])
            else:
                df = table.read(spark)
            total = sum(int(f.get("file_size_in_bytes") or 0)
                        for f in fs)
            nparts = max(1, math.ceil(total / target_file_bytes))
            df = zorder_cluster(df, zorder_by, type_of, nparts)
            staged += _stage_data_files(df, path, part_info,
                                        ice_schema)
    else:
        df = table.read(spark)
        staged = _stage_data_files(df, path, part_info, ice_schema)
    _bound_entries(staged, ice_schema)
    for _ in range(max_commit_attempts):
        cur_md = table.metadata()
        cur = table._snapshot(cur_md, None)
        if cur.get("snapshot-id") != snap.get("snapshot-id"):
            raise IcebergConcurrentCommit(
                "iceberg compact: the table advanced since the "
                "compaction scanned it — rerun compact_iceberg")
        base_version = _version_of(table._metadata_path())
        try:
            if rewritten is not None:
                _commit_zorder_incremental(table, cur_md, staged,
                                           base_version, rewritten,
                                           zorder_by, part_info)
            else:
                _commit_append(
                    table, cur_md, staged, base_version,
                    part_info, carry=False, operation="replace",
                    extra_summary=(
                        {"zorder-by": json.dumps(zorder_by)}
                        if zorder_by else None))
            return table._snapshot(table.metadata(),
                                   None).get("snapshot-id")
        except IcebergConcurrentCommit:
            continue
    raise IcebergConcurrentCommit(
        f"iceberg compact: lost the commit race "
        f"{max_commit_attempts} times at {path!r}")


def _last_zorder_snapshot(md: dict, zorder_by: list[str]) -> dict | None:
    """Walk the CURRENT ancestry newest-first for the latest snapshot
    whose summary records the SAME zorder-by column list.  The walk
    stops at any intervening plain ``replace`` snapshot (a later
    un-clustered compaction rewrote the files and invalidated the
    clustering); appends/deletes/DML don't invalidate — their new
    files carry higher sequence numbers and become candidates."""
    want = json.dumps(zorder_by)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
    ordered = [s["snapshot-id"] for s in md.get("snapshots") or []]
    cur = snaps.get(md.get("current-snapshot-id"))
    while cur is not None:
        summ = cur.get("summary") or {}
        if summ.get("zorder-by") == want:
            return cur
        if summ.get("operation") == "replace":
            return None
        parent = cur.get("parent-snapshot-id")
        if parent is None:
            i = ordered.index(cur["snapshot-id"])
            parent = ordered[i - 1] if i > 0 else None
        cur = snaps.get(parent) if parent is not None else None
    return None


def _commit_zorder_incremental(table: IcebergTable, md: dict,
                               staged: list[dict],
                               base_version: int,
                               rewritten: set[str],
                               zorder_by: list[str],
                               part_info: "_PartField | None" = None
                               ) -> None:
    """One REPLACE snapshot for an incremental clustering pass: the
    new clustered manifest, every old DATA manifest rewritten to drop
    the absorbed entries (SCHEMA-PRESERVING — the old manifest's own
    Avro schema re-encodes the survivors, so foreign column stats are
    never lost — with EXPLICIT per-entry sequence numbers so ordering
    survives the move), untouched data manifests and all DELETE
    manifests carried verbatim."""
    from .iceberg import avro_read

    mdir = os.path.join(table.path, "metadata")
    snap_cur = table._snapshot(md, None)
    with open(_localize(snap_cur["manifest-list"]), "rb") as fh:
        _, lentries = avro_read(fh.read())
    seq = md.get("last-sequence-number", 0) + 1
    snap_id = max([s["snapshot-id"]
                   for s in md.get("snapshots", [])], default=0) + 1
    commit_uuid = uuid.uuid4().hex
    cleanup: list[str] = []

    if part_info is None or not staged:
        entry_schema = _MANIFEST_ENTRY_SCHEMA
        summaries = None
    else:
        entry_schema = _partitioned_entry_schema(part_info)
        enc = part_info.bound_encoder()
        vals = [f["partition"][part_info.name] for f in staged]
        summaries = [{"contains_null": False,
                      "lower_bound": enc(min(vals)),
                      "upper_bound": enc(max(vals))}]
    manifest = os.path.join(mdir, f"m-{commit_uuid}.avro")
    with open(manifest, "wb") as fh:
        fh.write(_avro_file(entry_schema,
                            [{"status": 1, "snapshot_id": snap_id,
                              "sequence_number": None,
                              "data_file": f} for f in staged]))
    cleanup.append(manifest)
    out = [{
        "manifest_path": manifest,
        "manifest_length": os.path.getsize(manifest),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(staged),
        "added_rows_count": sum(f["record_count"] for f in staged),
        "partitions": summaries,
    }]
    for m in lentries:
        carry = {k: m.get(k) for k in _MANIFEST_CARRY_KEYS}
        if m.get("content", 0) == 1:   # delete manifest: verbatim
            out.append(carry)
            continue
        mseq = m.get("sequence_number")
        with open(_localize(m["manifest_path"]), "rb") as fh:
            mschema, recs = avro_read(fh.read())
        live = [r for r in recs if r.get("status") != 2]
        hit = [r for r in live
               if r["data_file"]["file_path"] in rewritten]
        if not hit:
            out.append(carry)
            continue
        survivors = []
        for r in live:
            if r["data_file"]["file_path"] in rewritten:
                continue
            r = dict(r)
            r["status"] = 0  # EXISTING
            if r.get("sequence_number") is None:
                r["sequence_number"] = mseq
            if r.get("file_sequence_number") is None:
                r["file_sequence_number"] = mseq
            survivors.append(r)
        if not survivors:
            continue  # manifest fully absorbed by the rewrite
        new_m = os.path.join(
            mdir, f"m-{commit_uuid}-{len(out)}.avro")
        with open(new_m, "wb") as fh:
            fh.write(_avro_file(mschema, survivors))
        cleanup.append(new_m)
        carry["manifest_path"] = new_m
        carry["manifest_length"] = os.path.getsize(new_m)
        carry["added_files_count"] = 0
        carry["added_rows_count"] = 0
        # partition summaries copied from the old entry stay
        # conservative: dropping entries can only NARROW true bounds
        out.append(carry)

    mlist = os.path.join(mdir, f"snap-{snap_id}-{commit_uuid}.avro")
    with open(mlist, "wb") as fh:
        fh.write(_avro_file(_MANIFEST_FILE_SCHEMA, out))
    cleanup.append(mlist)

    now_ms = int(time.time() * 1000)
    new_md = dict(md)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now_ms
    snap = {
        "snapshot-id": snap_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": mlist,
        "summary": {
            "operation": "replace",
            "zorder-by": json.dumps(zorder_by),
            "added-data-files": str(len(staged)),
            "added-records": str(sum(f["record_count"]
                                     for f in staged)),
        },
    }
    prev_cur = md.get("current-snapshot-id")
    if prev_cur not in (None, -1):
        snap["parent-snapshot-id"] = prev_cur
    new_md["snapshots"] = md.get("snapshots", []) + [snap]
    new_md["current-snapshot-id"] = snap_id
    _cas_metadata(table, new_md, base_version,
                  cleanup=tuple(cleanup))


def compaction_stats(path: str) -> dict:
    """Bounded, manifest-only stats the compaction policy reads (no
    data-file access, no Spark job): live delete-file count and the
    estimated deleted-row ratio.  ``deleted_ratio`` is
    delete-file record_count over data-file record_count — exact for
    position deletes, a LOWER bound for equality deletes (one key
    row can kill many data rows), so a policy keyed on it compacts
    no later than the true ratio warrants for position deletes and
    conservatively for equality deletes; the delete-FILE count bound
    exists precisely to cap the per-read join count either way."""
    table = IcebergTable(path)
    md = table.metadata()
    snap = table._snapshot(md, None)
    if not snap:
        return {"delete_files": 0, "deleted_ratio": 0.0,
                "data_files": 0}
    data_files, delete_files = table._data_files(snap)
    data_rows = sum(int(f.get("record_count") or 0)
                    for f in data_files)
    del_rows = sum(int(f.get("record_count") or 0)
                   for f in delete_files)
    return {"delete_files": len(delete_files),
            "data_files": len(data_files),
            "deleted_ratio": (del_rows / data_rows
                              if data_rows else 0.0)}


def maybe_compact_iceberg(spark: SparkSession, path: str,
                          max_delete_files: int = 8,
                          max_deleted_ratio: float = 0.10,
                          max_commit_attempts: int = 5
                          ) -> int | None:
    """Threshold-policy compaction for merge-on-read tables (the
    cadence hook the CDC-upsert story needs: every equality-delete
    epoch adds one anti-join to every subsequent read until a
    compaction reclaims it — PERF.md's measured +0.59 s/epoch at
    1M rows).  Compacts via :func:`compact_iceberg` when the live
    snapshot exceeds EITHER bound:

    - ``max_delete_files``: caps the number of delete files (and so
      the per-read join count) regardless of table size;
    - ``max_deleted_ratio``: caps the fraction of masked rows (dead
      bytes scanned and filtered on every read).

    Returns the replace-snapshot id when it compacted, else None.
    The decision reads MANIFEST stats only (:func:`compaction_stats`
    — no data scan), so calling this every micro-batch from a
    ``foreachBatch`` sink costs microseconds until it triggers."""
    st = compaction_stats(path)
    if st["delete_files"] <= max_delete_files \
            and st["deleted_ratio"] <= max_deleted_ratio:
        return None
    return compact_iceberg(spark, path,
                           max_commit_attempts=max_commit_attempts)


def maybe_zorder_iceberg(spark: SparkSession, path: str,
                         zorder_by: list[str],
                         max_unclustered_bytes: int = 1 << 30,
                         max_unclustered_files: int = 16,
                         target_file_bytes: int = 256 << 20
                         ) -> int | None:
    """Threshold-policy INCREMENTAL Z-ORDER for Iceberg — the
    manifest-stats twin of :func:`maybe_optimize_delta`: fires
    :func:`compact_iceberg` with ``incremental=True`` when the data
    files whose sequence number postdates the last same-column
    zorder marker exceed EITHER debt bound.  The decision replays
    manifests only (entry sizes + sequence numbers; no parquet is
    opened), so a ``foreachBatch`` sink can call it every
    micro-batch.  No surviving marker counts the WHOLE table as
    debt (the first firing is the full clustering rewrite).
    Returns the replace-snapshot id when it clustered, else None."""
    table = IcebergTable(path)
    md = table.metadata()
    snap = table._snapshot(md, None)
    if not snap:
        return None
    data_files, _ = table._data_files(snap)
    if not data_files:
        return None
    z = _last_zorder_snapshot(md, zorder_by)
    if z is None:
        debt = data_files
    else:
        zseq = z.get("sequence-number") or 0
        debt = [f for f in data_files
                if (f.get("_seq") or 0) > zseq]
    if (len(debt) <= max_unclustered_files
            and sum(int(f.get("file_size_in_bytes") or 0)
                    for f in debt) <= max_unclustered_bytes):
        return None
    return compact_iceberg(spark, path, zorder_by=zorder_by,
                           target_file_bytes=target_file_bytes,
                           incremental=True)


def tag_iceberg(path: str, name: str,
                snapshot_id: int | None = None,
                ref_type: str = "tag") -> int:
    """Create or move a named snapshot ref (spec 'Snapshot
    References'): ``ref_type`` 'tag' pins a snapshot for keeps,
    'branch' marks a movable head.  Defaults to the current
    snapshot.  CAS metadata commit; returns the referenced snapshot
    id.  `read_iceberg(..., ref=name)` resolves it and
    :func:`expire_snapshots` protects it."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type {ref_type!r} (tag|branch)")
    table = IcebergTable(path)
    md = table.metadata()
    if snapshot_id is None:
        snapshot_id = md.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            raise ValueError("tag_iceberg: table has no snapshot")
    have = {s["snapshot-id"] for s in md.get("snapshots") or []}
    if snapshot_id not in have:
        raise ValueError(
            f"tag_iceberg: snapshot {snapshot_id} not in metadata")
    new_md = dict(md)
    refs = dict(md.get("refs") or {})
    refs[name] = {"snapshot-id": snapshot_id, "type": ref_type}
    new_md["refs"] = refs
    _cas_metadata(table, new_md, _version_of(table._metadata_path()),
                  cleanup=())
    return snapshot_id


def drop_ref_iceberg(path: str, name: str) -> None:
    """Remove a named snapshot ref (the snapshot itself survives
    until expiry)."""
    table = IcebergTable(path)
    md = table.metadata()
    refs = dict(md.get("refs") or {})
    if name not in refs:
        raise ValueError(
            f"drop_ref_iceberg: no ref {name!r} (have "
            f"{sorted(refs)})")
    del refs[name]
    new_md = dict(md)
    new_md["refs"] = refs
    _cas_metadata(table, new_md, _version_of(table._metadata_path()),
                  cleanup=())


def expire_snapshots(path: str, keep_last: int = 1) -> list[str]:
    """Expire all but the ``keep_last`` most recent snapshots (the
    current snapshot always survives) and physically delete every
    manifest-list/manifest/data/delete file ONLY the expired
    snapshots can reach — the counterpart of Delta's VACUUM.  The
    pruned metadata commits CAS-style FIRST; file deletion follows
    (a crash leaves orphans, never a broken table).  Files outside
    the table root are never touched.  Returns the deleted paths.
    Time travel to expired snapshots stops working — the documented
    trade-off of snapshot expiry."""
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    from .iceberg import avro_read

    table = IcebergTable(path)
    md = table.metadata()
    snaps = md.get("snapshots") or []
    cur = md.get("current-snapshot-id", -1)
    order = sorted(snaps, key=lambda s: (s.get("sequence-number", 0),
                                         s.get("snapshot-id", 0)))
    keep_ids = {cur} | {s["snapshot-id"] for s in order[-keep_last:]}
    # named refs (tags/branches) pin their snapshots — expiring a
    # tagged snapshot would break the ref's contract
    keep_ids |= {r["snapshot-id"]
                 for r in (md.get("refs") or {}).values()}
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return []
    kept = [s for s in snaps if s["snapshot-id"] in keep_ids]

    def reach(group: list[dict]) -> set[str]:
        out: set[str] = set()
        for s in group:
            ml = s.get("manifest-list")
            if not ml:
                continue
            mlp = os.path.abspath(_localize(ml))
            if not os.path.exists(mlp):
                continue
            out.add(mlp)
            with open(mlp, "rb") as fh:
                _, manifests = avro_read(fh.read())
            for m in manifests:
                mp = os.path.abspath(_localize(m["manifest_path"]))
                if not os.path.exists(mp):
                    continue
                out.add(mp)
                with open(mp, "rb") as fh:
                    _, recs = avro_read(fh.read())
                for r in recs:
                    fp = (r.get("data_file") or {}).get("file_path")
                    if fp:
                        out.add(os.path.abspath(_localize(fp)))
        return out

    keep_reach = reach(kept)
    dead = reach(expired) - keep_reach
    new_md = dict(md)
    new_md["snapshots"] = kept
    if "snapshot-log" in new_md:
        new_md["snapshot-log"] = [
            e for e in new_md["snapshot-log"]
            if e.get("snapshot-id") in keep_ids]
    base_version = _version_of(table._metadata_path())
    _cas_metadata(table, new_md, base_version)
    root = os.path.abspath(path) + os.sep
    deleted: list[str] = []
    for p in sorted(dead):
        if not p.startswith(root):
            continue  # never delete outside the table
        try:
            os.remove(p)
            deleted.append(p)
        except OSError:
            pass
    return deleted
