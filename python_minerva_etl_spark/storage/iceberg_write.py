"""Iceberg v2 append path — minimal, spec-conformant table writes.

Mirrors the Delta writer's conformance discipline
(``storage/delta.py``): data files are staged by a distributed Spark
parquet write and renamed into ``data/``, metadata is committed
CAS-style (put-if-absent on the next ``v<N>.metadata.json`` — two
racing writers can never both win a version; the protocol is
:mod:`.commit`), and every byte of Avro written here follows the
published specs:

- Avro 1.11 object container files for manifests and manifest
  lists, written by ``avro_file.py`` (one null-codec block each);
- Iceberg Table Spec v2 (https://iceberg.apache.org/spec/) for the
  manifest entry / manifest-file shapes, single-value binary bound
  serialization (int 4-byte LE, long/double 8-byte LE, string UTF-8),
  snapshot + metadata JSON fields.

Scope (documented in COVERAGE.md): create + append (unpartitioned or
ONE partition field, with manifest partition summaries),
add-column evolution, overwrite, merge-on-read DELETE / UPDATE /
MERGE and equality deletes, compaction and Z-order clustering, refs
and snapshot expiry; spec mismatches refuse loudly.  Every snapshot
commits through :func:`_commit`.  Bounds are written for top-level
int/long/float/double/string/date/timestamp columns so our own
reader's scan planning (``iceberg.py:_file_may_match``) can prune
the files this writer produces.

No reference implementation is copied: ``/root/reference`` ships no
code; this module is written against the public specs above.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .avro_file import _avro_file, avro_read
from .commit import (_localize, commit_attempts, hive_segment,
                     publish_if_absent, remove_files, replace_atomic,
                     stage_parquet)
from .dml import plan_merge, set_projection
from .iceberg import IcebergTable, _parent_id, _to_spark_schema
from .stats import (DAY, US, epoch, footer_bounds, zorder_cluster,
                    zorder_proxy_sql)


class IcebergConcurrentCommit(FileExistsError):
    """Another writer committed the same metadata version first."""


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
    part file to ``data/[<field>=<val>/]<uuid>.parquet`` (the
    value percent-encoded by :func:`.commit.hive_segment`).  Returns
    manifest ``data_file`` dicts (path, size, row count from the
    footer, and the typed partition value when partitioned).

    Partitioned staging derives the partition VALUE (identity copy
    or the spec transform — day/hour/month/year/bucket/truncate)
    under a temp name for ``partitionBy`` — Spark's Hive layout
    drops the partitioning column from the files, but Iceberg data
    files must carry every schema column."""
    import pyarrow.parquet as pq

    data_dir = os.path.join(table_path, "data")

    def value(values: dict):
        if values["__part"] is None:
            raise ValueError(
                f"iceberg append: null value in partition source "
                f"column {part.source!r}")
        return part.parse_dir_value(values["__part"])

    def place(_rel_dir: str, values: dict) -> str:
        sub = [] if part is None else [hive_segment(
            part.name, str(value(values)))]
        return os.path.join(data_dir, *sub, f"{uuid.uuid4().hex}.parquet")

    if part is not None:
        df = df.withColumn("__part",
                           part.expr(df.schema[part.source].dataType))
    out = []
    for final, values in stage_parquet(
            df, table_path, [] if part is None else ["__part"], place):
        entry = {
            "content": 0,
            "file_path": final,
            "file_format": "PARQUET",
            "record_count": pq.ParquetFile(final).metadata.num_rows,
            "file_size_in_bytes": os.path.getsize(final),
        }
        if part is not None:
            entry["partition"] = {part.name: value(values)}
        out.append(entry)
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
    read the current version, publish ``v<N+1>.metadata.json``
    put-if-absent, and on :class:`IcebergConcurrentCommit` re-read and
    retry with the already-staged files (:mod:`.commit`; the Iceberg
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
    _commit(IcebergTable(path), "append", data=data_files, part=part,
            create=ice_schema, evolve=df.schema if merge_schema else None)


def overwrite_iceberg(spark: SparkSession, df: DataFrame, path: str,
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
    if not _has_metadata(path):
        write_iceberg(spark, df, path, partition_by=partition_by)
        return
    ice_schema, part = _precheck_append(path, df.schema, partition_by)
    data_files = _stage_data_files(df, path, part, ice_schema)
    _bound_entries(data_files, ice_schema)
    _commit(IcebergTable(path), "overwrite", data=data_files, part=part,
            rewritten=True)


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
    os.makedirs(os.path.join(path, "metadata"), exist_ok=True)
    if _has_metadata(path):
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


def _has_metadata(path: str) -> bool:
    mdir = os.path.join(path, "metadata")
    return os.path.isdir(mdir) and any(
        n.endswith(".metadata.json") for n in os.listdir(mdir))


def _new_metadata(path: str, ice_schema: dict,
                  part: "_PartField | None") -> dict:
    """The snapshot-less metadata an append that creates the table
    commits on top of, with ``part`` as the default spec."""
    return {
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


def _commit(table: IcebergTable, operation: str, *,
            data: list[dict] = (),
            deletes: list[dict] | None = None,
            part: "_PartField | None" = None,
            rewritten: "bool | set[str]" = False,
            summary: dict | None = None,
            conflict=None,
            create: dict | None = None,
            evolve: T.StructType | None = None) -> int:
    """Commit ONE snapshot adding the staged ``data`` files (and, for
    row-level DML, the staged ``deletes``; an empty list still reports
    delete counts in the summary) and return its id.  Every Iceberg
    writer commits here.  Staged files are immutable and uniquely
    named, so a retry never rewrites them.  Each attempt:

    1. re-reads the metadata (:func:`_read_base`).  Only an append
       passes ``create`` (its table schema), which gives a missing
       table its first metadata;
    2. runs the operation's conflict rule: ``conflict(md)`` raises
       :class:`IcebergConcurrentCommit` when the staged work is stale,
       and a ``merge_schema`` append re-derives its evolved schema
       from ``evolve`` (the batch schema) against the schema just
       read, since a racer may have evolved the table first;
    3. writes a data manifest (unless the commit adds only deletes)
       and a delete manifest (when ``deletes``), whose entries inherit
       the new sequence number (:func:`_write_manifest`);
    4. carries the current snapshot's manifests (:func:`_carried`);
    5. publishes the snapshot with its parent id and summary
       (``operation``, the added counts, then ``summary``) by CAS.  A
       lost race removes the files this attempt wrote.

    A refused or exhausted commit removes the staged files too:
    nothing references them."""
    mdir = os.path.join(table.path, "metadata")
    written: list[str] = []

    def write(name: str, schema: dict, records: list) -> str:
        path = os.path.join(mdir, name)
        with open(path, "wb") as fh:
            fh.write(_avro_file(schema, records))
        written.append(path)
        return path

    try:
        for _ in commit_attempts(table.path, IcebergConcurrentCommit):
            patch = None
            if create is not None and not _has_metadata(table.path):
                base_version = 0
                md = _new_metadata(table.path, create, part)
            else:
                base_version, md = _read_base(table)
                if conflict is not None:
                    conflict(md)
                if evolve is not None:
                    cur = table._current_schema(md)
                    evolved = _evolve_schema(cur, evolve)
                    patch = None if evolved is cur else evolved
            seq = md.get("last-sequence-number", 0) + 1
            snap_id = max([s["snapshot-id"]
                           for s in md.get("snapshots", [])],
                          default=0) + 1
            tag = uuid.uuid4().hex
            written.clear()
            manifests = []
            if data or not deletes:
                manifests.append(_write_manifest(
                    write, f"m-{tag}.avro", 0, data, part, snap_id, seq))
            if deletes:
                manifests.append(_write_manifest(
                    write, f"dm-{tag}.avro", 1, deletes, None, snap_id,
                    seq))
            manifests += _carried(table, md, rewritten, write,
                                  f"m-{tag}", len(manifests))
            mlist = write(f"snap-{snap_id}-{tag}.avro",
                          _MANIFEST_FILE_SCHEMA, manifests)

            now_ms = int(time.time() * 1000)
            new_md = dict(md)
            new_md["last-sequence-number"] = seq
            new_md["last-updated-ms"] = now_ms
            if patch is not None:
                sid = max([s.get("schema-id", 0)
                           for s in md.get("schemas", [])], default=0) + 1
                new_md["schemas"] = md.get("schemas", []) + [
                    dict(patch, **{"schema-id": sid})]
                new_md["current-schema-id"] = sid
                new_md["last-column-id"] = _last_column_id(patch)
            # summary metric values are STRINGS per the spec
            counts = {"operation": operation,
                      "added-data-files": str(len(data)),
                      "added-records": str(sum(f["record_count"]
                                               for f in data))}
            if deletes is not None:
                counts["added-delete-files"] = str(len(deletes))
                for content, key in ((1, "added-position-deletes"),
                                     (2, "added-equality-deletes")):
                    counts[key] = str(sum(f["record_count"]
                                          for f in deletes
                                          if f["content"] == content))
            snap = {"snapshot-id": snap_id, "sequence-number": seq,
                    "timestamp-ms": now_ms, "manifest-list": mlist,
                    "summary": {**counts, **(summary or {})}}
            if md.get("current-snapshot-id") not in (None, -1):
                # ancestry chain: incremental scans walk parent ids
                snap["parent-snapshot-id"] = md["current-snapshot-id"]
            new_md["snapshots"] = md.get("snapshots", []) + [snap]
            new_md["current-snapshot-id"] = snap_id
            try:
                _cas_metadata(table, new_md, base_version)
                return snap_id
            except IcebergConcurrentCommit:
                remove_files(written)
    except IcebergConcurrentCommit:
        remove_files(f["file_path"] for f in [*data, *(deletes or ())])
        raise


def _write_manifest(write, name: str, content: int, files: list[dict],
                    part: "_PartField | None", snap_id: int,
                    seq: int) -> dict:
    """Write ``files`` as one manifest (``content`` 0 = data, 1 =
    deletes) whose entries inherit ``seq``, and return its
    manifest-list entry.  A partitioned data manifest records each
    file's partition value and one partition summary, the bounds the
    reader's manifest-level pruning reads."""
    schema, summaries = _MANIFEST_ENTRY_SCHEMA, None
    if part is not None and files:
        schema = _partitioned_entry_schema(part)
        enc = part.bound_encoder()
        vals = [f["partition"][part.name] for f in files]
        summaries = [{"contains_null": False,
                      "lower_bound": enc(min(vals)),
                      "upper_bound": enc(max(vals))}]
    path = write(name, schema, [
        {"status": 1, "snapshot_id": snap_id,
         "sequence_number": None,  # inherited = commit seq
         "data_file": f} for f in files])
    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": 0,
        "content": content,
        "sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(files),
        "added_rows_count": sum(f["record_count"] for f in files),
        "partitions": summaries,
    }


def _carried(table: IcebergTable, md: dict, rewritten: "bool | set[str]",
             write, stem: str, first: int) -> list[dict]:
    """The current snapshot's manifest-list entries a commit keeps
    (:data:`_MANIFEST_CARRY_KEYS`): all of them (``rewritten=False``),
    none (``True``), or, for a set of rewritten data-file paths, every
    delete manifest verbatim and every data manifest minus those
    files.  A data manifest that loses entries is rewritten as
    ``<stem>-<n>.avro`` (``n`` counts from ``first``) with its OWN
    Avro schema, so foreign column stats survive; its survivors turn
    EXISTING with explicit sequence numbers, so ordering survives the
    move.  One that loses every entry drops out."""
    snap = table._snapshot(md, None)
    if rewritten is True or not snap.get("manifest-list"):
        return []
    with open(_localize(snap["manifest-list"]), "rb") as fh:
        _, listed = avro_read(fh.read())
    out = []
    for m in listed:
        keep = {k: m.get(k) for k in _MANIFEST_CARRY_KEYS}
        if rewritten and m.get("content", 0) != 1:
            with open(_localize(m["manifest_path"]), "rb") as fh:
                meta, recs = avro_read(fh.read())
            live = [r for r in recs if r.get("status") != 2]
            survivors = [dict(r, status=0)  # EXISTING
                         for r in live
                         if r["data_file"]["file_path"] not in rewritten]
            if len(survivors) < len(live):
                if not survivors:
                    continue
                for r in survivors:
                    for k in ("sequence_number", "file_sequence_number"):
                        if r.get(k) is None:
                            r[k] = m.get("sequence_number")
                keep["manifest_path"] = write(
                    f"{stem}-{first + len(out)}.avro",
                    json.loads(meta["avro.schema"]), survivors)
                keep["manifest_length"] = os.path.getsize(
                    keep["manifest_path"])
                keep["added_files_count"] = 0
                keep["added_rows_count"] = 0
                # the old partition summaries stay conservative:
                # dropping entries can only narrow the true bounds
        out.append(keep)
    return out


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


def _read_base(table: IcebergTable) -> tuple[int, dict]:
    """The current metadata version and the metadata a commit builds
    on, the version read first: a racer landing between the two reads
    then makes the CAS above that version lose, where the other order
    would pair the racer's version with stale metadata and drop the
    racer's snapshot."""
    base_version = _version_of(table._metadata_path())
    return base_version, table.metadata()


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


def _cas_metadata(table: IcebergTable, new_md: dict,
                  base_version: int) -> None:
    """Commit ``new_md`` as ``v<base_version+1>.metadata.json`` via
    :func:`.commit.publish_if_absent` (two racers can never both win
    the version) and refresh ``version-hint.text``.  A lost race
    raises :class:`IcebergConcurrentCommit`.  The CAS target is
    ALWAYS base_version + 1: deriving it from the directory at commit
    time would let a writer holding stale metadata commit a higher
    version that silently drops a racer's snapshot."""
    mdir = os.path.join(table.path, "metadata")
    next_v = base_version + 1
    if not publish_if_absent(
            os.path.join(mdir, f"v{next_v}.metadata.json"),
            json.dumps(new_md)):
        raise IcebergConcurrentCommit(
            f"concurrent Iceberg commit at version {next_v}")
    replace_atomic(os.path.join(mdir, "version-hint.text"), str(next_v))


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
#   _deletes_still_apply    the conflict rule :func:`_commit` runs
#                           before each attempt; the commit itself
#                           is the one every writer makes: a content=0
#                           data manifest and/or a content=1 delete
#                           manifest plus every previous manifest


def _live_rows(spark: SparkSession, plan
               ) -> tuple[DataFrame | None, list[dict]]:
    """The rows of ``plan`` (:meth:`IcebergTable._read_plan`, whose
    predicates prune manifests and files exactly as for
    :meth:`IcebergTable.read` and re-apply as residual filters) with
    position AND equality deletes applied (so DML can never touch —
    or worse, resurrect — an already-deleted row), plus two extra
    columns per row: ``_ice_path`` (normalized data-file path) and
    ``_ice_pos`` (0-based parquet row ordinal from
    ``_metadata.row_index``).  Returns ``(None, [])`` when no live
    data file can match."""
    files, delete_files = plan.files()
    if not files:
        return None, []
    return plan.table._scan_planned(spark, files, delete_files, plan.md,
                                    plan.preds, keep_pos=True), files


def _position_hits(spark: SparkSession, rows: DataFrame,
                   files: list[dict]) -> DataFrame:
    """``(file_path, pos)`` pairs for ``rows`` (which carry
    ``_ice_path``/``_ice_pos``), with ``file_path`` restored to
    EXACTLY the form the data manifests use — mapped back from the
    normalized filesystem form via a broadcast lookup — so any spec
    reader matches the delete entries."""
    from pyspark.sql import functions as F

    mapping = [(_localize(f["file_path"]), f["file_path"])
               for f in files]
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
    import pyarrow.parquet as pq

    del_entries: list[dict] = []
    n_deleted = 0
    referenced: set[str] = set()
    for final, nrows in _stage_deletes(
            hits.sortWithinPartitions("file_path", "pos"), path, "del"):
        # the distinct data files this delete file addresses (one
        # dictionary-encoded column read per staged part, driver-side
        # but bounded by the DML's own output) — _deletes_still_apply
        # validates them against the refreshed snapshot before every
        # commit attempt so a concurrent compact/overwrite can't
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
    return del_entries, n_deleted, referenced


def _stage_deletes(df: DataFrame, path: str,
                   prefix: str) -> list[tuple[str, int]]:
    """Stage ``df`` as ``data/<prefix>-<uuid>.parquet`` delete files;
    ``(path, row count)`` per file, zero-row files removed."""
    import pyarrow.parquet as pq

    out = []
    for final, _ in stage_parquet(
            df, path, [], lambda _r, _v: os.path.join(
                path, "data", f"{prefix}-{uuid.uuid4().hex}.parquet")):
        nrows = pq.ParquetFile(final).metadata.num_rows
        if nrows:
            out.append((final, nrows))
        else:
            os.remove(final)
    return out


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


def _deletes_still_apply(table: IcebergTable, referenced: set[str],
                         verb: str):
    """Row-level DML's conflict rule, run before EVERY commit attempt
    (the first included: a race that landed between the DML's scan
    and its first commit counts too): the data files the staged
    position deletes address (``referenced``) must still be live.  A
    concurrent ``compact_iceberg``/overwrite replaces them, and
    committing the stale deletes would silently resurrect the
    deleted or updated rows.  None when no position delete addresses
    a file."""
    if not referenced:
        return None

    def rule(md: dict) -> None:
        cur_files, _ = table._data_files(table._snapshot(md, None))
        gone = referenced - {f["file_path"] for f in cur_files}
        if gone:
            raise IcebergConcurrentCommit(
                f"iceberg {verb}: a concurrent commit rewrote "
                f"{len(gone)} data file(s) this DML's position "
                f"deletes address (e.g. {sorted(gone)[0]!r}) — "
                f"the staged deletes are stale; rerun the DML "
                f"against the new snapshot")
    return rule


def delete_iceberg(spark: SparkSession, path: str,
                   where: list[tuple],
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
    plan = table._read_plan(where=where)
    if equality:
        bad = [p for p in where if p[1] != "="]
        if bad:
            raise ValueError(
                f"iceberg delete: equality=True needs '=' predicates "
                f"only, got {bad}")
        spark_schema = _to_spark_schema(plan.ice_schema)
        by_name = {f.name: f.dataType for f in spark_schema.fields}
        keys = spark.createDataFrame(
            [tuple(lit for _c, _op, lit in where)],
            T.StructType([T.StructField(c, by_name[c])
                          for c, _op, _lit in where]))
        equality_delete_iceberg(spark, path, keys)
        return 1
    live, files = _live_rows(spark, plan)
    if live is None:
        return 0
    del_entries, n_deleted, refd = _stage_position_deletes(
        spark, path, _position_hits(spark, live, files))
    if not del_entries:
        return 0
    _commit(table, "delete", deletes=del_entries,
            conflict=_deletes_still_apply(table, refd, "delete"))
    return n_deleted


def equality_delete_iceberg(spark: SparkSession, path: str,
                            keys: DataFrame) -> int:
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
    del_entries: list[dict] = []
    for final, nrows in _stage_deletes(cast, path, "eqdel"):
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
    if not del_entries:
        raise ValueError("iceberg equality delete: empty key set")
    return _commit(table, "delete", deletes=del_entries)


def update_iceberg(spark: SparkSession, path: str, set: dict,
                   where: list[tuple] | None = None) -> int:
    """Merge-on-read UPDATE ... SET: rows matching ``where`` are
    masked out of their files via position deletes and the rewritten
    rows (the ``set`` expressions — {column: Column or SQL string},
    evaluated against the OLD row, see
    :func:`storage.dml.set_projection`) land in NEW data files,
    committed together as ONE ``overwrite`` snapshot — no full file is
    rewritten and unmatched rows are never copied.  Updating
    the partition column moves rows to their new Hive directory and
    the new files keep manifest partition summaries + column bounds,
    so the reader's two-level pruning works on updated tables.

    Returns the number of updated rows (0 = nothing matched, no
    commit)."""
    table = IcebergTable(path)
    plan = table._read_plan(where=where)
    ice_schema = plan.ice_schema
    projection = set_projection(_to_spark_schema(ice_schema), set,
                                "iceberg update: SET")
    live, files = _live_rows(spark, plan)
    if live is None:
        return 0
    part_info = _part_info(plan.md, ice_schema)
    matched = live.persist()
    del_entries, data_entries = [], []
    try:
        updated = matched.select(*projection)
        del_entries, n, refd = _stage_position_deletes(
            spark, path, _position_hits(spark, matched, files))
        if not del_entries:
            return 0
        data_entries = _stage_data_files(updated, path, part_info,
                                         ice_schema)
        _bound_entries(data_entries, ice_schema)
    except BaseException:
        # nothing is committed yet: drop what was staged
        remove_files(e["file_path"] for e in del_entries + data_entries)
        raise
    finally:
        matched.unpersist()
    _commit(table, "overwrite", data=data_entries, deletes=del_entries,
            part=part_info,
            conflict=_deletes_still_apply(table, refd, "update"))
    return n


def merge_iceberg(spark: SparkSession, path: str, source: DataFrame,
                  on, when_matched_update: dict | None = None,
                  when_matched_delete=None,
                  when_not_matched_insert=True) -> int | None:
    """MERGE INTO the Iceberg table USING ``source`` ON ``on``, with
    the clauses :func:`storage.dml.plan_merge` defines (``t`` =
    target, ``s`` = source).  Merge-on-read: matched rows are
    position-deleted and the updated and inserted rows land in new
    data files.  An insert-only merge commits as an ``append``
    snapshot (incremental append scans keep working); any matched
    clause commits as ``overwrite``.  Returns the committed snapshot
    id, or None when the merge is a no-op."""
    table = IcebergTable(path)
    plan = table._read_plan()
    ice_schema = plan.ice_schema
    schema = _to_spark_schema(ice_schema)
    part_info = _part_info(plan.md, ice_schema)
    live, files = _live_rows(spark, plan)
    if live is None:
        full = T.StructType(list(schema.fields) + [
            T.StructField("_ice_path", T.StringType()),
            T.StructField("_ice_pos", T.LongType())])
        live = spark.createDataFrame([], full)
    del_entries: list[dict] = []
    refd: set[str] = set()
    data_entries: list[dict] = []
    try:
        with plan_merge(live, source, on, schema,
                        ("_ice_path", "_ice_pos"), when_matched_update,
                        when_matched_delete,
                        when_not_matched_insert) as plan:
            if plan.positions is not None:
                del_entries, _, refd = _stage_position_deletes(
                    spark, path,
                    _position_hits(spark, plan.positions, files))
            new_rows = plan.new_rows
            if new_rows is not None and not new_rows.isEmpty():
                data_entries = _stage_data_files(
                    new_rows, path, part_info, ice_schema)
                _bound_entries(data_entries, ice_schema)
    except BaseException:
        # nothing is committed yet: drop what was staged
        remove_files(e["file_path"] for e in del_entries + data_entries)
        raise
    if not del_entries and not data_entries:
        return None
    return _commit(table, "overwrite" if del_entries else "append",
                   data=data_entries, deletes=del_entries,
                   part=part_info,
                   conflict=_deletes_still_apply(table, refd, "merge"))


# ------------------------------------------------------- maintenance


def compact_iceberg(spark: SparkSession, path: str,
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
    rewritten: bool | set[str] = True
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
            debt = _unclustered(md, data_files, zorder_by)
            if debt is not None:
                if not debt:
                    return None
                target = debt
                rewritten = {f["file_path"] for f in debt}
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
            if rewritten is not True or part_info is not None:
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
    return _commit(
        table, "replace", data=staged, part=part_info, rewritten=rewritten,
        summary={"zorder-by": json.dumps(zorder_by)} if zorder_by else None,
        conflict=_unchanged_since(snap["snapshot-id"]))


def _unchanged_since(snapshot_id: int):
    """Compaction's conflict rule: refuse once the table advanced past
    the snapshot the rewrite scanned (a blind replace would drop the
    racer's rows)."""
    def rule(md: dict) -> None:
        if md.get("current-snapshot-id") != snapshot_id:
            raise IcebergConcurrentCommit(
                "iceberg compact: the table advanced since the "
                "compaction scanned it — rerun compact_iceberg")
    return rule


def _unclustered(md: dict, data_files: list[dict],
                 zorder_by: list[str]) -> list[dict] | None:
    """The Z-order debt: the live ``data_files`` whose sequence number
    postdates the latest snapshot in the CURRENT ancestry whose
    summary records the SAME zorder-by column list (the marker both
    Z-order paths write).  None when no marker survives: the walk
    stops at an intervening plain ``replace`` snapshot (an
    un-clustered compaction rewrote the files and invalidated the
    clustering), so every file is debt and a rewrite must be full.
    Appends, deletes and DML don't invalidate: their new files carry
    higher sequence numbers and become debt."""
    want = json.dumps(zorder_by)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
    ordered = list(snaps)
    cur = snaps.get(md.get("current-snapshot-id"))
    while cur is not None:
        summ = cur.get("summary") or {}
        if summ.get("zorder-by") == want:
            zseq = cur.get("sequence-number") or 0
            return [f for f in data_files if (f.get("_seq") or 0) > zseq]
        if summ.get("operation") == "replace":
            return None
        cur = snaps.get(_parent_id(cur, ordered))
    return None


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
                          max_deleted_ratio: float = 0.10
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
    return compact_iceberg(spark, path)


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
    debt = _unclustered(md, data_files, zorder_by)
    if debt is None:
        debt = data_files
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
    base_version, md = _read_base(table)
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
    _cas_metadata(table, new_md, base_version)
    return snapshot_id


def drop_ref_iceberg(path: str, name: str) -> None:
    """Remove a named snapshot ref (the snapshot itself survives
    until expiry)."""
    table = IcebergTable(path)
    base_version, md = _read_base(table)
    refs = dict(md.get("refs") or {})
    if name not in refs:
        raise ValueError(
            f"drop_ref_iceberg: no ref {name!r} (have "
            f"{sorted(refs)})")
    del refs[name]
    new_md = dict(md)
    new_md["refs"] = refs
    _cas_metadata(table, new_md, base_version)


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

    table = IcebergTable(path)
    base_version, md = _read_base(table)
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
