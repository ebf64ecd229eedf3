"""Avro object-container files as a Spark source — no spark-avro jar.

Built on the same from-scratch Avro 1.11 container code as the
Iceberg manifests (``storage/avro_file.py``: header, sync-delimited
blocks, codecs, datum decode and encode).  The read is
DISTRIBUTED and SPLITTABLE: the driver touches only the FIRST file's
header (to derive the Spark schema); decoding runs as ``mapInPandas``
tasks over BYTE-RANGE SPLITS aligned on the container's 16-byte sync
markers (default 128 MiB per split), so one multi-GB file decodes
across many executors, blocks are streamed (never ``fh.read()`` of a
whole file), and per-task memory is bounded by the Arrow-batch flush
target — at 100 TB the bytes never pass through the driver, and no
single file is a straggler or a memory cliff.  Every task re-checks
its file's embedded writer schema against the driver's and raises on
drift (mixed-schema directories must fail loudly, not coerce).

Schema scope (raise otherwise — never silently misread):

- top-level ``record``; fields of primitives, ``record`` (nested),
  ``array``, ``map`` (string keys, per Avro), ``enum`` (→ string),
  ``fixed`` (→ binary);
- unions ONLY of the ``["null", X]`` nullable form;
- logical types: ``decimal`` (bytes/fixed → DecimalType),
  ``date`` (int days → DateType), ``timestamp-micros`` /
  ``timestamp-millis`` (long → TimestampType, UTC).

One vectorized block decoder (parity-locked in
``tests/test_avro_vector.py``) covers flat records of scalars,
strings/bytes, floats and ``["null", X]`` unions: a structure scan
finds each field's payload starts, then one per-kind extraction
decodes the kept columns.  The plan's shape picks the scan: when
every field is a non-null varint kind, numpy finds the starts (the
16x all-varint path); otherwise a lean Python offsets scan does
(4-5x on narrow rows, ~100 MB/s/worker on wide text; PERF.md).
Everything else (nesting, decimal, multi-branch unions) decodes
sequentially.

Registered as source plugin ``avro`` (``sources/plugins.py``).
"""

from __future__ import annotations

import datetime
import decimal
import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..storage.avro_file import (CODECS, _avro_encode, _Cursor, _decode,
                                 _header_codec, _read_header,
                                 _split_blocks, write_container)

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)

_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def _field_type(schema) -> tuple[T.DataType, bool]:
    """(spark type, nullable) for one Avro field schema."""
    if isinstance(schema, list):
        branches = [s for s in schema if s != "null"]
        if "null" not in schema or len(branches) != 1:
            raise ValueError(
                f"avro: only ['null', X] unions supported, got {schema}")
        t, _ = _field_type(branches[0])
        return t, True
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return _PRIMITIVES[schema], False
        raise ValueError(f"avro: unsupported type {schema!r}")
    lt = schema.get("logicalType")
    base = schema["type"]
    if lt == "decimal":
        return T.DecimalType(schema["precision"],
                             schema.get("scale", 0)), False
    if lt == "date" and base == "int":
        return T.DateType(), False
    if lt in ("timestamp-micros", "timestamp-millis") and base == "long":
        return T.TimestampType(), False
    if base == "record":
        return _record_type(schema), False
    if base == "array":
        t, n = _field_type(schema["items"])
        return T.ArrayType(t, n), False
    if base == "map":
        t, n = _field_type(schema["values"])
        return T.MapType(T.StringType(), t, n), False
    if base == "enum":
        return T.StringType(), False
    if base == "fixed":
        return T.BinaryType(), False
    if base in _PRIMITIVES:
        return _PRIMITIVES[base], False  # {"type": "long"} wrapper
    raise ValueError(f"avro: unsupported type {base!r}")


def _record_type(schema: dict) -> T.StructType:
    fields = []
    for f in schema["fields"]:
        dtype, nullable = _field_type(f["type"])
        fields.append(T.StructField(f["name"], dtype, nullable))
    return T.StructType(fields)


def _convert(value, schema):
    """Decoded Avro datum → the Python value Spark expects for the
    converted type (logical-type reinterpretation + nested walk)."""
    if value is None:
        return None
    if isinstance(schema, list):
        branch = next(s for s in schema if s != "null")
        return _convert(value, branch)
    if isinstance(schema, str):
        return value
    lt = schema.get("logicalType")
    base = schema["type"]
    if lt == "decimal":
        unscaled = int.from_bytes(value, "big", signed=True)
        return decimal.Decimal(unscaled).scaleb(-schema.get("scale", 0))
    if lt == "date" and base == "int":
        return _EPOCH_DATE + datetime.timedelta(days=value)
    if lt == "timestamp-micros" and base == "long":
        return _EPOCH_TS + datetime.timedelta(microseconds=value)
    if lt == "timestamp-millis" and base == "long":
        return _EPOCH_TS + datetime.timedelta(milliseconds=value)
    if base == "record":
        return {f["name"]: _convert(value.get(f["name"]), f["type"])
                for f in schema["fields"]}
    if base == "array":
        return [_convert(v, schema["items"]) for v in value]
    if base == "map":
        return {k: _convert(v, schema["values"])
                for k, v in value.items()}
    return value


# --------------------------------------------------- vectorized decode
#
# The sequential decoder reads one byte at a time in Python (~2 MB/s
# per worker — PERF.md).  Flat records of scalars, strings/bytes and
# ``["null", X]`` unions — the analytics and LLM-corpus shapes —
# decode a block at a time instead, structure first, values second:
#
#   1. a structure scan records each field occurrence's payload
#      START (-1 for null) and, for string/bytes, its length.  When
#      every field is a non-null varint kind, every byte of the block
#      belongs to exactly one varint (boolean's 0x00/0x01 byte is a
#      one-byte varint), so numpy finds the starts: the bytes after
#      those with the high bit clear, reshaped to (records, fields).
#      Otherwise a lean Python scan walks the block once, O(1) per
#      field — no value decode, no per-record dicts, no schema
#      resolution, which is where the sequential decoder's time goes;
#   2. each KEPT column is then extracted vectorized at its starts:
#      varints by per-level iteration, float/double via a view,
#      strings as direct slices (one Python slice per value, the
#      irreducible object cost).
#
# Both scans validate as they go (union branch bytes, non-negative
# lengths, block tiling, varint counts) and the extraction
# range-checks enum indexes; any anomaly raises and the caller
# re-decodes that block sequentially — the fast path never guesses.

_GEN_SIMPLE = {"int": "zigzag", "long": "zigzag", "boolean": "boolean",
               "string": "string", "bytes": "bytes",
               "float": "float", "double": "double"}

_VARINT_KINDS = {"zigzag", "boolean", "enum", "date", "ts-micros",
                 "ts-millis"}

# blocks larger than this use the sequential decoder: the Python
# structure scan keeps a few O(B) int lists alive (~10x B bytes peak)
_GEN_MAX_BLOCK = 32 << 20


def _gen_kind(s):
    """(kind, extra) for one non-null field schema, or None."""
    if isinstance(s, str):
        kind = _GEN_SIMPLE.get(s)
        return (kind, None) if kind else None
    if isinstance(s, dict):
        lt = s.get("logicalType")
        base = s["type"]
        if lt == "date" and base == "int":
            return ("date", None)
        if lt == "timestamp-micros" and base == "long":
            return ("ts-micros", None)
        if lt == "timestamp-millis" and base == "long":
            return ("ts-millis", None)
        if base == "enum" and lt is None:
            return ("enum", list(s["symbols"]))
        if base in _GEN_SIMPLE and lt is None:
            return (_GEN_SIMPLE[base], None)
    return None


def _vector_plan_general(schema: dict):
    """Per-field (kind, extra, null_branch) plan for a flat record,
    or None (nesting, decimal, multi-branch unions decode
    sequentially).  ``null_branch`` is the union index of "null" for
    ``["null", X]`` fields, else None."""
    plan = []
    for f in schema["fields"]:
        s = f["type"]
        if isinstance(s, list):
            if len(s) != 2 or "null" not in s:
                return None
            inner = _gen_kind(next(x for x in s if x != "null"))
            if inner is None:
                return None
            plan.append((inner[0], inner[1], s.index("null")))
            continue
        k = _gen_kind(s)
        if k is None:
            return None
        plan.append((k[0], k[1], None))
    return plan


def _all_varint(plan) -> bool:
    """True when every field is a non-null varint kind: the plan
    shape whose block structure numpy can scan."""
    return all(kind in _VARINT_KINDS and nb is None
               for kind, _extra, nb in plan)


def _varint_starts(b, n_records: int, nfields: int):
    """Field starts of an all-varint block, shape (nfields, n_records)."""
    import numpy as np

    if len(b) == 0 or (b[-1] & 0x80):
        raise ValueError("avro: truncated varint block")
    ends = np.flatnonzero((b & 0x80) == 0)
    if len(ends) != n_records * nfields:
        raise ValueError(
            f"avro: block claims {n_records} records x {nfields} "
            f"fields but contains {len(ends)} varints")
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    return starts.reshape(n_records, nfields).T


def _offsets_scan(body: bytes, n_records: int, plan):
    """Python structure scan of a general block: per-field payload
    starts (-1 = null) and string/bytes lengths."""
    nfields = len(plan)
    B = len(body)
    if B > _GEN_MAX_BLOCK:
        raise ValueError("avro: block too large for vectorized scan")
    starts: list[list[int]] = [[] for _ in range(nfields)]
    lens: list[list[int]] = [[] for _ in range(nfields)]
    # precompiled per-field ops: (opcode, null_branch, append fns);
    # opcode 0 = varint scalar, 1 = string/bytes, 2 = float, 3 = double
    ops = []
    for f, (kind, _extra, nb) in enumerate(plan):
        opc = (1 if kind in ("string", "bytes")
               else 2 if kind == "float"
               else 3 if kind == "double" else 0)
        ops.append((opc, -1 if nb is None else nb,
                    starts[f].append, lens[f].append))
    pos = 0
    try:
        for _ in range(n_records):
            for opc, nb, put, putlen in ops:
                if nb >= 0:
                    br = body[pos]  # zigzag union index: 0x00 / 0x02
                    pos += 1
                    if br not in (0, 2):
                        raise ValueError("avro: bad union branch")
                    if (br >> 1) == nb:
                        put(-1)
                        putlen(0)
                        continue
                if opc == 1:  # string/bytes: zigzag length, skip data
                    u = 0
                    sh = 0
                    while True:
                        c = body[pos]
                        pos += 1
                        u |= (c & 0x7F) << sh
                        if not c & 0x80:
                            break
                        sh += 7
                    ln = (u >> 1) ^ -(u & 1)
                    if ln < 0 or pos + ln > B:
                        raise ValueError("avro: bad string length")
                    put(pos)
                    putlen(ln)
                    pos += ln
                elif opc == 0:  # varint-coded scalar
                    put(pos)
                    while body[pos] & 0x80:
                        pos += 1
                    pos += 1
                elif opc == 2:
                    put(pos)
                    pos += 4
                else:
                    put(pos)
                    pos += 8
            if pos > B:
                raise ValueError("avro: record ran past block end")
    except IndexError:
        raise ValueError(
            "avro: structure scan ran past block end") from None
    if pos != B:
        raise ValueError("avro: structure scan did not tile the block")
    return starts, lens


def _varints(b, starts):
    """Raw (un-zigzagged) uint64 values of the varints beginning at
    ``starts``.  Level iteration: OR each varint's k-th continuation
    byte into place, shrinking to the still-continuing subset each
    level — per-VARINT vector ops, no O(B) scratch.  Both structure
    scans guarantee every varint ends inside the block, so
    ``starts[idx] + k`` stays in bounds."""
    import numpy as np

    first = b[starts].astype(np.uint64)
    u = first & np.uint64(0x7F)
    idx = np.flatnonzero(first & np.uint64(0x80))
    k = 1
    while idx.size:
        if k > 9:  # 10-byte max varint; more = malformed block
            raise ValueError("avro: varint longer than 10 bytes")
        byt = b[starts[idx] + k].astype(np.uint64)
        u[idx] |= (byt & np.uint64(0x7F)) << np.uint64(7 * k)
        idx = idx[(byt & np.uint64(0x80)) != 0]
        k += 1
    return u


def _extract(body: bytes, b, pos, kind, extra, lens):
    """One column's values at payload starts ``pos`` (no nulls)."""
    import numpy as np

    if kind in ("float", "double"):
        w = 4 if kind == "float" else 8
        arr = np.ascontiguousarray(
            b[pos[:, None] + np.arange(w, dtype=np.int64)])
        return arr.view("<f4" if w == 4 else "<f8").ravel()
    if kind == "string":
        return [body[i:i + n].decode("utf-8")
                for i, n in zip(pos.tolist(), lens)]
    if kind == "bytes":
        return [body[i:i + n] for i, n in zip(pos.tolist(), lens)]
    raw = _varints(b, pos)
    if kind == "boolean":
        # boolean is a raw 0x00/0x01 byte — nonzero == true
        return raw != 0
    # zigzag: int/long/enum-index/date/timestamps are all written as
    # zigzag varints
    val = ((raw >> np.uint64(1)).astype(np.int64)
           ^ -((raw & np.uint64(1)).astype(np.int64)))
    if kind == "enum":
        if len(val) and (val.min() < 0 or val.max() >= len(extra)):
            raise ValueError("avro: enum index out of range")
        return np.asarray(extra, dtype=object)[val]
    if kind == "date":
        # datetime64[D] -> datetime.date objects; unlike
        # pd.to_datetime (ns-resolution) this never overflows inside
        # the full Avro date range
        return val.astype("datetime64[D]").astype(object)
    if kind == "ts-micros":
        return val.astype("datetime64[us]")
    if kind == "ts-millis":
        return val.astype("datetime64[ms]").astype("datetime64[us]")
    return val


def _decode_block_general(body: bytes, n_records: int, plan,
                          keep=None):
    """One block body -> list of per-field columns (numpy arrays, or
    object arrays/lists for string/bytes/nullable).  ``keep`` (sorted
    field indices) prunes the EXTRACTION stage — the structure scan
    still covers every field (records are variable-width), but
    unwanted columns never pay their value decode (for strings, the
    per-value Python slices — the dominant cost on text corpora)."""
    import numpy as np

    sel = range(len(plan)) if keep is None else keep
    if n_records == 0:
        return [[] for _ in sel]
    b = np.frombuffer(body, dtype=np.uint8)
    if _all_varint(plan):
        starts, lens = _varint_starts(b, n_records, len(plan)), None
    else:
        starts, lens = _offsets_scan(body, n_records, plan)
    cols = []
    for f in sel:
        kind, extra, nb = plan[f]
        pos = np.asarray(starts[f], dtype=np.int64)
        lnl = lens[f] if kind in ("string", "bytes") else None
        if nb is None:
            cols.append(_extract(body, b, pos, kind, extra, lnl))
            continue
        valid = pos >= 0
        if lnl is not None:
            lnl = [n for p, n in zip(starts[f], lnl) if p >= 0]
        live = _extract(body, b, pos[valid], kind, extra, lnl)
        # Python objects + None (the shape the sequential decoder
        # yields) so Arrow casts from the declared Spark schema
        if not isinstance(live, list):
            live = live.tolist()
        out = np.empty(len(pos), dtype=object)
        out[~valid] = None
        out[valid] = live
        cols.append(out)
    return cols


_STREAM_PART_RE = re.compile(
    r"^part-(\d{10})-\d{5}-[0-9a-f]{8}\.avro$")


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        # the streaming sink's batches become visible ATOMICALLY:
        # its part-<10-digit batchId>-… files count only once their
        # .batch-<batchId>.committed ledger exists.  Ledgers are
        # globbed FIRST — a ledger present implies every file of its
        # batch was already renamed, so the later file glob cannot
        # see a partial batch.  Other names (batch-writer 15-digit
        # seqs, foreign writers) are always visible.
        committed = {
            os.path.basename(m)[len(".batch-"):-len(".committed")]
            for m in glob.glob(
                os.path.join(path, ".batch-*.committed"))}
        out, hidden = [], 0
        for f in sorted(glob.glob(os.path.join(path, "*.avro"))):
            m = _STREAM_PART_RE.match(os.path.basename(f))
            if m and m.group(1) not in committed:
                # in-flight / crashed stream batch: uncommitted data
                # is INVISIBLE by design (a reader racing the sink's
                # rename→ledger window must see nothing, not raise)
                hidden += 1
                continue
            out.append(f)
        if not out and hidden:
            # nothing committed but stream-named files exist: a
            # crashed first batch (the sink's replay will redo it)
            # or an archive from a pre-ledger sink scheme — say so
            # instead of the generic no-files message
            raise FileNotFoundError(
                f"no committed .avro files at {path!r}: "
                f"{hidden} stream part file(s) lack their "
                ".batch-<id>.committed ledger (crashed batch — "
                "restart the stream to replay it; or a pre-ledger "
                "archive — touch the markers to re-commit it)")
    else:
        out = sorted(glob.glob(path)) or (
            [path] if os.path.exists(path) else [])
    if not out:
        raise FileNotFoundError(f"no .avro files at {path!r}")
    return out


# -------------------------------------------------- split machinery
#
# Byte-range input partitions: a range owns the blocks whose
# preceding sync marker starts inside it (``storage/avro_file.py``,
# ``_split_blocks``), so every block decodes in exactly one task and
# a task holds one compressed block plus at most ``batch_bytes`` of
# decoded output, never the file.

def plan_splits(files: list[str],
                split_bytes: int) -> list[tuple[str, int, int]]:
    """(path, start, end) byte-range input partitions — large files
    shatter into ``split_bytes`` ranges so one multi-GB file decodes
    across many tasks instead of one."""
    splits = []
    for p in files:
        sz = os.path.getsize(p)
        s = 0
        while True:
            e = min(s + split_bytes, sz)
            splits.append((p, s, e))
            if e >= sz:
                break
            s = e
    return splits


def plan_read(path: str):
    """Driver-side read planning shared by :func:`read_avro` and the
    registered ``minerva_avro`` data source: list files, read ONE
    header, derive the Spark schema and the vectorized decode plan
    (None: decode sequentially).  Returns (files, writer_schema,
    spark_schema, canon, plan, colnames)."""
    import json as _json

    files = _list_files(path)
    with open(files[0], "rb") as fh:
        meta, _, _ = _read_header(fh)
    writer_schema = _json.loads(meta["avro.schema"].decode("utf-8"))
    if not (isinstance(writer_schema, dict)
            and writer_schema.get("type") == "record"):
        raise ValueError("avro: top-level schema must be a record")
    spark_schema = _record_type(writer_schema)
    canon = _json.dumps(writer_schema, sort_keys=True)
    plan = _vector_plan_general(writer_schema)
    colnames = [f["name"] for f in writer_schema["fields"]]
    return files, writer_schema, spark_schema, canon, plan, colnames


def split_frames(p: str, start: int, end: int, canon: str,
                 writer_schema: dict, plan, colnames: list[str],
                 batch_bytes: int, keep=None):
    """Decode one byte-range split of one file into pandas frames
    (~``batch_bytes`` of decoded block data each) — the executor
    body shared by :func:`read_avro`'s mapInPandas and the
    registered ``minerva_avro`` data source.  Refuses files whose
    writer schema differs from ``canon`` (mixed-schema directories
    fail loudly).  Blocks decode vectorized when ``plan`` is set,
    with an exact sequential fallback for malformed-looking blocks."""
    import json as _json

    import pandas as pd

    fields = writer_schema["fields"]
    out_fields = fields if keep is None else [fields[i] for i in keep]
    out_names = [f["name"] for f in out_fields]

    def seq_block(body, n):
        bcur = _Cursor(body)
        names: dict = {}
        rows = []
        for _ in range(n):
            r = _decode(bcur, writer_schema, names)
            rows.append(tuple(_convert(r.get(f["name"]), f["type"])
                              for f in out_fields))
        return pd.DataFrame(rows, columns=out_names)

    def block_df(body, n):
        if plan is None:
            return seq_block(body, n)
        try:
            cols = _decode_block_general(body, n, plan, keep)
        except ValueError:
            return seq_block(body, n)
        return pd.DataFrame(dict(zip(out_names, cols)))

    file_size = os.path.getsize(p)
    with open(p, "rb") as fh:
        m, sync, header_end = _read_header(fh)
        if _json.dumps(_json.loads(
                m["avro.schema"].decode("utf-8")),
                sort_keys=True) != canon:
            raise ValueError(
                f"avro: {os.path.basename(p)!r} writer schema "
                "differs from the directory's first file — "
                "mixed-schema reads are refused")
        pending, pending_bytes = [], 0
        for n, body in _split_blocks(fh, sync, _header_codec(m), start,
                                     end, header_end, file_size):
            if not n:
                continue
            pending.append(block_df(body, n))
            pending_bytes += len(body)
            if pending_bytes >= batch_bytes:
                yield pd.concat(pending, ignore_index=True)
                pending, pending_bytes = [], 0
        if pending:
            yield pd.concat(pending, ignore_index=True)


def read_avro(spark: SparkSession, path: str,
              split_bytes: int = 128 << 20,
              batch_bytes: int = 64 << 20,
              columns: list[str] | None = None) -> DataFrame:
    """Read ``path`` (a file, glob, or directory of ``*.avro``) as a
    DataFrame.  Driver reads one header; executors decode BYTE-RANGE
    SPLITS (``split_bytes`` each, sync-marker aligned — see the
    split-machinery comment above) and stream blocks, yielding an
    Arrow batch per ~``batch_bytes`` of decoded block data, so both
    parallelism and per-task memory are independent of file size.
    Every split re-checks its file's embedded writer schema against
    the driver's and raises on drift.

    ``columns`` prunes the projection at the DECODE level (Catalyst
    cannot push projections through mapInPandas): records must still
    be structure-scanned field-by-field (Avro rows are
    variable-width), but pruned columns skip value extraction — for
    strings the per-value Python slices, the dominant cost — and
    never cross the Arrow boundary."""
    (files, writer_schema, spark_schema, canon, plan,
     colnames) = plan_read(path)
    keep = None
    if columns is not None:
        missing = sorted(set(columns) - set(colnames))
        if missing:
            raise ValueError(
                f"avro: unknown columns {missing} (have {colnames})")
        want = set(columns)
        keep = [i for i, c in enumerate(colnames) if c in want]
        spark_schema = T.StructType(
            [spark_schema.fields[i] for i in keep])

    def decode(batches):
        for pdf in batches:
            for p, start, end in zip(pdf["path"], pdf["start"],
                                     pdf["end"]):
                yield from split_frames(
                    p, int(start), int(end), canon, writer_schema,
                    plan, colnames, batch_bytes, keep)

    import pyarrow as pa

    splits = plan_splits(files, split_bytes)
    # an Arrow table becomes a driver-side LocalTableScan; a Python list
    # would run a Python RDD job (one worker task per core) to build it
    paths, starts, ends = zip(*splits)
    fdf = (spark.createDataFrame(
        pa.table({"path": paths, "start": starts, "end": ends}))
           .repartition(len(splits)))
    return fdf.mapInPandas(decode, spark_schema)


# ------------------------------------------------------------------ sink

_SINK_PRIM = {  # Spark simpleString -> Avro primitive
    "boolean": "boolean", "int": "int", "bigint": "long",
    "float": "float", "double": "double", "string": "string",
    "binary": "bytes",
}


def _avro_schema_of(spark_schema, force_required: bool) -> dict:
    """Spark schema -> Avro record schema for :func:`write_avro`.
    Scope: flat records of primitives (nullable -> ['null', X]);
    anything else raises — encode timestamps as ``unix_micros`` longs
    before writing (timezone-proof both ways) rather than relying on
    session-local pandas timestamps."""
    fields = []
    for f in spark_schema.fields:
        s = f.dataType.simpleString()
        if s not in _SINK_PRIM:
            raise NotImplementedError(
                f"avro sink: unsupported column type {s!r} for "
                f"{f.name!r} (flat primitives only; cast timestamps "
                "to unix_micros longs first)")
        avro_t = _SINK_PRIM[s]
        fields.append({"name": f.name,
                       "type": ["null", avro_t]
                       if f.nullable and not force_required
                       else avro_t})
    return {"type": "record", "name": "row", "fields": fields}


def write_avro(df: DataFrame, path: str,
               force_required: bool = False,
               codec: str = "null",
               block_bytes: int = 4 << 20) -> list[str]:
    """Distributed Avro sink: one object-container file per non-empty
    partition, encoded executor-side (the driver never sees row
    data — only the bounded per-file summary).  Returns the written
    file paths.  Pairs with :func:`read_avro` for a lossless
    round-trip of the supported primitive types.

    ``force_required`` writes plain (non-union) field schemas even
    for Spark-nullable columns — use when the data is known non-null
    (e.g. key columns) so all-varint files stay eligible for the
    vectorized read path; an actual null then raises at encode time
    instead of silently writing an unreadable file.

    ``codec``: "null" (default), "deflate" (raw zlib per the Avro
    spec — what most production writers emit), "snappy" (raw snappy
    + big-endian CRC32 of the uncompressed data), "zstandard" (bare
    zstd frame), "bzip2" or "xz" — the COMPLETE Avro 1.11 codec
    set."""
    import uuid as _uuid

    if codec not in CODECS:
        raise ValueError(
            f"avro sink: unsupported codec {codec!r} "
            f"({'/'.join(CODECS)})")

    schema = _avro_schema_of(df.schema, force_required)
    os.makedirs(path, exist_ok=True)

    def encode(batches):
        import pandas as pd

        blob, n_total = encode_container(batches, schema, codec,
                                         block_bytes)
        if blob is None:
            yield pd.DataFrame({"path": [], "rows": []})
            return
        fname = os.path.join(path, f"part-{_uuid.uuid4().hex}.avro")
        with open(fname, "wb") as fh:
            fh.write(blob)
        yield pd.DataFrame({"path": [fname], "rows": [n_total]})

    summary = df.mapInPandas(encode, "path string, rows long").collect()
    return sorted(r["path"] for r in summary)


def encode_container(pdfs, schema: dict, codec: str = "null",
                     block_bytes: int = 4 << 20
                     ) -> tuple[bytes | None, int]:
    """Encode an iterable of pandas frames as ONE Avro
    object-container (bytes, n_rows) — (None, 0) when empty.  The
    executor body shared by :func:`write_avro`'s mapInPandas and the
    registered ``minerva_avro`` writer.  Blocks flush at
    ~``block_bytes`` (default 4 MiB): keeps every block inside the
    vectorized reader's size cap and bounds per-block decode memory,
    like production writers' sync-interval defaults."""
    fields = [(f["name"], f["type"]) for f in schema["fields"]]
    n_total = 0

    def blocks():
        nonlocal n_total
        body = bytearray()
        n_block = 0
        for pdf in pdfs:
            n = len(pdf)
            if not n:
                continue
            cols = [pdf[name] for name, _ in fields]
            for i in range(n):
                for (name, ftype), col in zip(fields, cols):
                    v = col.iloc[i]
                    if v is not None and v == v:  # NaN -> null
                        v = v.item() if hasattr(v, "item") else v
                    else:
                        v = None
                    if v is None and not isinstance(ftype, list):
                        raise ValueError(
                            f"avro sink: null in required column "
                            f"{name!r} (written with "
                            "force_required=True)")
                    body += _avro_encode(v, ftype)
                n_block += 1
                if len(body) >= block_bytes:
                    n_total += n_block
                    yield n_block, bytes(body)
                    body = bytearray()
                    n_block = 0
        if n_block:
            n_total += n_block
            yield n_block, bytes(body)

    blob = write_container(schema, blocks(), codec)
    return (blob, n_total) if n_total else (None, 0)
