"""Apache Iceberg reads without the Iceberg runtime jar.

Implements the read side of the published Iceberg table spec
(https://iceberg.apache.org/spec/), stdlib + pyarrow only; the write
side (append, row-level DELETE/UPDATE/MERGE, compaction) is
``iceberg_write.py``:

- **table metadata**: ``metadata/v<N>.metadata.json`` (resolved via
  ``version-hint.text`` or a directory scan), format-version 1 and
  2 — the current snapshot, or time travel by ``snapshot_id``, a
  named ref (tag/branch) or a timestamp;
- **manifest list + manifests**: Avro object-container files, read
  with :func:`.avro_file.avro_read` — any Avro 1.11 codec (null,
  deflate, snappy, zstandard, bzip2, xz);
- **schema**: Iceberg JSON schema converted to a Spark
  ``StructType`` (primitives, decimal, struct/list/map);
- **scan**: the live data files (``status != DELETED`` entries) read
  with the converted schema — parquet and ORC, grouped by format
  and unioned.  One read plan (:meth:`IcebergTable._read_plan`),
  shared with the registered source's batch reader and the
  row-level DML, resolves the snapshot and checks the ``where``
  predicates, which first skip whole manifests by their partition
  summaries, then files by their per-column
  ``lower_bounds``/``upper_bounds``, and are re-applied as DataFrame
  filters so correctness never depends on the pruning;
- **merge-on-read deletes**: v2 position-delete and equality-delete
  files are applied at scan time (:meth:`IcebergTable._apply_deletes`;
  equality deletes only to data files with a smaller sequence
  number).  Which delete reaches which data file is decided here
  once (:func:`_delete_pairs`, :func:`_delete_may_touch`) for these
  anti joins and for the registered source's Arrow readers;
- **incremental append scan** between two snapshots
  (:meth:`IcebergTable.incremental`), over the same parent-chain
  walk (:func:`_walk_chain`) the registered source streams along.

Refusals (raise, never misread):

- Avro data files and non-parquet delete files (legal per spec,
  rare in practice);
- renamed columns: Iceberg resolves columns by field id, this reader
  by name — a scanned file whose footer lacks a REQUIRED schema
  column raises (:func:`_check_footer`, run by every reader; a
  missing optional column, the add-column case, reads as nulls);
- malformed Avro: unknown codecs, sync mismatches, out-of-range enum
  or union indexes.

Reference parity: the reference system (hendrikx-itc/
python-minerva-etl) stores everything in PostgreSQL and has no lake
format; this backs SURVEY §2 OP-SRC interop at 100 TB scale.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import struct
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .avro_file import avro_read
from .commit import _localize, _localize_col
from .stats import DAY, US, as_of_ms, epoch, may_match


# ------------------------------------------------------------------ schema

_PRIM = {
    "boolean": T.BooleanType(), "int": T.IntegerType(),
    "long": T.LongType(), "float": T.FloatType(),
    "double": T.DoubleType(), "string": T.StringType(),
    "binary": T.BinaryType(), "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "uuid": T.StringType(), "time": T.LongType(),
}


def _iceberg_type(t) -> T.DataType:
    if isinstance(t, str):
        if t in _PRIM:
            return _PRIM[t]
        if t.startswith("decimal("):
            p, s = t[8:-1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise ValueError(f"iceberg: unsupported type {t!r}")
    k = t["type"]
    if k == "struct":
        return T.StructType([
            T.StructField(f["name"], _iceberg_type(f["type"]),
                          not f.get("required", False))
            for f in t["fields"]])
    if k == "list":
        return T.ArrayType(_iceberg_type(t["element"]),
                           not t.get("element-required", False))
    if k == "map":
        return T.MapType(_iceberg_type(t["key"]),
                         _iceberg_type(t["value"]),
                         not t.get("value-required", False))
    raise ValueError(f"iceberg: unsupported type {k!r}")


def _to_spark_schema(ice_schema: dict) -> T.StructType:
    return T.StructType([
        T.StructField(f["name"], _iceberg_type(f["type"]),
                      not f.get("required", False))
        for f in ice_schema["fields"]])


# ----------------------------------------------------------- stat pruning

_BOUND_DECODERS = {
    "int": lambda b: struct.unpack("<i", b)[0],
    "long": lambda b: struct.unpack("<q", b)[0],
    "float": lambda b: struct.unpack("<f", b)[0],
    "double": lambda b: struct.unpack("<d", b)[0],
    "string": lambda b: b.decode("utf-8"),
    "date": lambda b: struct.unpack("<i", b)[0],
    "timestamp": lambda b: struct.unpack("<q", b)[0],
    "timestamptz": lambda b: struct.unpack("<q", b)[0],
}


def _bounds_map(raw) -> dict[int, bytes]:
    """Normalize a manifest column-stats map: Iceberg encodes
    map<int, binary> in Avro either as a true map (string keys) or as
    the logical-map array-of-{key, value} records."""
    if raw is None:
        return {}
    if isinstance(raw, dict):
        return {int(k): v for k, v in raw.items()}
    out = {}
    for kv in raw:
        out[int(kv["key"])] = kv["value"]
    return out


def _decode_bound(type_name: str, raw: bytes):
    dec = _BOUND_DECODERS.get(type_name)
    if dec is None or raw is None:
        return None  # unknown type / missing: conservative
    try:
        return dec(raw)
    except (struct.error, UnicodeDecodeError):
        return None


def _lit_physical(type_name: str, lit):
    """Predicate literal in the same physical domain the decoded
    bounds use: timestamps are int epoch-micros and dates int
    epoch-days in manifests, but callers pass datetime/date objects —
    without this mapping every temporal comparison raised TypeError
    and file-level pruning silently kept everything."""
    if type_name in ("timestamp", "timestamptz") \
            and isinstance(lit, datetime.datetime):
        return epoch(lit, US)
    if type_name == "date" and isinstance(lit, datetime.date) \
            and not isinstance(lit, datetime.datetime):
        return epoch(lit, DAY)
    return lit


def _file_may_match(df_entry: dict, preds, field_id: dict,
                    field_type: dict) -> bool:
    """Conservative column-bound pruning (Iceberg spec 'Scan
    Planning'): a file is skipped ONLY when its decoded
    lower/upper_bounds prove a predicate false; missing stats,
    unknown types, or undecodable bounds keep the file."""
    lowers = _bounds_map(df_entry.get("lower_bounds"))
    uppers = _bounds_map(df_entry.get("upper_bounds"))
    for col, op, raw_lit in preds:
        fid = field_id.get(col)
        if fid is None:
            continue
        lit = _lit_physical(field_type.get(col), raw_lit)
        lo = _decode_bound(field_type.get(col), lowers.get(fid))
        hi = _decode_bound(field_type.get(col), uppers.get(fid))
        if not may_match(lo, hi, op, lit):
            return False
    return True


def _check_footer(path: str, names, schema: T.StructType) -> None:
    """Refuse a data file whose footer (column ``names``) lacks a
    REQUIRED column of ``schema`` — the one footer guard of
    ``read_iceberg``'s driver-side scan and the registered source's
    executor-side reader.  Add-column schema evolution is legal: old
    data files lack the new (optional) column and read as nulls.  A
    required column can never have been absent at write time, so its
    absence by name means the table was renamed or otherwise
    schema-evolved in a way this name-based (not field-id) reader
    can't follow."""
    missing = {f.name for f in schema.fields if not f.nullable} \
        - set(names)
    if missing:
        raise ValueError(
            f"iceberg: file {os.path.basename(path)!r} lacks "
            f"required columns {sorted(missing)} — the table "
            "was renamed or schema-evolved beyond what this "
            "name-based reader resolves (Iceberg resolves by "
            "field-id); refusing rather than returning nulls")


def _partition_specs(md: dict) -> dict[int, list[dict]]:
    """{spec-id: [partition field dicts]} from table metadata (v2
    ``partition-specs`` or the legacy v1 ``partition-spec`` list)."""
    if "partition-specs" in md:
        return {s.get("spec-id", 0): s.get("fields", [])
                for s in md["partition-specs"]}
    if "partition-spec" in md:
        return {0: md["partition-spec"]}
    return {}


def _transform_pred_literal(transform: str, type_name: str):
    """``(decode_type, fn, eq_only)`` mapping a source-column
    predicate literal into a partition field's TRANSFORMED domain
    (Table Spec "Partition Transforms").  Order-preserving
    transforms (identity, day/hour/month/year, truncate[W]) prune
    every comparison; bucket[N] is NOT order-preserving, so its
    mapping is flagged ``eq_only`` — only equality predicates may
    prune through it (bucket(lit) outside the summary's bucket range
    is a sound exclusion; range predicates are not).  ``(None, None,
    False)`` means no pruning (unknown transform / unsupported
    literal — always sound)."""
    if transform == "identity":
        return type_name, (lambda v: v), False

    def us(v):
        return epoch(v, US) if isinstance(v, datetime.datetime) else None

    if transform == "day":
        if type_name in ("timestamp", "timestamptz"):
            return "int", (lambda v: (
                None if us(v) is None
                else us(v) // 86_400_000_000)), False
        if type_name == "date":
            return "int", (lambda v: (
                epoch(v, DAY)
                if isinstance(v, datetime.date)
                and not isinstance(v, datetime.datetime)
                else None)), False
        return None, None, False
    if transform == "hour" and type_name in ("timestamp",
                                             "timestamptz"):
        return "int", (lambda v: (
            None if us(v) is None
            else us(v) // 3_600_000_000)), False
    if transform == "month" and type_name == "date":
        return "int", (lambda v: (
            (v.year - 1970) * 12 + v.month - 1
            if isinstance(v, datetime.date) else None)), False
    if transform == "year" and type_name == "date":
        return "int", (lambda v: (
            v.year - 1970
            if isinstance(v, datetime.date) else None)), False
    if transform.startswith("truncate["):
        w = int(transform[len("truncate["):-1])
        if type_name in ("int", "long"):
            return type_name, (lambda v: (
                v - ((v % w + w) % w)
                if isinstance(v, int) else None)), False
        if type_name == "string":
            return "string", (lambda v: (
                v[:w] if isinstance(v, str) else None)), False
    if transform.startswith("bucket["):
        n = int(transform[len("bucket["):-1])
        if type_name in ("int", "long"):
            from .iceberg_write import _murmur3_long
            return "int", (lambda v: (
                (_murmur3_long(v) & 0x7FFFFFFF) % n
                if isinstance(v, int) else None)), True
        if type_name == "string":
            from .iceberg_write import _murmur3_bytes
            return "int", (lambda v: (
                (_murmur3_bytes(v.encode("utf-8")) & 0x7FFFFFFF) % n
                if isinstance(v, str) else None)), True
    return None, None, False


def _manifest_may_match(m: dict, preds, specs: dict,
                        by_id: dict) -> bool:
    """Manifest-list partition-summary pruning (the upper layer of
    Iceberg scan planning): each manifest entry carries per-partition-
    field summaries (contains_null, lower_bound, upper_bound).  For
    fields whose transform is ORDER-PRESERVING (identity, day/hour/
    month/year, truncate) and whose source column appears in a
    predicate, a manifest whose summary range provably excludes the
    predicate — compared in the TRANSFORMED domain — is skipped
    WITHOUT opening its Avro file.  Bucket fields, missing summaries,
    and undecodable bounds/literals keep the manifest.
    ``contains_null`` needs no special case: SQL comparison
    predicates are never satisfied by NULL, so bound-based exclusion
    stays sound.  Transformed-domain comparisons use the WEAK form
    (strictness is lost by a non-injective transform: rows > lit can
    share lit's day bucket)."""
    summaries = m.get("partitions")
    spec = specs.get(m.get("partition_spec_id", 0))
    if not summaries or not spec:
        return True
    for fld, summ in zip(spec, summaries):
        if summ is None:
            continue
        transform = fld.get("transform", "identity")
        src = by_id.get(fld.get("source-id"))
        if src is None:
            continue
        name, type_name = src
        dec_type, to_part, eq_only = _transform_pred_literal(
            transform, type_name)
        if dec_type is None:
            continue
        strict = transform == "identity"
        lo = _decode_bound(dec_type, summ.get("lower_bound"))
        hi = _decode_bound(dec_type, summ.get("upper_bound"))
        for col, op, lit in preds:
            if col != name:
                continue
            if eq_only and op != "=":
                continue  # bucket: only equality prunes soundly
            if not strict:
                op = {">": ">=", "<": "<="}.get(op, op)
            try:
                plit = to_part(lit)
            except TypeError:
                continue
            if plit is not None and not may_match(lo, hi, op, plit):
                return False
    return True


# ------------------------------------------------------ snapshot ancestry

def _parent_id(snap: dict, ordered: list[int]) -> int | None:
    """``snap``'s parent id.  Writers may omit parent-snapshot-id (it
    is optional in the spec); fall back to metadata list order, which
    is append order for a linear history."""
    parent = snap.get("parent-snapshot-id")
    if parent is None:
        i = ordered.index(snap["snapshot-id"])
        parent = ordered[i - 1] if i > 0 else None
    return parent


def _walk_chain(md: dict, start_id: int, end_id: int, ctx: str):
    """``(snaps by id, ids in metadata order, chain)``: the chain is
    the snapshots after ``start_id`` up to and including ``end_id``,
    newest first, along the parent ancestry.  ``start_id == -1``
    means the whole history.  Refuses an ``end_id`` not in the
    metadata and a ``start_id`` that is not an ancestor of it."""
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
    ordered = [s["snapshot-id"] for s in md.get("snapshots") or []]
    cur = snaps.get(end_id)
    if cur is None:
        raise ValueError(
            f"{ctx}: snapshot {end_id} not in metadata (expired?)")
    chain: list[dict] = []
    found = start_id == -1
    while cur is not None:
        if cur["snapshot-id"] == start_id:
            found = True
            break
        chain.append(cur)
        parent = _parent_id(cur, ordered)
        cur = snaps.get(parent) if parent is not None else None
    if not found:
        raise ValueError(
            f"{ctx}: snapshot {start_id} is not an ancestor of "
            f"{end_id} (expired, or the history diverged) — the "
            "delta cannot be computed")
    return snaps, ordered, chain


# ------------------------------------------------------ delete assignment

_PATH_FIELD_ID = 2147483546  # reserved: position-delete file_path


def _types_by_id(ice_schema: dict) -> dict:
    return {fld["id"]: fld["type"] for fld in ice_schema["fields"]
            if isinstance(fld["type"], str)}


def _delete_may_touch(f: dict, d: dict, types_by_id: dict) -> bool:
    """Manifest-bounds check: can delete file ``d`` kill rows of
    data file ``f``?  Decided from manifest entries ALONE — no
    parquet is opened.  Conservative per the Iceberg scan-planning
    contract: missing bounds, unknown types, or undecodable values
    keep the pair.

    - position deletes (content=1): compared on the reserved
      ``file_path`` column's bounds (field id 2147483546) against
      ``f``'s own path;
    - equality deletes (content=2): a data file written at or after
      the delete's sequence number is untouchable; otherwise the
      delete's key-column bounds must overlap the data file's.
    """
    d_lo = _bounds_map(d.get("lower_bounds"))
    d_hi = _bounds_map(d.get("upper_bounds"))
    if d.get("content") == 1:
        lo, hi = d_lo.get(_PATH_FIELD_ID), d_hi.get(_PATH_FIELD_ID)
        if lo is None or hi is None:
            return True  # no path bounds: may reference f
        try:
            return (lo.decode("utf-8") <= f["file_path"]
                    <= hi.decode("utf-8"))
        except UnicodeDecodeError:
            return True
    if d.get("content") == 2:
        fseq = int(f["_seq"]) if f.get("_seq") is not None else None
        dseq = int(d["_seq"]) if d.get("_seq") is not None else None
        if fseq is not None and dseq is not None and fseq >= dseq:
            return False  # equality deletes only reach OLDER files
        f_lo = _bounds_map(f.get("lower_bounds"))
        f_hi = _bounds_map(f.get("upper_bounds"))
        for fid in (d.get("equality_ids") or ()):
            t = types_by_id.get(fid)
            dl = _decode_bound(t, d_lo.get(fid))
            dh = _decode_bound(t, d_hi.get(fid))
            fl = _decode_bound(t, f_lo.get(fid))
            fh = _decode_bound(t, f_hi.get(fid))
            try:
                if (dh is not None and fl is not None
                        and dh < fl) or \
                   (dl is not None and fh is not None
                        and dl > fh):
                    return False
            except TypeError:
                continue  # incomparable: stay conservative
        return True
    return True  # unknown content: never drop silently


def _delete_pairs(deletes: list[dict], data_files: list[dict],
                  ice_schema: dict):
    """The delete files of :meth:`IcebergTable._data_files` as
    ``(value, manifest entry)`` pairs, split into position and
    equality deletes: a position delete's value is its local path, an
    equality delete's ``(local path, sequence number, key columns)``.
    Refuses an equality key naming an unknown field id, and equality
    deletes over a data file without a sequence number (the spec's
    ordering — a delete reaches only data files with a STRICTLY
    smaller sequence number — is then undefined)."""
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    pos, eq = [], []
    for d in deletes:
        if d.get("content") == 1:
            pos.append((_localize(d["file_path"]), d))
        elif d.get("content") == 2:
            unknown = [i for i in d["equality_ids"] if i not in by_id]
            if unknown:
                raise ValueError(
                    f"iceberg: equality delete references unknown "
                    f"field id {unknown[0]}")
            eq.append(((_localize(d["file_path"]), int(d["_seq"]),
                        tuple(by_id[i] for i in d["equality_ids"])),
                       d))
    if eq and any(f.get("_seq") is None for f in data_files):
        raise ValueError(
            "iceberg: table has equality deletes but a data file "
            "carries no sequence number — ordering is undefined, "
            "refusing rather than over-deleting")
    return pos, eq


def _touching(f: dict, pairs, types_by_id: dict) -> tuple:
    """The values of the delete ``pairs`` whose manifest bounds can
    touch data file ``f`` — a reader opens only those delete
    parquets, so its work is O(touching deletes), not O(all deletes)
    on a long-lived upsert table."""
    return tuple(v for v, d in pairs
                 if _delete_may_touch(f, d, types_by_id))


class _ReadPlan(NamedTuple):
    """A snapshot read planned once by :meth:`IcebergTable._read_plan`
    — the table metadata, the snapshot time travel resolved to and
    the checked predicates.  :meth:`IcebergTable.read`, the registered
    source's batch reader and the row-level DML list their files
    through :meth:`files`; :meth:`IcebergTable.incremental` prunes its
    added files through :meth:`pruned`."""
    table: "IcebergTable"
    md: dict
    # the snapshot entry; {} when the table has none
    snap: dict
    # (column, op, literal) with a known column and op
    preds: list

    @property
    def ice_schema(self) -> dict:
        return self.table._current_schema(self.md)

    def where(self, where: list[tuple] | None) -> "_ReadPlan":
        """This plan with the predicates ``where``, checked against
        the schema."""
        preds = list(where or [])
        names = {f["name"] for f in self.ice_schema["fields"]}
        for col, op, _ in preds:
            if op not in ("=", "<", "<=", ">", ">="):
                raise ValueError(f"iceberg: unsupported predicate op "
                                 f"{op!r}")
            if col not in names:
                raise ValueError(f"iceberg: unknown column {col!r}")
        return self._replace(preds=preds)

    def pruned(self, files: list[dict]) -> list[dict]:
        """The data ``files`` whose column bounds may satisfy every
        predicate (:func:`_file_may_match`)."""
        if not self.preds:
            return files
        fields = self.ice_schema["fields"]
        field_id = {f["name"]: f["id"] for f in fields}
        field_type = {f["name"]: f["type"] for f in fields
                      if isinstance(f["type"], str)}
        return [f for f in files
                if _file_may_match(f, self.preds, field_id, field_type)]

    def files(self) -> tuple[list[dict], list[dict]]:
        """The snapshot's live ``(data files, delete files)``: data
        manifests whose partition summaries provably exclude a
        predicate are never opened (:func:`_manifest_may_match`), then
        data files are pruned on their column bounds."""
        manifest_ok = None
        if self.preds:
            specs = _partition_specs(self.md)
            by_id = {f["id"]: (f["name"], f["type"])
                     for f in self.ice_schema["fields"]
                     if isinstance(f["type"], str)}

            def manifest_ok(m: dict) -> bool:
                return _manifest_may_match(m, self.preds, specs, by_id)
        files, deletes = self.table._data_files(self.snap, manifest_ok)
        return self.pruned(files), deletes


class IcebergTable:
    """An Iceberg table rooted at ``path`` — metadata + manifest
    replay, parquet scan of the live file set."""

    def __init__(self, path: str):
        self.path = path
        self._mdir = os.path.join(path, "metadata")

    def _metadata_path(self) -> str:
        hint = os.path.join(self._mdir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                v = fh.read().strip()
            for name in (f"v{v}.metadata.json", f"{v}.metadata.json"):
                p = os.path.join(self._mdir, name)
                if os.path.exists(p):
                    return p
        cands = [n for n in os.listdir(self._mdir)
                 if n.endswith(".metadata.json")]
        if not cands:
            raise FileNotFoundError(
                f"no Iceberg metadata under {self._mdir!r}")

        def version_of(name: str) -> tuple[int, str]:
            # HadoopTables: 'v<N>.metadata.json'; HiveCatalog-style:
            # '<N>-<uuid>.metadata.json'.  Lexicographic order breaks
            # at v10 vs v9 — sort by the parsed NUMERIC version, name
            # as tiebreak; unparseable names sort first (lowest).
            stem = name[:-len(".metadata.json")]
            m = re.match(r"v?(\d+)", stem)
            return (int(m.group(1)) if m else -1, name)

        return os.path.join(self._mdir, max(cands, key=version_of))

    def metadata(self) -> dict:
        with open(self._metadata_path()) as fh:
            md = json.load(fh)
        fv = md.get("format-version", 1)
        if fv not in (1, 2):
            raise NotImplementedError(
                f"iceberg: format-version {fv} unsupported (1 and 2 only)")
        return md

    def _current_schema(self, md: dict) -> dict:
        if "schemas" in md:
            sid = md.get("current-schema-id", 0)
            for s in md["schemas"]:
                if s.get("schema-id") == sid:
                    return s
            return md["schemas"][0]
        return md["schema"]  # v1 single-schema form

    def schema(self) -> T.StructType:
        return _to_spark_schema(self._current_schema(self.metadata()))

    def _snapshot(self, md: dict, snapshot_id: int | None) -> dict:
        snaps = md.get("snapshots") or []
        if snapshot_id is None:
            cur = md.get("current-snapshot-id")
            if cur in (None, -1):
                return {}
            snapshot_id = cur
        for s in snaps:
            if s.get("snapshot-id") == snapshot_id:
                return s
        raise ValueError(
            f"iceberg: snapshot {snapshot_id} not in metadata (have "
            f"{[s.get('snapshot-id') for s in snaps]})")

    def _data_files(self, snap: dict, manifest_ok=None
                    ) -> tuple[list[dict], list[dict]]:
        """Live ``(data_files, delete_files)`` for a snapshot: replay
        its manifest list, then every manifest, keeping
        EXISTING/ADDED entries.  DATA manifests that ``manifest_ok``
        (the read plan's partition-summary pruning) rejects are
        skipped before their Avro is even opened; delete manifests
        are always replayed (a pruned data file simply finds no
        partner in the anti-join).  v2 position-delete files (content=1) and
        equality-delete files (content=2) are returned for
        merge-on-read application at scan time; every entry carries
        ``_seq``, its data sequence number (explicit on the manifest
        entry or inherited from the manifest-list entry per the v2
        inheritance rule) — equality deletes apply only to data
        files with a strictly smaller sequence number."""
        if not snap:
            return [], []
        if "manifest-list" in snap:
            with open(_localize(snap["manifest-list"]), "rb") as fh:
                _, entries = avro_read(fh.read())
            manifests = entries
        else:  # legacy v1 inline manifests list
            manifests = [{"manifest_path": p} for p in
                         snap.get("manifests", [])]
        if manifest_ok is not None:
            manifests = [m for m in manifests
                         if m.get("content", 0) == 1 or manifest_ok(m)]
        out: list[dict] = []
        deletes: list[dict] = []
        for m in manifests:
            is_delete_manifest = m.get("content", 0) == 1
            mseq = m.get("sequence_number")
            with open(_localize(m["manifest_path"]), "rb") as fh:
                _, recs = avro_read(fh.read())
            for r in recs:
                if r.get("status") == 2:  # DELETED entry
                    continue
                df = r["data_file"]
                df["_seq"] = r.get("sequence_number")
                if df["_seq"] is None:
                    df["_seq"] = mseq  # v2 inheritance
                content = df.get("content", 0)
                fmt = (df.get("file_format") or "").upper()
                if content == 2:
                    if fmt != "PARQUET":
                        raise NotImplementedError(
                            f"iceberg: {fmt or '?'} equality-delete "
                            "files unsupported (parquet only)")
                    if not df.get("equality_ids"):
                        raise ValueError(
                            "iceberg: equality delete file lists no "
                            "equality_ids")
                    if df["_seq"] is None:
                        raise ValueError(
                            "iceberg: equality delete file without a "
                            "sequence number (explicit or inherited) "
                            "— applying it could delete rows written "
                            "after it")
                    deletes.append(df)
                    continue
                if content == 1 or is_delete_manifest:
                    if content != 1:
                        raise ValueError(
                            "iceberg: delete manifest lists a file "
                            f"with content={content} (expected 1)")
                    if fmt != "PARQUET":
                        raise NotImplementedError(
                            f"iceberg: {fmt or '?'} position-delete "
                            "files unsupported (parquet only)")
                    deletes.append(df)
                    continue
                if fmt not in ("PARQUET", "ORC"):
                    raise NotImplementedError(
                        f"iceberg: {fmt or '?'} data files unsupported "
                        "(parquet and ORC only; Avro data files are "
                        "legal per spec but rare — refused rather "
                        "than misread)")
                out.append(df)
        return out, deletes

    def resolve_ref(self, name: str) -> int:
        """Snapshot id a named ref (tag or branch, spec 'Snapshot
        References') points at."""
        md = self.metadata()
        refs = md.get("refs") or {}
        if name not in refs:
            raise ValueError(
                f"iceberg: no ref {name!r} (have {sorted(refs)})")
        return refs[name]["snapshot-id"]

    def snapshot_at(self, timestamp) -> int:
        """FOR SYSTEM_TIME AS OF resolution: the snapshot id of the
        LATEST snapshot whose ``timestamp-ms`` is <= the target
        (metadata list order is commit order; regressed clocks are
        adjusted upward with a running max).  Refuses a table whose
        candidate snapshots carry no ``timestamp-ms`` (legal in our
        pre-round-6 tables; real writers always record it) and a
        timestamp before the first snapshot.  ``timestamp`` may be a
        datetime (naive = UTC), an ISO-8601 string, or epoch ms."""
        ms = as_of_ms(timestamp)
        snaps = self.metadata().get("snapshots") or []
        if not snaps:
            raise ValueError(
                f"iceberg: no snapshots at {self.path!r} to resolve "
                "a timestamp against")
        best = None
        run = 0
        for s in snaps:
            t = s.get("timestamp-ms")
            if t is None:
                raise ValueError(
                    f"iceberg: snapshot {s.get('snapshot-id')} has "
                    "no timestamp-ms — timestamp travel is undefined "
                    "on this table (use snapshot_id)")
            run = max(run, int(t))
            if run <= ms:
                best = s["snapshot-id"]
        if best is None:
            raise ValueError(
                f"iceberg: timestamp {ms} ms is before the first "
                f"snapshot of {self.path!r}")
        return best

    def _read_plan(self, snapshot_id: int | None = None,
                   ref: str | None = None, as_of=None,
                   where: list[tuple] | None = None) -> _ReadPlan:
        """The one plan of a snapshot read (:class:`_ReadPlan`),
        shared by :meth:`read`, the registered source's batch reader
        and the row-level DML: at most one of ``snapshot_id`` /
        ``ref`` / ``as_of`` (a ref resolves via :meth:`resolve_ref`, a
        timestamp via :meth:`snapshot_at`; none: the current
        snapshot), and the ``where`` predicates checked against the
        schema.  Manifests and files are pruned when the plan lists
        them (:meth:`_ReadPlan.files`)."""
        if sum(x is not None for x in (snapshot_id, ref, as_of)) > 1:
            raise ValueError(
                "iceberg: pass only one of snapshot_id / ref / as_of "
                "(source options snapshotId / ref / as-of-timestamp)")
        if ref is not None:
            snapshot_id = self.resolve_ref(ref)
        elif as_of is not None:
            snapshot_id = self.snapshot_at(as_of)
        md = self.metadata()
        return _ReadPlan(self, md, self._snapshot(md, snapshot_id),
                         []).where(where)

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None,
             where: list[tuple] | None = None,
             ref: str | None = None,
             as_of=None) -> DataFrame:
        """Snapshot read (optionally time-traveled by snapshot id, ref
        or timestamp) of the files :meth:`_read_plan` lists.

        ``where`` — a list of ``(column, op, literal)`` predicates
        with op in =, <, <=, >, >= — is applied twice: first as
        MANIFEST- and FILE-LEVEL pruning against the manifests'
        partition summaries and per-column lower/upper_bounds (the
        Iceberg scan-planning contract: at 100 TB a selective query
        must not list-and-scan every data file), then as ordinary
        DataFrame filters so correctness never depends on the pruning
        (missing or undecodable bounds keep the file; Catalyst pushes
        the residual filters to the parquet row groups).

        Column resolution is BY NAME (Iceberg's is by field id):
        every scanned file's parquet footer must contain every
        required top-level column (:func:`_check_footer`), else raise
        — a renamed column would otherwise come back as silent
        nulls."""
        plan = self._read_plan(snapshot_id, ref, as_of, where)
        files, delete_files = plan.files()
        return self._scan_planned(spark, files, delete_files, plan.md,
                                  plan.preds)

    def _scan_planned(self, spark: SparkSession, files: list[dict],
                      delete_files: list[dict], md: dict,
                      preds: list, keep_pos: bool = False) -> DataFrame:
        """Scan already-planned (and pruned) data files with optional
        merge-on-read deletes: footer name guard, typed read, delete
        application, residual filters.  Shared by :meth:`read`,
        :meth:`incremental`, compaction and (``keep_pos``: the
        ``_ice_path``/``_ice_pos`` columns of
        :meth:`_apply_deletes`, parquet only) the row-level DML."""
        ice_schema = self._current_schema(md)
        schema = _to_spark_schema(ice_schema)
        if not files:
            return spark.createDataFrame([], schema)
        by_fmt: dict[str, list[str]] = {}
        for f in files:
            by_fmt.setdefault((f.get("file_format") or "PARQUET")
                              .upper(), []).append(
                _localize(f["file_path"]))
        import pyarrow.parquet as pq
        for p in by_fmt.get("PARQUET", []):
            if os.path.exists(p):
                _check_footer(p, pq.ParquetFile(p).schema_arrow.names,
                              schema)
        if by_fmt.get("ORC"):
            try:
                import pyarrow.orc as po
            except ImportError:
                po = None  # footer guard skipped; read still typed
            if po is not None:
                for p in by_fmt["ORC"]:
                    if os.path.exists(p):
                        _check_footer(p, po.ORCFile(p).schema.names,
                                      schema)
        if (delete_files or keep_pos) and by_fmt.get("ORC"):
            raise NotImplementedError(
                "iceberg: position deletes and row-level DML over ORC "
                "data files unsupported (Spark exposes "
                "_metadata.row_index for parquet scans only)")
        out = None
        if by_fmt.get("PARQUET"):
            out = spark.read.schema(schema).parquet(
                *by_fmt["PARQUET"])
            if delete_files or keep_pos:
                out = self._apply_deletes(
                    spark, out, delete_files, schema, ice_schema,
                    files, keep_pos)
        if by_fmt.get("ORC"):
            orc_df = spark.read.schema(schema).orc(*by_fmt["ORC"])
            out = orc_df if out is None else out.unionByName(orc_df)
        for col, op, lit in preds:
            from pyspark.sql import functions as F
            c = F.col(col)
            out = out.filter({"=": c == lit, "<": c < lit,
                              "<=": c <= lit, ">": c > lit,
                              ">=": c >= lit}[op])
        return out

    def _added_files(self, snap: dict) -> list[dict]:
        """Data files ADDED by exactly this snapshot: only manifests
        the snapshot itself wrote (``added_snapshot_id`` == its id —
        fast-append carries older manifests forward untouched, so
        they are skipped without opening their Avro) and, inside
        them, only status=1 entries whose ``snapshot_id`` is this
        snapshot's (or inherited, which per the v2 inheritance rule
        means the manifest's ``added_snapshot_id``)."""
        sid = snap["snapshot-id"]
        if "manifest-list" in snap:
            with open(_localize(snap["manifest-list"]), "rb") as fh:
                _, manifests = avro_read(fh.read())
        else:  # legacy v1 inline manifests list: no added_snapshot_id
            manifests = [{"manifest_path": p} for p in
                         snap.get("manifests", [])]
        out: list[dict] = []
        for m in manifests:
            if m.get("added_snapshot_id") not in (None, sid):
                continue
            if m.get("content", 0) == 1:
                raise ValueError(
                    f"iceberg incremental: append snapshot {sid} "
                    "added a DELETE manifest — its summary lies")
            with open(_localize(m["manifest_path"]), "rb") as fh:
                _, recs = avro_read(fh.read())
            for r in recs:
                if r.get("status") != 1:  # only ADDED entries
                    continue
                if r.get("snapshot_id") not in (None, sid):
                    continue
                df = r["data_file"]
                if df.get("content", 0) != 0:
                    raise ValueError(
                        f"iceberg incremental: append snapshot {sid} "
                        f"added a content={df.get('content')} file")
                fmt = (df.get("file_format") or "").upper()
                if fmt not in ("PARQUET", "ORC"):
                    raise NotImplementedError(
                        f"iceberg: {fmt or '?'} data files "
                        "unsupported (parquet and ORC only)")
                out.append(df)
        return out

    def incremental(self, spark: SparkSession,
                    from_snapshot_id: int | None,
                    to_snapshot_id: int | None = None,
                    where: list[tuple] | None = None) -> DataFrame:
        """Incremental APPEND scan (Iceberg's
        ``IncrementalAppendScan`` / Spark's ``start-snapshot-id`` /
        ``end-snapshot-id`` read options): the records ADDED by the
        snapshots strictly AFTER ``from_snapshot_id`` up to and
        including ``to_snapshot_id`` (default: the current
        snapshot), walking the parent chain so a table whose history
        diverged from the requested ancestor refuses instead of
        double-counting.  ``from_snapshot_id=None`` means the whole
        history — every record ever appended and still recorded.

        Matching the upstream contract: ``delete`` snapshots inside
        the range are SKIPPED (they add no records — an incremental
        APPEND scan reports appends, not retractions; use a CDC-style
        diff for those), while ``overwrite``/``replace`` snapshots
        REFUSE — rewritten files re-add records an append-only
        consumer would double-count.  ``where`` prunes and filters
        exactly like :meth:`read`, through the same plan."""
        plan = self._read_plan(where=where)
        md = plan.md
        to_id = (md.get("current-snapshot-id")
                 if to_snapshot_id is None else to_snapshot_id)
        if to_id in (None, -1):
            return spark.createDataFrame(
                [], _to_spark_schema(plan.ice_schema))
        _, _, chain = _walk_chain(
            md, -1 if from_snapshot_id is None else from_snapshot_id,
            to_id, "iceberg incremental")
        files: list[dict] = []
        for s in reversed(chain):  # oldest first
            op = (s.get("summary") or {}).get("operation", "append")
            if op == "delete":
                continue
            if op != "append":
                raise ValueError(
                    f"iceberg incremental: snapshot "
                    f"{s['snapshot-id']} is {op!r} — an incremental "
                    "APPEND scan is only defined over append/delete "
                    "history (rewritten files would double-count)")
            files += self._added_files(s)
        return self._scan_planned(spark, plan.pruned(files), [], md,
                                  plan.preds)

    @staticmethod
    def _apply_deletes(spark: SparkSession, data: DataFrame,
                       delete_files: list[dict],
                       schema: T.StructType, ice_schema: dict,
                       data_files: list[dict],
                       keep_pos: bool = False) -> DataFrame:
        """Merge-on-read: apply the snapshot's position-delete
        (content=1) and equality-delete (content=2) files.

        ``keep_pos=True`` keeps the ``_ice_path`` (normalized data
        file path) and ``_ice_pos`` (0-based row ordinal) columns on
        the result — the row-level DML writers (UPDATE / MERGE /
        DELETE in ``iceberg_write.py``) use them to address the
        matched rows' position-delete entries.

        POSITION deletes (spec "Position Delete Files": ``file_path``
        = the data file's path exactly as in its manifest, ``pos`` =
        0-based row ordinal): re-scan WITH the hidden ``_metadata``
        columns (``file_path``, ``row_index`` — the parquet reader
        materializes row ordinals for free, no window or zipWithIndex
        pass) and LEFT ANTI join on the normalized pair.  No sequence
        ordering needed: a pair addresses one physical row of one
        immutable file.

        EQUALITY deletes (spec "Equality Delete Files"): each file
        holds the column subset named by its ``equality_ids``; a row
        is deleted when every listed column matches (null-safe — a
        null in the delete row means IS NULL) AND the data file's
        sequence number is STRICTLY LESS than the delete file's (a
        re-insert of the same key in a later commit survives).  The
        per-file sequence number reaches rows via a broadcast
        (path -> seq) join on ``_metadata.file_path``; each delete
        file then applies as one more broadcast anti join.

        Every delete set is tiny relative to the data (it only lists
        deleted rows/keys), so AQE broadcasts all the anti joins; at
        100 TB this is one scan plus broadcast probes, not a
        shuffle."""
        from pyspark.sql import functions as F

        pos, eq = _delete_pairs(delete_files, data_files, ice_schema)
        out = data.select(
            "*",
            _localize_col(F.col("_metadata.file_path")).alias("_ice_path"),
            F.col("_metadata.row_index").alias("_ice_pos"))
        if pos:
            dset = (spark.read
                    .schema(T.StructType([
                        T.StructField("file_path", T.StringType()),
                        T.StructField("pos", T.LongType())]))
                    .parquet(*[p for p, _ in pos])
                    .select(_localize_col(F.col("file_path"))
                            .alias("_del_path"),
                            F.col("pos").alias("_del_pos"))
                    .dropDuplicates(["_del_path", "_del_pos"]))
            out = out.join(
                dset,
                (out["_ice_path"] == dset["_del_path"])
                & (out["_ice_pos"] == dset["_del_pos"]),
                "left_anti")
        if eq:
            seq_df = spark.createDataFrame(
                [(_localize(f["file_path"]), int(f["_seq"]))
                 for f in data_files],
                "_seq_path string, _file_seq long")
            out = out.join(F.broadcast(seq_df),
                           out["_ice_path"] == seq_df["_seq_path"],
                           "left").drop("_seq_path")
            # GROUP delete files by their key-column set: a long CDC
            # history accumulates many small delete files, and one
            # anti-join per FILE grows the plan linearly.  Per key
            # set, the union collapses to max(seq) per key — a key is
            # deleted from a data file iff SOME matching delete has a
            # larger seq, iff the LARGEST matching seq does — so the
            # whole group applies as ONE aggregated broadcast anti
            # join, O(1) plan size per key set at any batch count.
            groups: dict[tuple, list] = {}
            for (path, seq, cols), _ in eq:
                groups.setdefault(cols, []).append((path, seq))
            for cols, ds in sorted(groups.items()):
                dset = None
                for path, seq in ds:
                    piece = (spark.read.parquet(path)
                             .select([F.col(c).alias(f"_eq_{c}")
                                      for c in cols])
                             .withColumn("_del_seq", F.lit(seq)))
                    dset = piece if dset is None \
                        else dset.unionByName(piece)
                dset = (dset.groupBy(*[f"_eq_{c}" for c in cols])
                        .agg(F.max("_del_seq").alias("_del_seq")))
                cond = F.lit(True)
                for c in cols:
                    cond = cond & out[c].eqNullSafe(
                        dset[f"_eq_{c}"])
                cond = cond & (out["_file_seq"] < dset["_del_seq"])
                out = out.join(F.broadcast(dset), cond, "left_anti")
        keep = [F.col(f.name) for f in schema.fields]
        if keep_pos:
            keep += [F.col("_ice_path"), F.col("_ice_pos")]
        return out.select(*keep)


def read_iceberg(spark: SparkSession, path: str,
                 snapshot_id: int | None = None,
                 where: list[tuple] | None = None,
                 ref: str | None = None,
                 as_of=None) -> DataFrame:
    """Read an Iceberg table (see :class:`IcebergTable.read`)."""
    return IcebergTable(path).read(spark, snapshot_id, where=where,
                                   ref=ref, as_of=as_of)


def read_iceberg_incremental(spark: SparkSession, path: str,
                             from_snapshot_id: int | None,
                             to_snapshot_id: int | None = None,
                             where: list[tuple] | None = None
                             ) -> DataFrame:
    """Incremental append scan (see
    :class:`IcebergTable.incremental`)."""
    return IcebergTable(path).incremental(
        spark, from_snapshot_id, to_snapshot_id, where=where)
