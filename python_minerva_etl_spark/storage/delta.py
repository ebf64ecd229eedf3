"""Delta-format interop without the Delta jar: a transaction-log
replayer (reader) and a protocol-conformant commit writer.

The Delta Lake table layout is an open, published protocol
(delta.io PROTOCOL.md): a directory of parquet data files plus a
``_delta_log/`` of ordered commits — ``<version>.json`` files of
newline-delimited action objects (``protocol`` / ``metaData`` /
``add`` / ``remove`` / ``commitInfo``), optionally compacted into
``<version>.checkpoint.parquet`` (single-part) or
``<version>.checkpoint.<i>.<n>.parquet`` (multi-part) files
referenced by ``_last_checkpoint``.  A snapshot at version V is the
replay of actions 0..V: the last ``metaData`` wins and, per path,
the LATEST ``add``/``remove`` wins — active files are the surviving
adds, and surviving removes are the tombstones checkpoints must
carry.

This module implements that replay directly (stdlib json + pyarrow
for checkpoints), so this engine can:

- READ Delta tables written by other systems — current snapshot or
  ``version_as_of`` time travel, including Hive-partitioned tables
  (partition columns reconstructed from ``partitionValues``) and
  multi-part checkpoints;
- WRITE Delta tables other systems can read — append / overwrite
  commits with correct add/remove actions, schemaString, atomic
  rename commit files, and periodic parquet checkpoints (including
  remove tombstones, as PROTOCOL.md requires) + ``_last_checkpoint``.

Scope (documented, not hidden): reader supports protocol
minReaderVersion 1 tables, minReaderVersion 2 tables in every
``delta.columnMapping.mode`` (``none``; ``name`` via physical-name
resolution; ``id`` via Spark's parquet field-id resolution — the
read schema carries ``parquet.field.id`` metadata, so files keep
resolving across renames), and minReaderVersion 3 (table features)
when
every declared readerFeature is implemented — currently
``deletionVectors`` (merge-on-read DELETE, applied at scan time via
the from-scratch roaring-bitmap reader in :mod:`.delta_dv`),
``timestampNtz``, ``columnMapping`` (name and id modes),
``v2Checkpoint``,
and ``vacuumProtocolCheck``.  Writes refuse tables
whose writerFeatures exceed what this writer implements (an
oblivious commit breaks the invariants other engines rely on) and
honor ``delta.appendOnly``.  Writer emits minReaderVersion 1 /
minWriterVersion 2; the first :meth:`DeltaTable.delete` upgrades to
reader 3 / writer 7 with the ``deletionVectors`` feature.

A truncated log (expired JSON commits below the oldest surviving
one, with no checkpoint covering the gap) raises instead of
silently replaying a partial file set.

Reference parity: the reference system (hendrikx-itc/
python-minerva-etl) stores everything in PostgreSQL and has no lake
format; this backs SURVEY §2 OP-SRC/OP-SNK interop at 100 TB scale
where Delta/Iceberg neighbors are the norm.
"""

from __future__ import annotations

import builtins
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .stats import (as_of_ms, footer_bounds, may_match, zorder_cluster,
                    zorder_proxy_sql)

_LOG = "_delta_log"
_CHECKPOINT_EVERY = 10
_COMMIT_RETRIES = 10

# Table features (protocol reader v3 / writer v7) this engine
# implements.  Reading a table whose readerFeatures exceed this set
# refuses; writing to a table whose writerFeatures exceed the writer
# set refuses (a write that ignores an unknown feature's invariants —
# e.g. row tracking's baseRowId continuity — corrupts the table for
# the engines that rely on it).
_READER_FEATURES = {"deletionVectors", "timestampNtz",
                    "vacuumProtocolCheck", "columnMapping",
                    "v2Checkpoint"}
_WRITER_FEATURES = {"deletionVectors", "appendOnly", "invariants",
                    "timestampNtz", "vacuumProtocolCheck",
                    "changeDataFeed", "checkConstraints",
                    "generatedColumns", "columnMapping"}

_CP_SINGLE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CP_MULTI = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
# V2 checkpoints (table feature "v2Checkpoint"): UUID-named top-level
# file, json or parquet, which may delegate its file actions to
# sidecar parquet files under _delta_log/_sidecars/.  The middle
# segment cannot contain dots, so multi-part names never match.
_CP_V2 = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-zA-Z_-]+)\.(parquet|json)$")


def _undict(obj):
    # arrow map<str,str> round-trips as a list of (k, v) tuples;
    # restore the dicts the json-log replay expects
    if isinstance(obj, list) and obj and \
            all(isinstance(x, tuple) and len(x) == 2
                for x in obj):
        return {k: _undict(val) for k, val in obj}
    if isinstance(obj, list):
        return [_undict(x) for x in obj]
    if isinstance(obj, dict):
        return {k: _undict(val) for k, val in obj.items()}
    return obj


_ACTION_KINDS = ("protocol", "metaData", "add", "remove", "txn",
                 "domainMetadata")


def _file_stats(path: str, fields: list[T.StructField]) -> str | None:
    """Per-file stats JSON for an add action (PROTOCOL.md Per-file
    Statistics): numRecords + min/maxValues/nullCount for top-level
    int/long/float/double/string/bool columns, read from the parquet
    footer — so readers (ours and foreign) can skip files."""
    want = [f.name for f in fields
            if isinstance(f.dataType, (T.IntegerType, T.LongType,
                                       T.FloatType, T.DoubleType,
                                       T.StringType, T.BooleanType))]
    try:
        rows, cols = footer_bounds(path, want)
    except (OSError, ValueError):  # unreadable footer: no stats
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for name, b in cols.items():
        if b.nulls is not None:
            nulls[name] = b.nulls
        lo, hi = b.lo, b.hi
        if isinstance(lo, bytes):
            try:
                lo, hi = lo.decode(), hi.decode()
            except UnicodeDecodeError:
                continue
        if lo is not None:
            mins[name], maxs[name] = lo, hi
    return json.dumps({"numRecords": rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls,
                       "tightBounds": True})


def _add_may_match(add: dict, preds: list[tuple],
                   part_cols: list[str],
                   type_of: dict[str, T.DataType]) -> bool:
    """Conservative file-skip test: False only when the add action's
    partitionValues or stats PROVE no row can satisfy every
    predicate.  Anything unparseable keeps the file (pruning is an
    optimization, never a filter)."""
    def cast_pv(col, raw):
        if raw is None:
            return None
        dt = type_of.get(col)
        if isinstance(dt, (T.IntegerType, T.LongType)):
            return int(raw)
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            return float(raw)
        return raw

    stats = None
    if add.get("stats"):
        try:
            stats = json.loads(add["stats"])
        except (ValueError, TypeError):
            stats = None
    for col, op, lit in preds:
        if col in part_cols:
            try:
                pv = cast_pv(col, (add.get("partitionValues")
                                   or {}).get(col))
            except (ValueError, TypeError):
                continue
            if pv is None:
                # a null partition value satisfies no comparison
                return False
            if not may_match(pv, pv, op, lit):
                return False
            continue
        if not stats:
            continue
        lo = (stats.get("minValues") or {}).get(col)
        hi = (stats.get("maxValues") or {}).get(col)
        if lo is not None and hi is not None \
                and not may_match(lo, hi, op, lit):
            return False
    return True

_CM_PHYS = "delta.columnMapping.physicalName"


def _physical_name(f: T.StructField) -> str:
    """The parquet-side name of a column-mapped field (PROTOCOL.md
    Column Mapping: every field's metadata carries
    ``delta.columnMapping.physicalName`` once mapping is enabled)."""
    pname = (f.metadata or {}).get(_CM_PHYS)
    if not pname:
        raise ValueError(
            f"Delta column mapping is enabled but field {f.name!r} "
            f"carries no {_CM_PHYS} metadata — the physical parquet "
            "column cannot be located")
    return pname


class _CmMap(dict):
    """{logical: physical} column mapping with an optional ``.ids``
    ({logical: column id}) attribute for mode-id staging and a
    ``.fields`` ({logical: StructField}) attribute carrying the full
    mapped schema fields (nested physicalName/id metadata included)
    so staging can rebuild nested columns physically."""

    ids: dict | None = None
    fields: dict | None = None


def _field_id(f: T.StructField) -> int:
    """The stable column id of a mapped field (PROTOCOL.md Column
    Mapping: ``delta.columnMapping.id``) — mode ``id`` tables resolve
    parquet columns by this id, not by name."""
    cid = (f.metadata or {}).get("delta.columnMapping.id")
    if cid is None:
        raise ValueError(
            f"Delta column mapping mode 'id' but field {f.name!r} "
            "carries no delta.columnMapping.id metadata")
    return int(cid)


def _physical_type(dt: T.DataType,
                   with_ids: bool = False) -> T.DataType:
    """Recursively rewrite a logical type to its physical (parquet)
    shape: struct field names become their physicalName.  With
    ``with_ids`` each struct field also carries ``parquet.field.id``
    metadata so Spark's field-id parquet resolution
    (``spark.sql.parquet.fieldId.read.enabled``) matches columns by
    id — mode ``id`` tables' files may spell ANY physical name (e.g.
    pre-rename ones); only the id is stable."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(_physical_name(f),
                          _physical_type(f.dataType, with_ids),
                          f.nullable,
                          {"parquet.field.id": _field_id(f)}
                          if with_ids else None)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType, with_ids),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_physical_type(dt.keyType, with_ids),
                         _physical_type(dt.valueType, with_ids),
                         dt.valueContainsNull)
    return dt


def _physical_expr(col, ldt: T.DataType):
    """Inverse of :func:`_logical_expr`: rebuild a LOGICAL column
    under its physical names for staging (structs field-by-field,
    null-preserving; arrays/maps via transform/transform_values —
    JVM-side, no UDFs).  Nested parquet.field.id metadata is applied
    afterwards via ``DataFrame.to`` (expressions cannot carry nested
    metadata)."""
    if isinstance(ldt, T.StructType):
        rebuilt = F.struct(*[
            _physical_expr(col[f.name], f.dataType)
            .alias(_physical_name(f)) for f in ldt.fields])
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(ldt, T.ArrayType) and _needs_rename(ldt.elementType):
        return F.transform(
            col, lambda x: _physical_expr(x, ldt.elementType))
    if isinstance(ldt, T.MapType) and _needs_rename(ldt.valueType):
        return F.transform_values(
            col, lambda k, v: _physical_expr(v, ldt.valueType))
    return col


def _cm_id(f: T.StructField):
    """``delta.columnMapping.id`` as an int, or None when the field
    carries none (synthetic columns like ``_change_type``)."""
    cid = (f.metadata or {}).get("delta.columnMapping.id")
    return int(cid) if cid is not None else None


def _arrow_field_id(af):
    """The ``PARQUET:field_id`` of a pyarrow field, or None."""
    raw = (af.metadata or {}).get(b"PARQUET:field_id")
    try:
        return int(raw) if raw is not None else None
    except ValueError:
        return None


def _localize_type(dt: T.DataType, at) -> T.DataType:
    """Recurse :func:`_localize_field` through containers; ``at`` is
    the file's pyarrow type at the same position (or None when the
    file lacks it — the schema's own spelling is kept and the scan
    null-fills)."""
    import pyarrow as pa

    if isinstance(dt, T.StructType):
        sub: dict[int, object] = {}
        if at is not None and pa.types.is_struct(at):
            for i in range(at.num_fields):
                sf = at.field(i)
                fid = _arrow_field_id(sf)
                if fid is not None:
                    sub[fid] = sf
        return T.StructType([_localize_field(f, sub.get(_cm_id(f)))
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        elem = (at.value_field.type
                if at is not None
                and (pa.types.is_list(at) or pa.types.is_large_list(at))
                else None)
        return T.ArrayType(_localize_type(dt.elementType, elem),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        kt = vt = None
        if at is not None and pa.types.is_map(at):
            kt, vt = at.key_type, at.item_type
        return T.MapType(_localize_type(dt.keyType, kt),
                         _localize_type(dt.valueType, vt),
                         dt.valueContainsNull)
    return dt


def _localize_field(f: T.StructField, af) -> T.StructField:
    """Copy of a mapped logical field whose ``physicalName`` metadata
    (at EVERY nesting level) is rewritten to ONE FILE's actual
    spelling, matched by parquet field id — the per-file half of
    id-mode resolution (PROTOCOL.md Column Mapping: "in `id` mode
    readers must resolve columns by field id"), done HERE instead of
    via ``spark.sql.parquet.fieldId.read.enabled`` because Spark's
    nested SchemaPruning rebuilds pruned struct types WITHOUT their
    per-field ``parquet.field.id`` metadata: a pruned scan of a
    pre-rename file silently fell back to name matching and
    null-filled (``df.filter("s.x = 10")`` returned 0 rows while
    ``df.select("s")`` showed x=10).  With the file's own spelling in
    the read schema, plain NAME resolution is exact and nested
    pruning stays enabled — no session conf is touched.  ``af`` None
    (file lacks the id) keeps the schema's spelling: the scan
    null-fills, the schema-evolution contract."""
    md = dict(f.metadata or {})
    if af is not None:
        md[_CM_PHYS] = af.name
    return T.StructField(
        f.name,
        _localize_type(f.dataType, af.type if af is not None else None),
        f.nullable, md)


def _localized_fields(data_fields: list[T.StructField],
                      path: str) -> tuple:
    """The mapped data fields localized to ``path``'s footer schema
    (one driver-side footer read — metadata only, never row data)."""
    import pyarrow.parquet as pq

    arrow = pq.ParquetFile(path).schema_arrow
    top = {}
    for i in range(len(arrow.names)):
        af = arrow.field(i)
        fid = _arrow_field_id(af)
        if fid is not None:
            top[fid] = af
    return tuple(_localize_field(f, top.get(_cm_id(f)))
                 for f in data_fields)


def _strip_meta(dt: T.DataType) -> T.DataType:
    """The type with all NESTED field metadata removed — schema
    compatibility must compare shapes, not the column-mapping
    physicalName/id annotations a mapped table's nested types carry
    (PySpark type equality includes StructField metadata)."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _strip_meta(f.dataType), f.nullable)
            for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_meta(dt.elementType),
                           dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_strip_meta(dt.keyType),
                         _strip_meta(dt.valueType),
                         dt.valueContainsNull)
    return dt


def _needs_rename(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return True
    if isinstance(dt, T.ArrayType):
        return _needs_rename(dt.elementType)
    if isinstance(dt, T.MapType):
        return _needs_rename(dt.keyType) or _needs_rename(dt.valueType)
    return False


def _logical_expr(col, ldt: T.DataType):
    """Rebuild a physical column under its logical names: structs are
    reconstructed field-by-field (null-preserving), arrays/maps
    recurse via transform/transform_values — all JVM-side expressions,
    no UDFs."""
    if isinstance(ldt, T.StructType):
        rebuilt = F.struct(*[
            _logical_expr(col[_physical_name(f)], f.dataType)
            .alias(f.name) for f in ldt.fields])
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(ldt, T.ArrayType) and _needs_rename(ldt.elementType):
        return F.transform(
            col, lambda x: _logical_expr(x, ldt.elementType))
    if isinstance(ldt, T.MapType) and _needs_rename(ldt.valueType):
        return F.transform_values(
            col, lambda k, v: _logical_expr(v, ldt.valueType))
    return col


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG)


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:020d}.json")


class DeltaConcurrentCommit(FileExistsError):
    """A concurrent writer committed the version this writer staged.
    ``DeltaTable.write`` retries internally; this surfaces only when
    retries are exhausted or ``_commit`` is driven directly."""


class DeltaTable:
    """A Delta table rooted at ``path`` — log replay + commit write."""

    def __init__(self, path: str):
        self.path = path

    # ------------------------------------------------ log replay

    def versions(self) -> list[int]:
        d = _log_dir(self.path)
        if not os.path.isdir(d):
            return []
        out = []
        for name in os.listdir(d):
            if name.endswith(".json") and not name.startswith("_"):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _checkpoint_files(self, version: int) -> dict[int, list[str]]:
        """All classic checkpoints at or below ``version`` found by
        directory scan: {checkpoint_version: [part files in order]}."""
        d = _log_dir(self.path)
        found: dict[int, dict[int, str]] = {}
        for name in os.listdir(d):
            m = _CP_SINGLE.match(name)
            if m and int(m.group(1)) <= version:
                found.setdefault(int(m.group(1)), {})[0] = name
                continue
            m = _CP_MULTI.match(name)
            if m and int(m.group(1)) <= version:
                found.setdefault(int(m.group(1)), {})[int(m.group(2))] = name
        out: dict[int, list[str]] = {}
        for v, parts in found.items():
            out[v] = [os.path.join(d, parts[i]) for i in sorted(parts)]
        return out

    def _v2_checkpoint_files(self, version: int) -> dict[int, str]:
        """UUID-named v2 checkpoints at or below ``version``:
        {checkpoint_version: top-level file path}."""
        d = _log_dir(self.path)
        out: dict[int, str] = {}
        for name in os.listdir(d):
            m = _CP_V2.match(name)
            if m and int(m.group(1)) <= version:
                # any one v2 checkpoint per version is complete by
                # itself; prefer parquet deterministically on ties
                cur = out.get(int(m.group(1)))
                if cur is None or name.endswith(".parquet"):
                    out[int(m.group(1))] = os.path.join(d, name)
        return out

    def _load_v2_checkpoint(self, path: str) -> list[dict]:
        """Actions of one v2 checkpoint: the top-level file (json or
        parquet) plus every sidecar parquet it references
        (PROTOCOL.md V2 Checkpoints — sidecars hold the add/remove
        file actions; the top level holds protocol/metaData/txn and
        a checkpointMetadata marker)."""
        import pyarrow.parquet as pq

        if path.endswith(".json"):
            with open(path) as fh:
                rows = [json.loads(line) for line in fh
                        if line.strip()]
        else:
            rows = [{k: _undict(v) for k, v in r.items()}
                    for r in pq.read_table(path).to_pylist()]
        actions: list[dict] = []
        sidecars: list[dict] = []
        for row in rows:
            for kind in _ACTION_KINDS:
                if row.get(kind) is not None:
                    actions.append({kind: row[kind]})
            if row.get("sidecar") is not None:
                sidecars.append(row["sidecar"])
        sc_dir = os.path.join(_log_dir(self.path), "_sidecars")
        for sc in sidecars:
            sp = sc["path"]
            sp = re.sub("^file:/+", "/", sp)
            if not os.path.isabs(sp):
                sp = os.path.join(sc_dir, sp)
            if not os.path.exists(sp):
                raise ValueError(
                    f"v2 checkpoint sidecar missing: {sc['path']!r}")
            for r in pq.read_table(sp).to_pylist():
                for kind in ("add", "remove"):
                    if r.get(kind) is not None:
                        actions.append({kind: _undict(r[kind])})
        return actions

    def _checkpoint_before(self, version: int) -> tuple[int, list[dict]]:
        """Latest complete checkpoint at or below ``version`` —
        classic single/multi-part parquet or UUID-named V2 —
        consulting ``_last_checkpoint`` first (it carries the version
        and, for multi-part checkpoints, a ``parts`` count), falling
        back to a directory scan.  Multi-part checkpoints concatenate
        their parts' action rows; v2 checkpoints pull file actions
        from their sidecars.  Returns (checkpoint_version, actions);
        (-1, []) when none."""
        import pyarrow.parquet as pq

        d = _log_dir(self.path)
        by_version = self._checkpoint_files(version)
        v2 = self._v2_checkpoint_files(version)

        def classic_complete(v: int) -> bool:
            parts = by_version.get(v)
            if not parts:
                return False
            # multi-part completeness: the filename's <n> field says
            # how many parts the checkpoint has
            return all(_CP_SINGLE.match(os.path.basename(p))
                       or len(parts) == int(_CP_MULTI.match(
                           os.path.basename(p)).group(3))
                       for p in parts)

        pick: int | None = None
        lc_path = os.path.join(d, "_last_checkpoint")
        if os.path.exists(lc_path):
            try:
                with open(lc_path) as fh:
                    lc = json.load(fh)
                lv = int(lc["version"])
                n_parts = int(lc.get("parts") or 1)
                if lv <= version and (
                        (lv in by_version
                         and len(by_version[lv]) == n_parts)
                        or lv in v2):
                    pick = lv
            except (ValueError, KeyError, json.JSONDecodeError):
                pick = None  # corrupt _last_checkpoint: scan instead
        if pick is None:
            complete = [v for v in by_version if classic_complete(v)]
            complete += [v for v in v2 if v not in complete]
            if not complete:
                return -1, []
            pick = max(complete)
        if classic_complete(pick):
            actions: list[dict] = []
            for part in by_version[pick]:
                tbl = pq.read_table(part)
                for row in tbl.to_pylist():
                    for kind in _ACTION_KINDS:
                        if row.get(kind) is not None:
                            actions.append({kind: _undict(row[kind])})
            return pick, actions
        return pick, self._load_v2_checkpoint(v2[pick])

    def _replay(self, version: int | None = None) -> dict:
        versions = self.versions()
        # A fully checkpointed log may have no surviving JSON at all
        # (log cleanup expired every commit <= the checkpoint); the
        # checkpoint versions are valid snapshot targets too.
        cp_versions = (sorted(set(self._checkpoint_files(1 << 62))
                              | set(self._v2_checkpoint_files(1 << 62)))
                       if os.path.isdir(_log_dir(self.path)) else [])
        all_versions = sorted(set(versions) | set(cp_versions))
        if not all_versions:
            raise FileNotFoundError(
                f"no Delta log at {self.path!r} ({_LOG}/ missing or empty)")
        target = all_versions[-1] if version is None else version
        if target not in all_versions:
            raise ValueError(
                f"version {target} not in Delta log (have "
                f"{all_versions[0]}..{all_versions[-1]})")
        cp_version, actions = self._checkpoint_before(target)
        # Gap guard: every commit in (cp_version, target] must survive
        # on disk.  Expired/cleaned commits below the oldest surviving
        # JSON with no checkpoint covering them would otherwise be
        # silently skipped — dropping every file they added.
        missing = sorted(set(range(cp_version + 1, target + 1))
                         - set(versions))
        if missing:
            raise ValueError(
                f"Delta log gap: commits {missing[0]}..{missing[-1]} are "
                f"missing and no checkpoint at or above {missing[-1]} "
                f"covers them — refusing a partial replay")
        for v in versions:
            if cp_version < v <= target:
                with open(_commit_path(self.path, v)) as fh:
                    for line in fh:
                        if line.strip():
                            actions.append(json.loads(line))

        meta: dict | None = None
        protocol: dict | None = None
        # Reconciliation is keyed by (path, DV unique id), not path
        # alone (PROTOCOL.md Action Reconciliation): a deletion-vector
        # update commits remove(path, old DV) + add(path, new DV) in
        # ONE commit, in no guaranteed order — keyed by path alone,
        # an add-then-remove ordering would silently drop the file
        # (or a remove-then-add would resurrect the stale DV).
        # Surviving removes are tombstones — checkpoints must carry
        # them.  txn (setTransaction) actions keep the latest version
        # per appId — the idempotence ledger for streaming writers.
        from .delta_dv import dv_unique_id

        latest: dict[tuple[str, str | None], tuple[str, dict]] = {}
        txns: dict[str, int] = {}
        for act in actions:
            if "metaData" in act and act["metaData"]:
                meta = act["metaData"]
            elif "protocol" in act and act["protocol"]:
                protocol = act["protocol"]
            elif "add" in act and act["add"]:
                a = act["add"]
                key = (a["path"], dv_unique_id(a.get("deletionVector")))
                latest[key] = ("add", a)
            elif "remove" in act and act["remove"]:
                r = act["remove"]
                key = (r["path"], dv_unique_id(r.get("deletionVector")))
                latest[key] = ("remove", r)
            elif "txn" in act and act["txn"]:
                txns[act["txn"]["appId"]] = int(act["txn"]["version"])
        if protocol:
            mrv = protocol.get("minReaderVersion") or 1
            if mrv == 3:
                feats = set(protocol.get("readerFeatures") or [])
                unsupported = sorted(feats - _READER_FEATURES)
                if unsupported:
                    raise NotImplementedError(
                        f"Delta readerFeatures {unsupported} not "
                        f"supported (this reader implements "
                        f"{sorted(_READER_FEATURES)}); reading anyway "
                        "could silently misinterpret the physical "
                        "layout")
            elif mrv > 3:
                raise NotImplementedError(
                    f"Delta minReaderVersion {mrv} not supported")
            # mrv == 2 is the pre-table-features column-mapping
            # protocol — supported: read() resolves physical names
        if meta is None:
            raise ValueError("Delta log has no metaData action")
        files = [a for kind, a in latest.values() if kind == "add"]
        # One active add per physical file: two surviving adds for the
        # same path (necessarily with different DVs, or the keys would
        # collide) mean a writer updated a DV without removing the old
        # (path, DV) entry — ambiguous; reading either would be wrong.
        seen_paths: set[str] = set()
        for f in files:
            if f["path"] in seen_paths:
                raise ValueError(
                    f"Delta log is ambiguous: two active add actions "
                    f"reference {f['path']!r} with different deletion "
                    "vectors — refusing to pick one")
            seen_paths.add(f["path"])
        return {"version": target, "metaData": meta,
                "protocol": protocol,
                "files": files,
                "tombstones": [a for kind, a in latest.values()
                               if kind == "remove"],
                "txns": txns}

    # ------------------------------------------------ read

    def schema(self, version: int | None = None) -> T.StructType:
        snap = self._replay(version)
        return T.StructType.fromJson(
            json.loads(snap["metaData"]["schemaString"]))

    def _commit_ts_ms(self, v: int) -> int:
        """A commit's timestamp in epoch ms: the in-commit
        ``commitInfo.timestamp`` when present, else the log file's
        modification time — the same resolution order Spark's Delta
        uses for timestamp time travel."""
        cpath = _commit_path(self.path, v)
        with open(cpath) as fh:
            for line in fh:
                if line.strip():
                    info = json.loads(line).get("commitInfo")
                    if info and info.get("timestamp") is not None:
                        return int(info["timestamp"])
        return int(os.path.getmtime(cpath) * 1000)

    def version_at(self, timestamp) -> int:
        """The version a ``timestamp_as_of`` read resolves to: the
        LATEST commit whose timestamp is <= the target.  Non-
        monotonic commit timestamps (file mtimes can regress after a
        copy) are adjusted upward with a running max, matching the
        Delta reference behavior.  Refuses a timestamp earlier than
        the oldest SURVIVING commit (expired log JSON has no
        timestamp to resolve against).  ``timestamp`` may be a
        datetime (naive = UTC), an ISO-8601 string, or epoch
        milliseconds."""
        ms = as_of_ms(timestamp)
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(
                f"no surviving Delta commits at {self.path!r} to "
                "resolve a timestamp against")
        best = None
        run = 0
        for v in versions:
            run = max(run, self._commit_ts_ms(v))
            if run <= ms:
                best = v
        if best is None:
            raise ValueError(
                f"timestamp {ms} ms is before the earliest available "
                f"commit {versions[0]} of {self.path!r}")
        return best

    def read(self, spark: SparkSession,
             version_as_of: int | None = None,
             where: list[tuple] | None = None,
             timestamp_as_of=None,
             _with_pos: bool = False) -> DataFrame:
        """Snapshot read (optionally time-traveled).  Partitioned
        tables: files group by their ``partitionValues`` and the
        partition columns come back as typed literals — one
        spark.read per partition-value combination, unioned (the
        groups are metadata-only; data files are still read in
        parallel inside each group).

        Files carrying a ``deletionVector`` (merge-on-read DELETE,
        protocol feature ``deletionVectors``) are handled at scan
        time: the parquet reader's free ``_metadata.row_index``
        ordinals anti-join against the DV's decoded positions —
        decoded executor-side (one mapInPandas task per DV file, the
        from-scratch roaring reader in :mod:`.delta_dv`), so at
        100 TB the expansion scales out and the driver holds only
        descriptors.  ``_with_pos=True`` (internal; :meth:`delete`
        uses it) keeps the ``_dl_path``/``_dl_pos`` provenance
        columns on the result.

        ``timestamp_as_of`` time travel resolves via
        :meth:`version_at` (latest commit at or before the target;
        mutually exclusive with ``version_as_of``)."""
        if timestamp_as_of is not None:
            if version_as_of is not None:
                raise ValueError(
                    "pass version_as_of OR timestamp_as_of, not both")
            version_as_of = self.version_at(timestamp_as_of)
        snap = self._replay(version_as_of)
        meta = snap["metaData"]
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns") or []
        cm_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode") or "none"
        if cm_mode not in ("none", "name", "id"):
            raise NotImplementedError(
                f"Delta column mapping mode {cm_mode!r} unknown")
        mapped = cm_mode if cm_mode != "none" else None
        if mapped:
            # validate the mapping metadata EAGERLY (plan time, even
            # for empty tables): a table claiming column mapping with
            # unmapped schema fields is malformed, never misread
            for f in schema.fields:
                _physical_name(f)
                if mapped == "id":
                    _field_id(f)
        if mapped == "id":
            # flat id columns resolve via Spark's field-id parquet
            # path — a session conf, safe to pin (it only changes
            # behavior when ids are present in the read schema);
            # NESTED id columns resolve per file in _scan_files
            # instead, so no pruning conf is ever touched
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                           "true")
        files = snap["files"]
        pos_fields = [T.StructField("_dl_path", T.StringType()),
                      T.StructField("_dl_pos", T.LongType())]
        if not files:
            return spark.createDataFrame(
                [], T.StructType(schema.fields + pos_fields)
                if _with_pos else schema)
        if where:
            # file skipping on partitionValues + per-file stats: the
            # scan never opens a file whose metadata excludes every
            # predicate (the residual filter below keeps exactness)
            type_of = {f.name: f.dataType for f in schema.fields}
            files = [f for f in files
                     if _add_may_match(f, where, part_cols, type_of)]
            if not files:
                return spark.createDataFrame(
                    [], T.StructType(schema.fields + pos_fields)
                    if _with_pos else schema)
        dv_map = {f["path"]: f["deletionVector"] for f in files
                  if f.get("deletionVector")}
        need_pos = _with_pos or bool(dv_map)
        out = self._scan_files(spark, files, schema, part_cols,
                               mapped, need_pos)
        if dv_map:
            out = self._apply_dvs(spark, out, dv_map)
        if need_pos and not _with_pos:
            out = out.drop("_dl_path", "_dl_pos")
        for col, op, lit in (where or []):
            c = F.col(col)
            out = out.filter({"=": c == lit, "<": c < lit,
                              "<=": c <= lit, ">": c > lit,
                              ">=": c >= lit}[op])
        return out

    @staticmethod
    def _hive_layout(files: list[dict], part_cols: list[str],
                     pkey: dict[str, str]) -> bool:
        """True when every file's directory path IS the Hive encoding
        of its logged ``partitionValues`` (one ``col=value`` segment
        per partition column, in order, values compared PARSED so the
        escaping direction can't lie).  Spark-written Delta tables
        conform by construction; a foreign table with flat file names
        and log-only partitionValues does not, and keeps the general
        path."""
        from urllib.parse import unquote

        for f in files:
            segs = f["path"].split("/")[:-1]
            if len(segs) != len(part_cols):
                return False
            fpv = f.get("partitionValues") or {}
            for c, seg in zip(part_cols, segs):
                if "=" not in seg:
                    return False
                k, v = seg.split("=", 1)
                if k != pkey[c]:
                    return False
                parsed = (None if v == "__HIVE_DEFAULT_PARTITION__"
                          else unquote(v))
                if parsed != fpv.get(pkey[c], fpv.get(c)):
                    return False
        return True

    def _scan_hive(self, spark: SparkSession, files: list[dict],
                   schema: T.StructType,
                   need_pos: bool) -> DataFrame:
        """Single-scan fast path for Hive-conformant partitioned
        layouts: ONE FileScan whose partition columns derive from
        ``basePath``, instead of one scan per partition-value group.
        At 10^3-10^4 partitions the group-union plan is a driver-side
        bottleneck (N FileScan nodes, N file listings, quadratic-ish
        analysis); this stays O(1) in plan size, and partition-column
        filters become real partition pruning inside one relation.
        The caller established layout conformance; column-mapped or
        non-conformant tables use the general group-union path."""
        paths = [os.path.join(self.path, f["path"]) for f in files]
        df = (spark.read.schema(schema)
              .option("basePath", self.path).parquet(*paths))
        keep: list = [f.name for f in schema.fields]
        if need_pos:
            df = df.select(
                "*",
                F.regexp_replace(F.col("_metadata.file_path"),
                                 "^file:/+", "/").alias("_dl_path"),
                F.col("_metadata.row_index").alias("_dl_pos"))
            keep += ["_dl_path", "_dl_pos"]
        return df.select(*keep)

    # Partition-column types safe for the basePath fast path: their
    # directory-string round-trip is exact and timezone-free.
    # Timestamps (session-zone formatting) and fractional types
    # ("1.0" vs "1") stay on the literal path.
    _HIVE_FAST_TYPES = (T.StringType, T.IntegerType, T.LongType,
                        T.ShortType, T.ByteType, T.DateType,
                        T.BooleanType)

    def _scan_files(self, spark: SparkSession, files: list[dict],
                    schema: T.StructType, part_cols: list[str],
                    mapped, need_pos: bool) -> DataFrame:
        """One DataFrame over explicit file-action entries (add or
        cdc): files group by their ``partitionValues`` and the
        partition columns come back as typed literals; column-mapped
        tables (``mapped`` = "name" or "id") read physical names —
        mode "id" additionally stamps ``parquet.field.id`` metadata so
        Spark matches parquet columns by the stable field id even
        when a file spells a different (pre-rename) physical name.
        Mode "id" with NESTED mapped columns resolves ids per file
        FROM THE FOOTER instead (:func:`_localized_fields`, files
        sub-grouped by spelling and scanned by name): Spark's nested
        SchemaPruning drops ``parquet.field.id`` metadata from pruned
        struct types, so its field-id path null-fills pre-rename
        files — per-file localization keeps name resolution exact AND
        nested pruning enabled, with no session conf pinned.  Logical
        names are rebuilt on top; with ``need_pos`` each row carries
        ``_dl_path``/``_dl_pos`` provenance from the parquet reader's
        ``_metadata``.  Hive-conformant partitioned layouts
        short-circuit to the single-scan :meth:`_scan_hive` fast
        path."""
        data_fields = [f for f in schema.fields
                       if f.name not in part_cols]
        by_id = mapped == "id"

        def _meta(f):
            # a mapped field WITHOUT an id (e.g. the synthetic
            # _change_type in cdc files) matches by name — Spark's
            # field-id resolution falls back per field
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if by_id and fid is not None:
                return {"parquet.field.id": int(fid)}
            return None

        data_schema = T.StructType([
            T.StructField(_physical_name(f),
                          _physical_type(f.dataType, by_id
                                         and _meta(f) is not None),
                          f.nullable, _meta(f)) for f in data_fields
        ] if mapped else data_fields)
        # partitionValues are keyed by PHYSICAL name once mapping is
        # on (files and stats live in the physical world); fall back
        # to the logical key defensively
        pkey = {c: (_physical_name(next(
            f for f in schema.fields if f.name == c))
            if mapped else c) for c in part_cols}
        ptype = {f.name: f.dataType for f in schema.fields}
        if (part_cols and not mapped
                and all(isinstance(ptype[c], self._HIVE_FAST_TYPES)
                        for c in part_cols)
                and self._hive_layout(files, part_cols, pkey)):
            return self._scan_hive(spark, files, schema, need_pos)
        by_part: dict[tuple, list[str]] = {}
        for f in files:
            fpv = f.get("partitionValues") or {}
            pv = tuple(fpv.get(pkey[c], fpv.get(c))
                       for c in part_cols)
            by_part.setdefault(pv, []).append(
                os.path.join(self.path, f["path"]))
        out: DataFrame | None = None
        type_of = {f.name: f.dataType for f in schema.fields}
        keep = [f.name for f in schema.fields]
        if need_pos:
            keep += ["_dl_path", "_dl_pos"]
        # None-safe ordering: null partition values sort first (the
        # order is cosmetic — determinism only)
        id_nested = by_id and any(_needs_rename(f.dataType)
                                  for f in data_fields)
        loc_cache: dict[str, tuple] = {}

        def _scan_group(paths: list[str], fields, dschema) -> DataFrame:
            df = spark.read.schema(dschema).parquet(*paths)
            sel = ([_logical_expr(F.col(_physical_name(f)), f.dataType)
                    .alias(f.name) for f in fields]
                   if mapped else ["*"])
            if need_pos:
                # 'file:///p' -> '/p' so descriptor paths and Spark's
                # _metadata.file_path form always agree
                sel = sel + [
                    F.regexp_replace(F.col("_metadata.file_path"),
                                     "^file:/+", "/")
                    .alias("_dl_path"),
                    F.col("_metadata.row_index").alias("_dl_pos")]
            if mapped or need_pos:
                df = df.select(*sel)
            return df

        for pv, paths in sorted(
                by_part.items(),
                key=lambda kv: tuple((v is not None, v or "")
                                     for v in kv[0])):
            if id_nested:
                # sub-group by the files' actual nested spellings —
                # typically ONE group (all files post-mapping); a
                # group per spelling era otherwise.  Footer reads
                # are metadata-sized and I/O-bound: fetch them with
                # a bounded thread pool so a many-file table plans
                # in parallel, not one footer at a time
                todo = [fp for fp in paths if fp not in loc_cache]
                if len(todo) > 1:
                    from concurrent.futures import ThreadPoolExecutor
                    with ThreadPoolExecutor(
                            max_workers=min(16, len(todo))) as ex:
                        for fp, loc in zip(todo, ex.map(
                                lambda q: _localized_fields(
                                    data_fields, q), todo)):
                            loc_cache[fp] = loc
                groups: dict[str, list[str]] = {}
                locs: dict[str, tuple] = {}
                for fp in paths:
                    if fp not in loc_cache:
                        loc_cache[fp] = _localized_fields(
                            data_fields, fp)
                    loc = loc_cache[fp]
                    key = json.dumps([f.jsonValue() for f in loc],
                                     sort_keys=True)
                    groups.setdefault(key, []).append(fp)
                    locs[key] = loc
                df = None
                for key in sorted(groups):
                    loc = locs[key]
                    dschema = T.StructType([
                        T.StructField(_physical_name(lf),
                                      _physical_type(lf.dataType),
                                      lf.nullable) for lf in loc])
                    piece = _scan_group(sorted(groups[key]), loc,
                                        dschema)
                    df = piece if df is None \
                        else df.unionByName(piece)
            else:
                df = _scan_group(paths, data_fields, data_schema)
            for c, v in zip(part_cols, pv):
                # Delta serializes partition values as strings (null
                # encoded as JSON null); cast back per table schema
                df = df.withColumn(
                    c, F.lit(v).cast(type_of[c]))
            df = df.select(*keep)
            out = df if out is None else out.unionByName(df)
        return out

    def _dv_positions(self, spark: SparkSession,
                      rows: list[tuple]) -> DataFrame:
        """(abs file path, dv json, prior dv json | None) descriptors
        expanded to (``_del_path``, ``_del_pos``) pairs — the
        positions of the dv MINUS the prior dv — decoded
        executor-side (one mapInPandas task per DV, the from-scratch
        roaring reader in :mod:`.delta_dv`); the driver holds only
        descriptors."""
        table_path = os.path.abspath(self.path)
        desc = spark.createDataFrame(
            rows, "_del_path string, _new string, _old string")
        desc = desc.repartition(min(len(rows), 64))

        def expand(batches):
            import numpy as np
            import pandas as pd

            from .delta_dv import dv_load
            for pdf in batches:
                for dp, nj, oj in zip(pdf["_del_path"], pdf["_new"],
                                      pdf["_old"]):
                    positions = dv_load(table_path, json.loads(nj))
                    if oj is not None:
                        positions = np.setdiff1d(
                            positions,
                            dv_load(table_path, json.loads(oj)))
                    yield pd.DataFrame({
                        "_del_path": dp,
                        "_del_pos": positions.astype("int64")})

        return desc.mapInPandas(
            expand, "_del_path string, _del_pos long")

    def _apply_dvs(self, spark: SparkSession, out: DataFrame,
                   dv_map: dict[str, dict]) -> DataFrame:
        """Anti-join the scan against every file's deletion-vector
        positions — the deleted set is tiny relative to the data (it
        only lists deleted rows), so AQE broadcasts the probe side."""
        deleted = self._dv_positions(
            spark,
            [(os.path.abspath(os.path.join(self.path, rel)),
              json.dumps(dv), None) for rel, dv in dv_map.items()])
        return out.join(
            deleted,
            (out["_dl_path"] == deleted["_del_path"])
            & (out["_dl_pos"] == deleted["_del_pos"]),
            "left_anti")

    def changes(self, spark: SparkSession, starting_version: int = 0,
                ending_version: int | None = None) -> DataFrame:
        """Change Data Feed read over commits
        ``[starting_version, ending_version]``: the table schema plus
        ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``
        (the layout Delta's ``table_changes`` exposes).

        Per commit: ``cdc`` actions win when present (their
        ``_change_data/`` parquet carries ``_change_type`` including
        update pre/post images — PROTOCOL.md "Add CDC File"; when a
        commit has cdc actions, readers must use ONLY those).
        Otherwise changes derive from the file actions: a
        dataChange add is an ``insert`` of its live rows (minus its
        DV); a dataChange remove is a ``delete`` of the rows that
        were live (minus the remove's DV); a remove+add pair on one
        path with a new deletion vector is a ``delete`` of exactly
        the newly-masked positions (new DV minus old, computed
        executor-side).  An in-place rewrite without cdc actions and
        without a DV is not derivable and refuses.  Compaction pairs
        (dataChange=false) contribute nothing, as they must."""
        avail = self.versions()
        if not avail:
            raise FileNotFoundError(
                f"no Delta log at {self.path!r}")
        end = avail[-1] if ending_version is None else ending_version
        want = list(range(starting_version, end + 1))
        missing = sorted(set(want) - set(avail))
        if missing:
            raise ValueError(
                f"Delta changes: commits {missing[0]}..{missing[-1]} "
                "are missing (expired or future) — the change feed "
                "cannot be reconstructed")
        snap = self._replay(end)  # protocol gate
        meta = snap["metaData"]
        cm_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode") or "none"
        mapped = cm_mode if cm_mode != "none" else None
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        if mapped == "id":
            spark.conf.set("spark.sql.parquet.fieldId.read.enabled",
                           "true")
        # _change_type is synthetic: cdc files store it under its own
        # literal name even on mapped tables, so its "physical" name
        # is itself and (carrying no field id) it matches by NAME
        # even under id-mode resolution
        cdc_schema = T.StructType(
            schema.fields
            + [T.StructField("_change_type", T.StringType(), True,
                             {_CM_PHYS: "_change_type"}
                             if mapped else None)])
        cols = [f.name for f in schema.fields] + ["_change_type"]
        # metadata evolves inside the range: a commit's REMOVES
        # reference files written under the PRE-commit partitioning,
        # its adds/cdc under the post-commit one.  Column sets must
        # stay fixed (real CDF refuses incompatible schema change).
        cur_meta = (self._replay(starting_version - 1)["metaData"]
                    if starting_version > 0 else None)
        pieces: list[DataFrame] = []
        for v in want:
            cpath = _commit_path(self.path, v)
            with open(cpath) as fh:
                actions = [json.loads(line) for line in fh
                           if line.strip()]
            info = next((a["commitInfo"] for a in actions
                         if a.get("commitInfo")), {}) or {}
            ts = int(info.get("timestamp")
                     or os.path.getmtime(cpath) * 1000)
            new_meta = next((a["metaData"] for a in actions
                             if a.get("metaData")), None)
            meta_after = new_meta or cur_meta
            if meta_after is None:
                raise ValueError(
                    f"Delta changes: no metaData at or before commit "
                    f"{v}")
            names = [f.name for f in T.StructType.fromJson(
                json.loads(meta_after["schemaString"])).fields]
            if names != [f.name for f in schema.fields]:
                raise NotImplementedError(
                    f"Delta changes: the schema changed inside the "
                    f"requested range (commit {v}) — refusing a "
                    "mixed-schema change feed")
            part_before = ((cur_meta or meta_after)
                           .get("partitionColumns") or [])
            part_cols = meta_after.get("partitionColumns") or []
            cur_meta = meta_after

            def stamp(df, ctype=None, v=v, ts=ts):
                if ctype is not None:
                    df = df.withColumn("_change_type", F.lit(ctype))
                return df.select(
                    *cols,
                    F.lit(v).cast("long").alias("_commit_version"),
                    F.timestamp_millis(F.lit(ts))
                    .alias("_commit_timestamp"))

            cdc = [a["cdc"] for a in actions if a.get("cdc")]
            if cdc:
                pieces.append(stamp(self._scan_files(
                    spark, cdc, cdc_schema, part_cols, mapped,
                    False)))
                continue
            adds = {a["add"]["path"]: a["add"] for a in actions
                    if a.get("add")}
            removes = {a["remove"]["path"]: a["remove"]
                       for a in actions if a.get("remove")}
            ins, dels, dv_diffs = [], [], []
            for path in sorted(set(adds) | set(removes)):
                a, r = adds.get(path), removes.get(path)
                if a and r:
                    if not (a.get("dataChange")
                            or r.get("dataChange")):
                        continue  # compaction pair: no data change
                    if not a.get("deletionVector"):
                        raise NotImplementedError(
                            f"Delta changes: commit {v} rewrites "
                            f"{path!r} in place without cdc actions "
                            "— the row-level delta is not derivable")
                    dv_diffs.append(a)
                elif a is not None:
                    if a.get("dataChange"):
                        ins.append(a)
                elif r.get("dataChange"):
                    dels.append(r)
            if part_before and any(e.get("partitionValues") is None
                                   for e in dels):
                # removes may omit partitionValues; recover them from
                # the pre-commit snapshot
                prev = {f["path"]: f.get("partitionValues")
                        for f in self._replay(v - 1)["files"]}
                dels = [dict(e, partitionValues=prev.get(e["path"]))
                        if e.get("partitionValues") is None else e
                        for e in dels]

            def live_rows(entries, ctype, pcols):
                dvm = {e["path"]: e["deletionVector"]
                       for e in entries if e.get("deletionVector")}
                df = self._scan_files(spark, entries, schema,
                                      pcols, mapped, bool(dvm))
                if dvm:
                    df = self._apply_dvs(spark, df, dvm).drop(
                        "_dl_path", "_dl_pos")
                return stamp(df, ctype)

            if ins:
                pieces.append(live_rows(ins, "insert", part_cols))
            if dels:
                pieces.append(live_rows(dels, "delete", part_before))
            if dv_diffs:
                by_path = {f["path"]: f for f in
                           self._replay(v - 1)["files"]}
                rows = []
                for a in dv_diffs:
                    old = (by_path.get(a["path"]) or {}).get(
                        "deletionVector")
                    rows.append((
                        os.path.abspath(
                            os.path.join(self.path, a["path"])),
                        json.dumps(a["deletionVector"]),
                        json.dumps(old) if old else None))
                posdf = self._dv_positions(spark, rows)
                df = self._scan_files(spark, dv_diffs, schema,
                                      part_before, mapped, True)
                df = df.join(
                    posdf,
                    (df["_dl_path"] == posdf["_del_path"])
                    & (df["_dl_pos"] == posdf["_del_pos"]),
                    "left_semi").drop("_dl_path", "_dl_pos")
                pieces.append(stamp(df, "delete"))
        if not pieces:
            return spark.createDataFrame([], T.StructType(
                cdc_schema.fields
                + [T.StructField("_commit_version", T.LongType()),
                   T.StructField("_commit_timestamp",
                                 T.TimestampType())]))
        out = pieces[0]
        for df in pieces[1:]:
            out = out.unionByName(df)
        return out

    # ------------------------------------------------ write

    def _next_version(self) -> int:
        vs = self.versions()
        return (vs[-1] + 1) if vs else 0

    def _cm_mapping(self, snap: dict) -> "_CmMap | None":
        """{logical name: physical parquet name} for a column-mapped
        table (modes ``name`` AND ``id``), None when mapping is off —
        every write path stages parquet under PHYSICAL names on
        mapped tables (PROTOCOL.md Column Mapping: data files and
        partitionValues speak physical, the metaData schema speaks
        logical).  For mode ``id`` the returned mapping additionally
        carries ``.ids`` ({logical: column id}) so the staging can
        stamp ``parquet.field.id`` metadata — Spark then writes the
        PARQUET:field_id every id-resolving reader (including ours)
        matches on, at EVERY nesting level (``.fields`` carries the
        full mapped StructFields; staging rebuilds nested columns
        physically — :func:`_physical_expr` — and applies nested
        metadata via ``DataFrame.to``)."""
        conf = snap["metaData"].get("configuration") or {}
        mode = conf.get("delta.columnMapping.mode") or "none"
        if mode == "none":
            return None
        if mode not in ("name", "id"):
            raise NotImplementedError(
                f"Delta column mapping mode {mode!r}: writes "
                "unsupported")
        schema = T.StructType.fromJson(
            json.loads(snap["metaData"]["schemaString"]))
        out = _CmMap({f.name: _physical_name(f)
                      for f in schema.fields})
        out.fields = {f.name: f for f in schema.fields}
        if mode == "id":
            out.ids = {f.name: _field_id(f) for f in schema.fields}
        return out

    def _stage_data_files(self, df: DataFrame,
                          partition_by: list[str],
                          subdir: str = "",
                          action: str = "add",
                          cm: dict | None = None) -> list[dict]:
        """Write df as parquet part files at the table root with
        delta-style unique names; return add actions.  With
        ``partition_by``, files land in Hive-style ``col=value/``
        directories, the partition columns are NOT written into the
        data files, and each add action records its
        ``partitionValues`` as strings (null encoded as JSON null) —
        exactly the layout other Delta engines write and our reader
        reconstructs.  ``subdir``/``action`` redirect the staging for
        change-data files: ``action='cdc'`` lands the parts under
        ``_change_data/`` and returns ``cdc`` actions (PROTOCOL.md
        "Add CDC File": path, partitionValues, size,
        dataChange=false — no stats, the files never serve reads)."""
        from urllib.parse import unquote

        if cm:
            # column-mapped table: the parquet files and Hive dirs
            # speak PHYSICAL names at EVERY nesting level (extra
            # columns like _change_type pass through unmapped);
            # mode id additionally stamps parquet.field.id metadata
            # (nested included, applied via DataFrame.to — column
            # expressions cannot carry nested metadata) so Spark
            # writes the PARQUET:field_id the id-resolving readers
            # match on
            with_ids = getattr(cm, "ids", None) is not None
            fields = getattr(cm, "fields", None) or {}
            exprs = []
            for c in df.columns:
                f = fields.get(c)
                if f is None:  # unmapped extra column
                    exprs.append(F.col(f"`{c}`"))
                    continue
                expr = _physical_expr(F.col(f"`{c}`"), f.dataType)
                if _needs_rename(f.dataType):
                    # nested: the physical TYPE (with per-level
                    # parquet.field.id metadata in id mode) rides the
                    # cast — top-level Column metadata does not reach
                    # nested fields, and DataFrame.to() drops
                    # metadata-only changes on the floor
                    expr = expr.cast(
                        _physical_type(f.dataType, with_ids))
                if with_ids:
                    exprs.append(expr.alias(
                        _physical_name(f),
                        metadata={"parquet.field.id": _field_id(f)}))
                else:
                    exprs.append(expr.alias(_physical_name(f)))
            df = df.select(*exprs)
            partition_by = [cm.get(c, c) for c in partition_by]
        tmp = os.path.join(self.path, f"_staging_{uuid.uuid4().hex}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        adds = []
        now = int(time.time() * 1000)
        prefix = "cdc" if action == "cdc" else "part"
        for dirpath, _, names in os.walk(tmp):
            rel_dir = os.path.relpath(dirpath, tmp)
            pvals: dict[str, str | None] = {}
            ok = True
            if rel_dir != ".":
                for part in rel_dir.split(os.sep):
                    if "=" not in part:
                        ok = False
                        break
                    k, v = part.split("=", 1)
                    pvals[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                                else unquote(v))
            if not ok:
                continue
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                base = f"{prefix}-{uuid.uuid4().hex}-c000.snappy.parquet"
                final_rel = base if rel_dir == "." else \
                    os.path.join(rel_dir, base)
                if subdir:
                    final_rel = os.path.join(subdir, final_rel)
                final_abs = os.path.join(self.path, final_rel)
                os.makedirs(os.path.dirname(final_abs), exist_ok=True)
                os.replace(os.path.join(dirpath, name), final_abs)
                entry = {
                    "path": final_rel.replace(os.sep, "/"),
                    "partitionValues": pvals,
                    "size": os.path.getsize(final_abs),
                }
                if action == "cdc":
                    entry["dataChange"] = False
                else:
                    entry["modificationTime"] = now
                    entry["dataChange"] = True
                    stats = _file_stats(
                        final_abs,
                        [f for f in df.schema.fields
                         if f.name not in partition_by])
                    if stats:
                        entry["stats"] = stats
                adds.append({action: entry})
        shutil.rmtree(tmp, ignore_errors=True)
        return adds

    def _commit(self, version: int, actions: list[dict]) -> None:
        """Atomic commit: write to a temp file, rename into place.
        An existing commit file means a concurrent writer won — raise
        :class:`DeltaConcurrentCommit` (the Delta optimistic-
        concurrency contract; ``write`` retries on it)."""
        final = _commit_path(self.path, version)
        tmp = final + f".{uuid.uuid4().hex}.tmp"
        os.makedirs(_log_dir(self.path), exist_ok=True)
        with open(tmp, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
        # Put-if-absent: os.link raises FileExistsError atomically if
        # the commit file already exists, so two writers racing on the
        # same version can never both "win" — the loser gets
        # DeltaConcurrentCommit and ``write`` retries at version+1.
        # (An exists-check followed by os.replace is NOT atomic: both
        # racers can pass the check and the second replace silently
        # clobbers the first writer's committed actions.)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise DeltaConcurrentCommit(
                f"concurrent Delta commit at version {version}")
        finally:
            try:
                os.remove(tmp)
            except OSError:
                pass
        if version % _CHECKPOINT_EVERY == 0 and version > 0:
            self._write_checkpoint(version)

    @staticmethod
    def _append_compatible(table: T.StructType, df: T.StructType) -> bool:
        """Append schema check: same column names/types in order;
        writing a non-nullable df column into a nullable table column
        is fine, the reverse (introducing nulls into a non-nullable
        column) is not."""
        if [f.name for f in table.fields] != [f.name for f in df.fields]:
            return False
        for tf, wf in zip(table.fields, df.fields):
            if _strip_meta(tf.dataType) != _strip_meta(wf.dataType):
                return False
            if not tf.nullable and wf.nullable:
                return False
        return True

    @staticmethod
    def _merge_schemas(table: T.StructType,
                       batch: T.StructType) -> T.StructType:
        """Schema evolution for ``merge_schema=True`` appends (the
        Delta mergeSchema semantic): columns shared with the table
        must keep their exact type (no silent widening — readers of
        old files would misread), NEW batch columns append to the
        schema as nullable (old files read them as null), and table
        columns MISSING from the batch must already be nullable (the
        new files read them as null).  Column order: table order,
        then new columns in batch order."""
        by_name = {f.name: f for f in batch.fields}
        out: list[T.StructField] = []
        for tf in table.fields:
            bf = by_name.pop(tf.name, None)
            if bf is None:
                if not tf.nullable:
                    raise ValueError(
                        f"merge_schema append: batch lacks "
                        f"non-nullable table column {tf.name!r}")
                out.append(tf)
                continue
            if bf.dataType != tf.dataType:
                raise ValueError(
                    f"merge_schema append: column {tf.name!r} type "
                    f"mismatch (table {tf.dataType.simpleString()}, "
                    f"batch {bf.dataType.simpleString()}) — type "
                    "changes need mode='overwrite'")
            if not tf.nullable and bf.nullable:
                raise ValueError(
                    f"merge_schema append: nullable batch column "
                    f"{tf.name!r} cannot feed the non-nullable "
                    "table column")
            out.append(tf)
        for f in batch.fields:  # new columns, batch order
            if f.name in by_name:
                out.append(T.StructField(f.name, f.dataType, True))
        return T.StructType(out)

    def restore(self, spark: SparkSession, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF ``version``: commit a
        NEW version whose state — active files (with their deletion
        vectors), schema, partitioning, configuration — equals the
        time-traveled snapshot, by removing files active now but not
        then and re-adding files active then but not now (keyed by
        (path, DV unique id), the same identity the log
        reconciliation uses).  History is preserved (a restore is a
        forward commit, never a log rewrite) and the protocol is
        never downgraded.  Every target data file must still exist —
        a vacuumed target refuses BEFORE committing anything.
        Returns the committed version (the current one when the
        table is already at the target state)."""
        from .delta_dv import dv_unique_id

        target = self._replay(version)
        for f in target["files"]:
            if not os.path.exists(os.path.join(self.path, f["path"])):
                raise FileNotFoundError(
                    f"restore: data file {f['path']!r} of version "
                    f"{version} no longer exists (vacuumed?) — the "
                    "restore cannot reproduce that snapshot")

        def key(f):
            return (f["path"], dv_unique_id(f.get("deletionVector")))

        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            self._check_writable(cur, "restore")
            now = int(time.time() * 1000)
            cur_by = {key(f): f for f in cur["files"]}
            tgt_by = {key(f): f for f in target["files"]}
            actions: list[dict] = [{"commitInfo": {
                "timestamp": now, "operation": "RESTORE",
                "operationParameters": {"version": int(version)},
                "engineInfo": "python-minerva-etl-spark"}}]
            mt, mc = target["metaData"], cur["metaData"]
            if (mt["schemaString"] != mc["schemaString"]
                    or (mt.get("partitionColumns") or [])
                    != (mc.get("partitionColumns") or [])
                    or (mt.get("configuration") or {})
                    != (mc.get("configuration") or {})):
                meta = dict(mc)
                meta["schemaString"] = mt["schemaString"]
                meta["partitionColumns"] = (
                    mt.get("partitionColumns") or [])
                meta["configuration"] = (
                    mt.get("configuration") or {})
                actions.append({"metaData": meta})
            for k in sorted(cur_by, key=str):
                if k in tgt_by:
                    continue
                f = cur_by[k]
                rm = {"path": f["path"], "deletionTimestamp": now,
                      "dataChange": True}
                if f.get("deletionVector"):
                    rm["deletionVector"] = f["deletionVector"]
                actions.append({"remove": rm})
            for k in sorted(tgt_by, key=str):
                if k in cur_by:
                    continue
                add = dict(tgt_by[k])
                add["dataChange"] = True
                add["modificationTime"] = now
                actions.append({"add": add})
            if len(actions) == 1:
                return cur["version"]  # already at the target state
            new_version = self._next_version()
            try:
                self._commit(new_version, actions)
                return new_version
            except DeltaConcurrentCommit as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def txn_version(self, app_id: str) -> int:
        """Latest ``txn`` (setTransaction) version recorded for
        ``app_id``, or -1 — the exactly-once ledger streaming writers
        consult (PROTOCOL.md Transaction Identifiers)."""
        if not self.versions() and not os.path.isdir(_log_dir(self.path)):
            return -1
        try:
            return self._replay()["txns"].get(app_id, -1)
        except FileNotFoundError:
            return -1

    def write(self, spark: SparkSession, df: DataFrame,
              mode: str = "append",
              partition_by: list[str] | tuple[str, ...] = (),
              txn: tuple[str, int] | None = None,
              merge_schema: bool = False) -> int:
        """Commit ``df`` as a new Delta version.  ``mode``:
        'append' adds files (schema must match the table's current
        schema — a mismatched append would commit files every reader
        then silently misreads as nulls — unless ``merge_schema=True``
        evolves it: new columns append as nullable, old files read
        them as null; see :meth:`_merge_schemas`); 'overwrite' also removes
        every previously active file and may change the schema.
        ``partition_by`` Hive-partitions the table (recorded in
        metaData.partitionColumns at creation/overwrite; appends must
        keep the table's existing partitioning).  ``txn=(app_id,
        version)`` records a setTransaction action and makes the
        write IDEMPOTENT per (app_id, version): a re-delivered
        streaming micro-batch whose version is already in the ledger
        is skipped — exactly-once foreachBatch delivery, the
        protocol's Transaction Identifiers pattern.  Loses of the
        optimistic-concurrency race are retried (data files are
        staged once; only the log actions are rebuilt against the
        new snapshot).  Returns the committed version."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        if txn is not None and self.txn_version(txn[0]) >= txn[1]:
            return self.versions()[-1]
        partition_by = list(partition_by)
        missing_pcols = [c for c in partition_by if c not in df.columns]
        if missing_pcols:
            raise ValueError(
                f"partition_by columns {missing_pcols} not in batch")
        os.makedirs(self.path, exist_ok=True)
        cm = None
        if self.versions():
            # refuse before staging any data: a commit that ignores an
            # unknown writer feature's invariants corrupts the table
            pre = self._replay()
            self._check_writable(pre, mode)
            cm = self._cm_mapping(pre)
            if cm is not None and mode == "overwrite":
                raise NotImplementedError(
                    "Delta overwrite on a column-mapped table: "
                    "restating the schema would need fresh field "
                    "ids/physical names — append or DML instead")
            if cm is not None and merge_schema:
                raise NotImplementedError(
                    "Delta merge_schema on a column-mapped table: "
                    "new columns would need fresh field ids/physical "
                    "names")
            # NOT NULL applies to appends (overwrite may change the
            # schema); invariants/CHECK come from the surviving
            # configuration either way
            self._enforce_constraints(
                pre, df, mode, include_not_null=(mode == "append"))
            if mode == "append":
                table_pcols = pre["metaData"].get(
                    "partitionColumns") or []
                if partition_by and partition_by != table_pcols:
                    raise ValueError(
                        f"append partition_by {partition_by} != "
                        f"table's partitionColumns {table_pcols}")
                partition_by = table_pcols  # appends inherit it
        adds = self._stage_data_files(df, partition_by, cm=cm)
        return self._commit_write(adds, mode, partition_by,
                                  df.schema, txn, merge_schema)

    def _commit_write(self, adds: list[dict], mode: str,
                      partition_by: list[str],
                      df_schema: T.StructType,
                      txn: tuple[str, int] | None = None,
                      merge_schema: bool = False) -> int:
        """Retry-loop commit of already-staged add actions — the tail
        of :meth:`write`, shared with the registered data source's
        writer (whose executors stage the files themselves)."""
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            version = self._next_version()
            if txn is not None and version > 0 \
                    and self.txn_version(txn[0]) >= txn[1]:
                return version - 1  # a concurrent retry won the race
            actions: list[dict] = [{"commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
                "engineInfo": "python-minerva-etl-spark",
            }}]
            if version == 0:
                actions.append({"protocol": {
                    "minReaderVersion": 1, "minWriterVersion": 2}})
                actions.append({"metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df_schema.json(),
                    "partitionColumns": partition_by,
                    "configuration": {},
                    "createdTime": int(time.time() * 1000),
                }})
            elif mode == "overwrite":
                # schema may change on overwrite: re-state metaData
                prev = self._replay()
                self._check_writable(prev, "overwrite")
                meta = dict(prev["metaData"])
                meta["schemaString"] = df_schema.json()
                meta["partitionColumns"] = partition_by
                actions.append({"metaData": meta})
                now = int(time.time() * 1000)
                for f in prev["files"]:
                    # a remove cancels an add only when their (path,
                    # DV id) match — drop the DV reference too or the
                    # file would stay active
                    rm = {"path": f["path"], "deletionTimestamp": now,
                          "dataChange": True}
                    if f.get("deletionVector"):
                        rm["deletionVector"] = f["deletionVector"]
                    actions.append({"remove": rm})
            else:  # append to an existing table: schemas must line up
                prev = self._replay()
                self._check_writable(prev, "append")
                table_schema = T.StructType.fromJson(
                    json.loads(prev["metaData"]["schemaString"]))
                if self._append_compatible(table_schema, df_schema):
                    pass
                elif merge_schema:
                    evolved = self._merge_schemas(
                        table_schema, df_schema)
                    if evolved.json() != prev["metaData"][
                            "schemaString"]:
                        meta = dict(prev["metaData"])
                        meta["schemaString"] = evolved.json()
                        actions.append({"metaData": meta})
                else:
                    raise ValueError(
                        "Delta append schema mismatch: table has "
                        f"{table_schema.simpleString()}, batch has "
                        f"{df_schema.simpleString()} — appending would "
                        "commit files readers silently misread "
                        "(use mode='overwrite' to change the schema, "
                        "or merge_schema=True to evolve it)")
            if txn is not None:
                actions.append({"txn": {
                    "appId": txn[0], "version": int(txn[1]),
                    "lastUpdated": int(time.time() * 1000)}})
            actions.extend(adds)
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e  # re-derive actions against new snapshot
        raise last_err  # type: ignore[misc]

    @staticmethod
    def _check_writable(snap: dict, operation: str) -> None:
        """Refuse writes this engine cannot make safely: unknown
        writer features carry invariants (row tracking's baseRowId
        continuity, check constraints, CDF files…) that an oblivious
        commit would break for every other engine; ``appendOnly``
        tables refuse removes."""
        proto = snap.get("protocol") or {}
        mwv = proto.get("minWriterVersion") or 1
        if mwv == 7:
            unsupported = sorted(
                set(proto.get("writerFeatures") or [])
                - _WRITER_FEATURES)
            if unsupported:
                raise NotImplementedError(
                    f"Delta writerFeatures {unsupported} not "
                    f"supported (this writer implements "
                    f"{sorted(_WRITER_FEATURES)}); committing anyway "
                    "would break the invariants other engines rely "
                    "on")
        elif mwv > 5:
            raise NotImplementedError(
                f"Delta minWriterVersion {mwv} not supported "
                "(v6 implies identity-column high-water-mark state "
                "this writer cannot maintain)")
        # mwv 3 implies CHECK constraints, mwv 4 adds CDF (cdc files
        # on DML — implemented) and generated columns, mwv 5 adds
        # column mapping (physical-name staging) — all enforced or
        # honored on every write path, so 3/4/5 are writable
        conf = snap["metaData"].get("configuration") or {}
        if str(conf.get("delta.appendOnly", "")).lower() == "true" \
                and operation in ("overwrite", "delete", "update",
                                  "merge", "restore", "replaceWhere"):
            # appendOnly forbids removes with dataChange=true; compaction
            # (dataChange=false) and vacuum stay legal per the protocol
            raise ValueError(
                f"table is append-only (delta.appendOnly=true): "
                f"{operation} would remove committed data")

    @staticmethod
    def _write_constraints(snap: dict,
                           include_not_null: bool = True
                           ) -> list[tuple[str, str]]:
        """``(label, SQL expression)`` pairs every NEW row must
        satisfy before it may be committed (PROTOCOL.md "Column
        Invariants" and "CHECK Constraints" — a writer that claims
        the ``invariants``/``checkConstraints`` features and skips
        enforcement corrupts the table's contract for every other
        engine): non-nullable columns, per-field
        ``delta.invariants`` metadata, and the configuration's
        ``delta.constraints.<name>`` expressions."""
        out: list[tuple[str, str]] = []
        schema = T.StructType.fromJson(
            json.loads(snap["metaData"]["schemaString"]))
        for f in schema.fields:
            if include_not_null and not f.nullable:
                out.append((f"NOT NULL column {f.name!r}",
                            f"`{f.name}` IS NOT NULL"))
            inv = (f.metadata or {}).get("delta.invariants")
            if inv:
                try:
                    expr = json.loads(inv)["expression"]["expression"]
                except (ValueError, KeyError, TypeError):
                    raise ValueError(
                        f"unparseable delta.invariants on column "
                        f"{f.name!r}: {inv!r}")
                out.append((f"column invariant on {f.name!r}", expr))
        conf = snap["metaData"].get("configuration") or {}
        for k in sorted(conf):
            if k.startswith("delta.constraints."):
                out.append(
                    (f"CHECK constraint "
                     f"{k[len('delta.constraints.'):]!r}", conf[k]))
        # generated columns (PROTOCOL.md "Writer Requirements for
        # Generated Columns"): a writer providing values must ensure
        # they EQUAL the generation expression — this engine takes
        # the validate-don't-compute branch (eqNullSafe: both-null
        # counts as equal, a mismatch or one-sided null violates)
        for f in schema.fields:
            gen = (f.metadata or {}).get("delta.generationExpression")
            if gen:
                out.append(
                    (f"generated column {f.name!r}",
                     f"`{f.name}` <=> ({gen})"))
        return out

    def _enforce_constraints(self, snap: dict, df: DataFrame,
                             what: str,
                             include_not_null: bool = True) -> None:
        """One validation scan over the rows about to be committed:
        a row violates when a constraint expression is FALSE or NULL
        (delta-spark's CheckDeltaInvariant semantics — a null check
        result is a violation, unlike the SQL-standard CHECK).
        NOT NULL checks are dropped for columns the incoming batch
        itself declares non-nullable — Spark already guarantees
        those, so an unconstrained append of a tight-schema batch
        costs NO validation job at all.  Table columns the batch
        OMITS validate as nulls for invariants/CHECK (omitted
        nullable columns land as null in the committed files), while
        an omitted REQUIRED column is left to the schema-compat /
        merge-schema refusal downstream."""
        cons = self._write_constraints(snap, include_not_null)
        have = set(df.columns)
        tight = {f.name for f in df.schema.fields if not f.nullable}

        def keep(label: str) -> bool:
            if not label.startswith("NOT NULL column "):
                return True
            col = label[len("NOT NULL column '"):-1]
            return col not in tight and col in have
        cons = [(label, expr) for label, expr in cons if keep(label)]
        if not cons:
            return
        table_schema = T.StructType.fromJson(
            json.loads(snap["metaData"]["schemaString"]))
        vdf = df
        for f in table_schema.fields:
            if f.name not in have:
                vdf = vdf.withColumn(
                    f.name, F.lit(None).cast(f.dataType))
        df = vdf
        viol = None
        for _, expr in cons:
            c = ~F.expr(expr).eqNullSafe(F.lit(True))
            viol = c if viol is None else viol | c
        if not df.filter(viol).limit(1).count():
            return
        for label, expr in cons:  # name the offender in the error
            if df.filter(~F.expr(expr).eqNullSafe(F.lit(True))) \
                    .limit(1).count():
                raise ValueError(
                    f"Delta {what}: rows violate {label} "
                    f"({expr!r}) — nothing was committed")
        raise ValueError(  # racing constraint change; still refuse
            f"Delta {what}: rows violate a table constraint")

    def _cdf_enabled(self, snap: dict) -> bool:
        conf = snap["metaData"].get("configuration") or {}
        return str(conf.get("delta.enableChangeDataFeed", "")
                   ).lower() == "true"

    def _write_dvs(self, spark: SparkSession, matches: DataFrame,
                   old_json: dict[str, str]) -> list:
        """Write one deletion-vector ``.bin`` per touched file,
        executor-side: ``matches`` carries the (``_dl_path``,
        ``_dl_pos``) pairs to mask; each file's group unions the new
        positions with the file's existing DV (``old_json``, keyed by
        absolute path — a DV REPLACES its predecessor, so it must
        carry every deleted row).  Returns one collected row per
        touched file (bounded metadata: path + descriptor json)."""
        import numpy as np

        table_path = os.path.abspath(self.path)

        def write_group(pdf):
            import pandas as pd

            from .delta_dv import dv_load, dv_write
            path = pdf["_dl_path"].iloc[0]
            positions = pdf["_dl_pos"].to_numpy(np.int64)
            oj = old_json.get(path)
            if oj is not None:
                positions = np.union1d(
                    positions, dv_load(table_path, json.loads(oj)))
            desc = dv_write(table_path, positions)
            return pd.DataFrame({"_dl_path": [path],
                                 "_dv": [json.dumps(desc)]})

        return (matches.select("_dl_path", "_dl_pos")
                .groupBy("_dl_path")
                .applyInPandas(write_group,
                               "_dl_path string, _dv string")
                .collect())  # bounded: one row per touched file

    @staticmethod
    def _upgrade_actions(cur: dict, need_r: set, need_w: set,
                         conf_updates: dict | None) -> list[dict]:
        """Protocol / metaData actions a commit must carry before it
        can rely on table features ``need_r``/``need_w`` and the
        configuration keys in ``conf_updates``.  Features the legacy
        writer version implied survive the upgrade to the
        table-features protocol; the reader version is only raised to
        3 when a READER feature is actually needed (writer features
        alone pair writer 7 with the existing reader version, which
        keeps old readers working — PROTOCOL.md Table Features)."""
        actions: list[dict] = []
        proto = cur.get("protocol") or {
            "minReaderVersion": 1, "minWriterVersion": 2}
        rfeats = set(proto.get("readerFeatures") or [])
        wfeats = set(proto.get("writerFeatures") or [])
        mrv = proto.get("minReaderVersion") or 1
        mwv = proto.get("minWriterVersion") or 1
        if not (need_w <= wfeats and need_r <= rfeats):
            implied = {5: {"appendOnly", "invariants",
                           "checkConstraints", "changeDataFeed",
                           "generatedColumns", "columnMapping"},
                       4: {"appendOnly", "invariants",
                           "checkConstraints", "changeDataFeed",
                           "generatedColumns"},
                       3: {"appendOnly", "invariants",
                           "checkConstraints"},
                       2: {"appendOnly", "invariants"},
                       1: set()}.get(mwv, {"appendOnly", "invariants"})
            p: dict = {
                "minReaderVersion": 3 if (need_r or mrv >= 3) else mrv,
                "minWriterVersion": 7,
                "writerFeatures": sorted(wfeats | implied | need_w)}
            if need_r or mrv >= 3:
                p["readerFeatures"] = sorted(rfeats | need_r)
            actions.append({"protocol": p})
        conf = dict(cur["metaData"].get("configuration") or {})
        changed = {k: v for k, v in (conf_updates or {}).items()
                   if conf.get(k) != v}
        if changed:
            meta = dict(cur["metaData"])
            conf.update(changed)
            meta["configuration"] = conf
            actions.append({"metaData": meta})
        return actions

    def _commit_row_dml(self, operation: str, touched: list,
                        old_dv: dict, extra_actions: list[dict],
                        cdf: bool) -> int:
        """Commit a row-level DML (DELETE / UPDATE / MERGE): per
        touched file ``remove(path, old DV)`` + ``add(path, new
        DV)`` — the reconciliation pairing foreign readers expect —
        plus ``extra_actions`` (new data files / cdc files),
        upgrading the protocol on first feature use.  Raises
        :class:`DeltaConcurrentCommit` if a racer touches any
        affected file between the scan and the commit."""
        table_path = os.path.abspath(self.path)
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            by_path = {f["path"]: f for f in cur["files"]}
            now = int(time.time() * 1000)
            actions: list[dict] = [{"commitInfo": {
                "timestamp": now, "operation": operation,
                "operationParameters": {},
                "engineInfo": "python-minerva-etl-spark"}}]
            need_r = {"deletionVectors"} if touched else set()
            need_w = set(need_r)
            if cdf:
                need_w.add("changeDataFeed")
            actions += self._upgrade_actions(
                cur, need_r, need_w,
                {"delta.enableDeletionVectors": "true"}
                if touched else None)
            for row in touched:
                rel = os.path.relpath(row["_dl_path"], table_path)
                rel = rel.replace(os.sep, "/")
                f = by_path.get(rel)
                if f is None or f.get("deletionVector") != old_dv.get(rel):
                    raise DeltaConcurrentCommit(
                        f"data file {rel!r} changed (rewritten, "
                        f"removed, or re-deleted) since this "
                        f"{operation} scanned it — rerun")
                remove = {"path": rel, "deletionTimestamp": now,
                          "dataChange": True}
                if f.get("deletionVector"):
                    remove["deletionVector"] = f["deletionVector"]
                actions.append({"remove": remove})
                add = dict(f)
                add["deletionVector"] = json.loads(row["_dv"])
                add["dataChange"] = True
                add["modificationTime"] = now
                if add.get("stats"):
                    # min/max may no longer be tight once rows are
                    # masked out; numRecords stays physical
                    try:
                        stats = json.loads(add["stats"])
                        stats["tightBounds"] = False
                        add["stats"] = json.dumps(stats)
                    except (ValueError, TypeError):
                        pass
                actions.append({"add": add})
            actions += extra_actions
            version = self._next_version()
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e  # re-derive against the new snapshot
        raise last_err  # type: ignore[misc]

    def delete(self, spark: SparkSession, where) -> int | None:
        """Merge-on-read DELETE: rows matching ``where`` (a Column or
        SQL string) are marked deleted via deletion vectors — no data
        file is rewritten (PROTOCOL.md "Deletion Vectors").

        One distributed pass finds the matching (file, row index)
        pairs on the DV-applied snapshot (already-deleted rows can't
        match again); each touched file writes its own
        ``deletion_vector_<uuid>.bin`` executor-side and the commit
        carries the per-file remove+add reconciliation pairs,
        upgrading the protocol to reader 3 / writer 7 with the
        ``deletionVectors`` feature on first use.  On tables with
        ``delta.enableChangeDataFeed=true`` the commit also carries
        ``cdc`` actions with the deleted rows under ``_change_data/``
        (per PROTOCOL.md, a DV remove+add pair is NOT in the
        derivable subset, so CDF writers must materialize the
        change).

        Returns the committed version, or None when nothing matched
        (no commit — like the Iceberg twin, a re-delete is a no-op).
        Raises :class:`DeltaConcurrentCommit` if a racer touches any
        affected file between the scan and the commit."""
        snap = self._replay()
        self._check_writable(snap, "delete")
        cond = F.expr(where) if isinstance(where, str) else where
        table_path = os.path.abspath(self.path)
        old_dv = {f["path"]: f.get("deletionVector")
                  for f in snap["files"]}
        old_json = {os.path.join(table_path, rel): json.dumps(dv)
                    for rel, dv in old_dv.items() if dv}
        cdf = self._cdf_enabled(snap)
        matched = (self.read(spark, snap["version"], _with_pos=True)
                   .filter(cond))
        if cdf:
            matched = matched.persist()
        try:
            touched = self._write_dvs(spark, matched, old_json)
            if not touched:
                return None
            cdc_actions: list[dict] = []
            if cdf:
                part_cols = snap["metaData"].get(
                    "partitionColumns") or []
                pre = (matched.drop("_dl_path", "_dl_pos")
                       .withColumn("_change_type", F.lit("delete")))
                cdc_actions = self._stage_data_files(
                    pre, part_cols, subdir="_change_data",
                    action="cdc", cm=self._cm_mapping(snap))
            return self._commit_row_dml(
                "DELETE", touched, old_dv, cdc_actions, cdf)
        finally:
            if cdf:
                matched.unpersist()

    def update(self, spark: SparkSession, set: dict,
               where=None) -> int | None:
        """UPDATE ... SET: rows matching ``where`` are rewritten with
        the ``set`` expressions ({column: Column or SQL string},
        evaluated against the OLD row) — merge-on-read: the matched
        rows are masked out of their files via deletion vectors and
        the updated rows land in NEW data files, so no full file is
        rewritten and unmatched rows are never copied.  Updating a
        partition column moves the rows to their new Hive directory.
        On tables with ``delta.enableChangeDataFeed=true`` the commit
        carries ``cdc`` actions with the update_preimage /
        update_postimage rows under ``_change_data/`` (PROTOCOL.md
        "Add CDC File") so CDF readers see updates as updates, not
        delete+insert pairs.  Returns the committed version, or None
        when nothing matched (no commit)."""
        snap = self._replay()
        self._check_writable(snap, "update")
        meta = snap["metaData"]
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        names = [f.name for f in schema.fields]
        unknown = sorted(builtins.set(set) - builtins.set(names))
        if unknown:
            raise ValueError(
                f"UPDATE SET references unknown columns {unknown}")
        exprs = {c: (F.expr(e) if isinstance(e, str) else e)
                 for c, e in set.items()}
        part_cols = meta.get("partitionColumns") or []
        cond = (F.lit(True) if where is None
                else F.expr(where) if isinstance(where, str)
                else where)
        table_path = os.path.abspath(self.path)
        old_dv = {f["path"]: f.get("deletionVector")
                  for f in snap["files"]}
        old_json = {os.path.join(table_path, rel): json.dumps(dv)
                    for rel, dv in old_dv.items() if dv}
        cdf = self._cdf_enabled(snap)
        matched = (self.read(spark, snap["version"], _with_pos=True)
                   .filter(cond).persist())
        try:
            touched = self._write_dvs(spark, matched, old_json)
            if not touched:
                return None
            updated = matched.select(
                *[(exprs[f.name].cast(f.dataType) if f.name in exprs
                   else F.col(f"`{f.name}`")).alias(f.name)
                  for f in schema.fields])
            self._enforce_constraints(snap, updated, "UPDATE")
            cm = self._cm_mapping(snap)
            extra = self._stage_data_files(updated, part_cols, cm=cm)
            if cdf:
                pre = (matched.drop("_dl_path", "_dl_pos")
                       .withColumn("_change_type",
                                   F.lit("update_preimage")))
                post = updated.withColumn(
                    "_change_type", F.lit("update_postimage"))
                extra += self._stage_data_files(
                    pre.unionByName(post), part_cols,
                    subdir="_change_data", action="cdc", cm=cm)
            return self._commit_row_dml(
                "UPDATE", touched, old_dv, extra, cdf)
        finally:
            matched.unpersist()

    def replace_where(self, spark: SparkSession, df: DataFrame,
                      where) -> int | None:
        """Atomic predicate-scoped overwrite (delta-spark's
        ``replaceWhere`` write option): ONE commit masks every
        existing row matching ``where`` (a Column or SQL string) via
        deletion vectors AND lands ``df``'s rows in new data files —
        the backfill idiom (rewrite one day/region without touching
        the rest, readers never see an in-between state).

        Every incoming row must satisfy the predicate (enforced with
        one scan — rows outside the replaced region would silently
        leak into territory the caller promised not to touch).  On
        ``delta.enableChangeDataFeed`` tables the commit carries
        delete + insert change rows under ``_change_data/``.
        Returns the committed version, or None when nothing matched
        and ``df`` is empty."""
        snap = self._replay()
        self._check_writable(snap, "replaceWhere")
        cond = F.expr(where) if isinstance(where, str) else where
        meta = snap["metaData"]
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        names = [f.name for f in schema.fields]
        missing = [n for n in names if n not in df.columns]
        if missing:
            raise ValueError(
                f"replaceWhere: dataframe lacks table columns "
                f"{missing}")
        new_rows = df.select(
            *[F.col(f"`{f.name}`").cast(f.dataType).alias(f.name)
              for f in schema.fields])
        # NULL predicate results count as violations (delta-spark's
        # replaceWhere contract): plain ~cond drops NULL rows from the
        # check, letting them land OUTSIDE the replaced region.
        if new_rows.filter(~cond.eqNullSafe(F.lit(True))) \
                .limit(1).count():
            raise ValueError(
                "replaceWhere: incoming rows violate the predicate "
                "— they fall outside the region being replaced")
        self._enforce_constraints(snap, new_rows, "replaceWhere")
        part_cols = meta.get("partitionColumns") or []
        table_path = os.path.abspath(self.path)
        old_dv = {f["path"]: f.get("deletionVector")
                  for f in snap["files"]}
        old_json = {os.path.join(table_path, rel): json.dumps(dv)
                    for rel, dv in old_dv.items() if dv}
        cdf = self._cdf_enabled(snap)
        matched = (self.read(spark, snap["version"], _with_pos=True)
                   .filter(cond))
        if cdf:
            matched = matched.persist()
        try:
            touched = self._write_dvs(spark, matched, old_json)
            cm = self._cm_mapping(snap)
            extra = []
            if not new_rows.isEmpty():
                extra = self._stage_data_files(new_rows, part_cols,
                                               cm=cm)
            if cdf:
                cdc_df = new_rows.withColumn(
                    "_change_type", F.lit("insert"))
                if touched:
                    cdc_df = (matched.drop("_dl_path", "_dl_pos")
                              .withColumn("_change_type",
                                          F.lit("delete"))
                              .unionByName(cdc_df))
                if not cdc_df.isEmpty():
                    extra += self._stage_data_files(
                        cdc_df, part_cols, subdir="_change_data",
                        action="cdc", cm=cm)
            if not touched and not extra:
                return None
            return self._commit_row_dml(
                "WRITE", touched, old_dv, extra, cdf)
        finally:
            if cdf:
                matched.unpersist()

    def merge(self, spark: SparkSession, source: DataFrame, on,
              when_matched_update: dict | None = None,
              when_matched_delete=None,
              when_not_matched_insert=True) -> int | None:
        """MERGE INTO this table USING ``source`` ON ``on`` (a SQL
        string or Column over the aliases ``t`` = target, ``s`` =
        source — qualify ambiguous names).

        Clauses:
        - ``when_matched_update``: {target column: expression over
          t/s} rewrites every matched target row (merge-on-read: DV
          mask + new data files, like :meth:`update`).
        - ``when_matched_delete``: a condition over t/s (or True for
          unconditional) — matched rows satisfying it are DV-masked;
          with an update clause present, the delete condition wins
          and the update applies to the REMAINING matched rows.
        - ``when_not_matched_insert``: True inserts source rows
          as-is (the source must carry every table column), a dict
          maps {target column: expression over s} with unlisted
          columns null, False/None disables inserts.

        Multiple source rows matching one target row make the
        matched clauses ambiguous and raise (the Delta semantic) —
        detected with one aggregation over the match pairs, not
        trusted to luck.  Returns the committed version, or None
        when the merge is a no-op."""
        snap = self._replay()
        have_matched = (when_matched_update is not None
                        or when_matched_delete is not None)
        if when_matched_delete is True \
                and when_matched_update is not None:
            raise ValueError(
                "unconditional WHEN MATCHED DELETE together with an "
                "update clause leaves no rows to update — give the "
                "delete a condition")
        self._check_writable(
            snap, "merge" if have_matched else "append")
        meta = snap["metaData"]
        schema = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        names = [f.name for f in schema.fields]
        part_cols = meta.get("partitionColumns") or []
        cdf = self._cdf_enabled(snap)
        table_path = os.path.abspath(self.path)
        old_dv = {f["path"]: f.get("deletionVector")
                  for f in snap["files"]}
        old_json = {os.path.join(table_path, rel): json.dumps(dv)
                    for rel, dv in old_dv.items() if dv}
        cond = F.expr(on) if isinstance(on, str) else on
        tgt = self.read(spark, snap["version"],
                        _with_pos=True).alias("t")
        src = source.alias("s")

        def t_image(df):
            return df.select(*[F.col(f"t.`{f.name}`").alias(f.name)
                               for f in schema.fields])

        touched: list = []
        updated = deleted = None
        matched = None
        try:
            if have_matched:
                matched = tgt.join(src, cond, "inner").persist()
                dup = (matched
                       .groupBy(F.col("t.`_dl_path`"),
                                F.col("t.`_dl_pos`"))
                       .count().filter(F.col("count") > 1)
                       .limit(1).count())
                if dup:
                    raise ValueError(
                        "MERGE: multiple source rows match the same "
                        "target row — the matched clauses are "
                        "ambiguous (dedupe the source on the join "
                        "key)")
                if when_matched_delete is None:
                    dcond = F.lit(False)
                elif when_matched_delete is True:
                    dcond = F.lit(True)
                elif isinstance(when_matched_delete, str):
                    dcond = F.expr(when_matched_delete)
                else:
                    dcond = when_matched_delete
                # SQL MERGE clause semantics: a NULL delete condition
                # is NOT a delete — eqNullSafe(True) so the delete set
                # and the update set PARTITION the matched rows
                # (plain filter(dcond)/filter(~dcond) would both drop
                # NULL-condition rows, losing them entirely).
                dcond = dcond.eqNullSafe(F.lit(True))
                affected = (matched if when_matched_update is not None
                            else matched.filter(dcond))
                touched = self._write_dvs(
                    spark,
                    affected.select(
                        F.col("t.`_dl_path`").alias("_dl_path"),
                        F.col("t.`_dl_pos`").alias("_dl_pos")),
                    old_json)
                if when_matched_delete is not None:
                    deleted = matched.filter(dcond)
                if when_matched_update is not None:
                    upd_rows = (matched.filter(~dcond)
                                if when_matched_delete is not None
                                else matched)
                    uex = {c: (F.expr(e) if isinstance(e, str)
                               else e)
                           for c, e in when_matched_update.items()}
                    unknown = sorted(builtins.set(uex)
                                     - builtins.set(names))
                    if unknown:
                        raise ValueError(
                            f"MERGE update references unknown "
                            f"columns {unknown}")
                    updated = upd_rows.select(
                        *[(uex[f.name].cast(f.dataType)
                           if f.name in uex
                           else F.col(f"t.`{f.name}`"))
                          .alias(f.name) for f in schema.fields])
            inserted = None
            if when_not_matched_insert:
                not_m = src.join(tgt, cond, "left_anti")
                if when_not_matched_insert is True:
                    missing = [n for n in names
                               if n not in source.columns]
                    if missing:
                        raise ValueError(
                            f"MERGE insert: source lacks table "
                            f"columns {missing} (pass a mapping "
                            "dict to fill them)")
                    inserted = not_m.select(
                        *[F.col(f"`{f.name}`").cast(f.dataType)
                          .alias(f.name) for f in schema.fields])
                else:
                    iex = {c: (F.expr(e) if isinstance(e, str)
                               else e)
                           for c, e in when_not_matched_insert
                           .items()}
                    unknown = sorted(builtins.set(iex)
                                     - builtins.set(names))
                    if unknown:
                        raise ValueError(
                            f"MERGE insert references unknown "
                            f"columns {unknown}")
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
            extra: list[dict] = []
            cm = self._cm_mapping(snap)
            if new_rows is not None and not new_rows.isEmpty():
                self._enforce_constraints(snap, new_rows, "MERGE")
                extra = self._stage_data_files(new_rows, part_cols,
                                               cm=cm)
            if not touched and not extra:
                return None  # nothing matched, nothing to insert
            if cdf:
                cdc_df = None
                pieces = []
                if updated is not None:
                    upd_rows = (matched.filter(~dcond)
                                if when_matched_delete is not None
                                else matched)
                    pieces.append(t_image(upd_rows).withColumn(
                        "_change_type", F.lit("update_preimage")))
                    pieces.append(updated.withColumn(
                        "_change_type", F.lit("update_postimage")))
                if deleted is not None:
                    pieces.append(t_image(deleted).withColumn(
                        "_change_type", F.lit("delete")))
                if inserted is not None:
                    pieces.append(inserted.withColumn(
                        "_change_type", F.lit("insert")))
                for piece in pieces:
                    cdc_df = piece if cdc_df is None \
                        else cdc_df.unionByName(piece)
                if cdc_df is not None and not cdc_df.isEmpty():
                    extra += self._stage_data_files(
                        cdc_df, part_cols, subdir="_change_data",
                        action="cdc", cm=cm)
            return self._commit_row_dml(
                "MERGE", touched, old_dv, extra, cdf)
        finally:
            if matched is not None:
                matched.unpersist()

    def set_properties(self, props: dict) -> int:
        """ALTER TABLE SET TBLPROPERTIES: merge ``props`` into the
        table configuration with a metaData commit.  Setting
        ``delta.enableChangeDataFeed=true`` upgrades the protocol to
        carry the ``changeDataFeed`` writer feature first (a writer
        that ignored it would commit DML without the cdc files the
        CDF contract requires).  Returns the committed version (the
        current one when nothing changes)."""
        bad = sorted(k for k in props
                     if k.startswith("delta.constraints."))
        if bad:
            raise ValueError(
                f"set_properties: {bad} would add CHECK constraints "
                "without validating existing rows — use "
                "add_constraint(spark, name, expr), which scans the "
                "table first")
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            self._check_writable(cur, "set_properties")
            need_w = builtins.set()
            if str(props.get("delta.enableChangeDataFeed", "")
                   ).lower() == "true":
                need_w.add("changeDataFeed")
            up = self._upgrade_actions(cur, builtins.set(), need_w,
                                       props)
            if not up:
                return cur["version"]  # already at requested state
            actions = [{"commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {},
                "engineInfo": "python-minerva-etl-spark"}}] + up
            version = self._next_version()
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def add_constraint(self, spark: SparkSession, name: str,
                       expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT (PROTOCOL.md "CHECK
        Constraints"): validates EVERY existing row against ``expr``
        first — committing an unvalidated constraint would make the
        table lie to readers that trust it — then records
        ``delta.constraints.<name>`` and upgrades the protocol to
        carry the ``checkConstraints`` writer feature.  Every
        subsequent write path (append / overwrite / UPDATE / MERGE /
        replaceWhere) enforces it on the new rows.  Returns the
        committed version."""
        if not name or not name.replace("_", "").isalnum():
            raise ValueError(
                f"constraint name {name!r} must be alphanumeric/_")
        key = f"delta.constraints.{name.lower()}"
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            self._check_writable(cur, "add_constraint")
            conf = cur["metaData"].get("configuration") or {}
            if conf.get(key) == expr:
                return cur["version"]
            existing = self.read(spark, cur["version"])
            bad = existing.filter(
                ~F.expr(expr).eqNullSafe(F.lit(True))).limit(1)
            if bad.count():
                raise ValueError(
                    f"add_constraint {name!r}: existing rows violate "
                    f"{expr!r} — nothing was committed")
            up = self._upgrade_actions(
                cur, builtins.set(), {"checkConstraints"},
                {key: expr})
            actions = [{"commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
                "engineInfo": "python-minerva-etl-spark"}}] + up
            version = self._next_version()
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def drop_constraint(self, name: str) -> int | None:
        """ALTER TABLE DROP CONSTRAINT: removes
        ``delta.constraints.<name>`` with a metaData commit (None
        when the constraint does not exist — a drop is idempotent)."""
        key = f"delta.constraints.{name.lower()}"
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            self._check_writable(cur, "drop_constraint")
            conf = dict(cur["metaData"].get("configuration") or {})
            if key not in conf:
                return None
            del conf[key]
            meta = dict(cur["metaData"])
            meta["configuration"] = conf
            actions = [{"commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "DROP CONSTRAINT",
                "operationParameters": {"name": name},
                "engineInfo": "python-minerva-etl-spark"}},
                {"metaData": meta}]
            version = self._next_version()
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def _add_versions(self) -> dict[str, int]:
        """path → latest commit version carrying an ``add`` for it,
        from the surviving commit JSONs (driver-side metadata walk).
        Paths only reachable through a checkpoint are absent —
        callers must treat 'unknown' as 'old'."""
        seen: dict[str, int] = {}
        for v in self.versions():
            try:
                with open(_commit_path(self.path, v)) as fh:
                    for line in fh:
                        if not line.strip():
                            continue
                        a = json.loads(line).get("add")
                        if a:
                            seen[a["path"]] = v
            except FileNotFoundError:
                continue  # checkpoint-swallowed prefix
        return seen

    def _last_zorder_version(self,
                             zorder_by: list[str]) -> int | None:
        """Latest surviving OPTIMIZE commit whose commitInfo records
        the SAME zOrderBy column list (order matters — a different
        curve is a different clustering)."""
        want = json.dumps(zorder_by)
        for v in reversed(self.versions()):
            try:
                with open(_commit_path(self.path, v)) as fh:
                    for line in fh:
                        if not line.strip():
                            continue
                        ci = json.loads(line).get("commitInfo")
                        if not ci:
                            continue
                        if (ci.get("operation") == "OPTIMIZE"
                                and (ci.get("operationParameters")
                                     or {}).get("zOrderBy") == want):
                            return v
            except FileNotFoundError:
                continue
        return None

    def optimize(self, spark: SparkSession,
                 small_file_bytes: int = 128 << 20,
                 target_file_bytes: int = 256 << 20,
                 sort_by: list[str] | None = None,
                 zorder_by: list[str] | None = None,
                 incremental: bool = False) -> int | None:
        """Compaction (the OPTIMIZE maintenance op): bin-pack active
        files smaller than ``small_file_bytes`` — per partition, files
        from different partitions can never merge — and physically
        purge deletion-vector'd rows while at it (the rewritten files
        carry no DVs).  Commits remove+add pairs with
        ``dataChange=false``, so incremental/streaming consumers
        correctly skip the rewrite; per the protocol this is legal
        even on ``delta.appendOnly`` tables.  At 100 TB each partition
        group rewrites as its own distributed job sized by
        ``target_file_bytes``; the driver holds only file metadata.

        ``sort_by`` turns the pass into a CLUSTERING rewrite: EVERY
        active file of each partition rewrites, range-partitioned +
        sorted on the given columns, so each output file covers a
        narrow value range and the per-file stats written at stage
        time make ``read(where=...)`` skipping actually effective —
        for predicates on the LEADING column.

        ``zorder_by`` is the multi-dimensional version (OPTIMIZE
        ZORDER BY): quantile-binned Morton interleaving clusters
        every listed column at once, so stats prune predicates on
        ANY of them (see :func:`.stats.zorder_cluster`).  Mutually
        exclusive with ``sort_by``.

        ``incremental=True`` (with ``zorder_by``) rewrites ONLY the
        files added since the last OPTIMIZE commit that recorded the
        SAME zOrderBy — the 100 TB maintenance shape: appended data
        clusters as its own sorted run (LSM-style) while the big
        clustered set stays untouched; stats still prune both runs,
        and a periodic full pass (incremental=False) merges the
        runs.  Falls back to the full rewrite when no prior zorder
        commit survives; returns None when no new files arrived.

        Returns the committed version, or None when nothing needs
        compacting.  Raises :class:`DeltaConcurrentCommit` if a racer
        touches a candidate file between scan and commit."""
        import math

        if sort_by and zorder_by:
            raise ValueError(
                "optimize: pass sort_by OR zorder_by, not both")
        if incremental and not zorder_by:
            raise ValueError(
                "optimize: incremental=True needs zorder_by")
        snap = self._replay()
        self._check_writable(snap, "optimize")
        schema = T.StructType.fromJson(
            json.loads(snap["metaData"]["schemaString"]))
        part_cols = snap["metaData"].get("partitionColumns") or []
        data_fields = [f for f in schema.fields
                       if f.name not in part_cols]
        for label, cols in (("sort_by", sort_by),
                            ("zorder_by", zorder_by)):
            bad = [c for c in cols or []
                   if c not in {f.name for f in data_fields}]
            if bad:
                raise ValueError(
                    f"optimize {label} columns {bad} not in the "
                    "table's data columns")
        if zorder_by:
            # type support fails fast on the driver, pre-rename
            for f in data_fields:
                if f.name in zorder_by:
                    zorder_proxy_sql(f.name, f.dataType)
        # column-mapped: compact entirely in the PHYSICAL world —
        # read physical columns, re-stage physical columns — so
        # files, stats, and partitionValues stay physically keyed
        # with no rename round-trip; mode id resolves (and re-emits)
        # parquet.field.id metadata at every nesting level
        cm = self._cm_mapping(snap)
        if cm is None:
            data_schema = T.StructType(data_fields)
        else:
            by_id = getattr(cm, "ids", None) is not None
            if by_id:
                spark.conf.set(
                    "spark.sql.parquet.fieldId.read.enabled", "true")
            data_schema = T.StructType([
                T.StructField(_physical_name(f),
                              _physical_type(f.dataType, by_id),
                              f.nullable,
                              {"parquet.field.id": cm.ids[f.name]}
                              if by_id else None)
                for f in data_fields])
            if sort_by:
                sort_by = [cm[c] for c in sort_by]
            if zorder_by:
                zorder_by = [cm[c] for c in zorder_by]
        clustering = bool(sort_by or zorder_by)
        candidate: set[str] | None = None  # None = all files
        if incremental and zorder_by:
            zv = self._last_zorder_version(zorder_by)
            if zv is not None:
                added = self._add_versions()
                # unknown (checkpoint-swallowed) counts as OLD:
                # it predates every surviving commit, hence zv
                candidate = {f["path"] for f in snap["files"]
                             if added.get(f["path"], -1) > zv}
                if not candidate:
                    return None
        groups: dict[tuple, list[dict]] = {}
        for f in snap["files"]:
            if candidate is not None and f["path"] not in candidate:
                continue
            if clustering or f.get("deletionVector") \
                    or (f.get("size") or 0) < small_file_bytes:
                pv = tuple(sorted(
                    (f.get("partitionValues") or {}).items()))
                groups.setdefault(pv, []).append(f)
        todo = {pv: fs for pv, fs in groups.items()
                if clustering or len(fs) > 1
                or any(f.get("deletionVector") for f in fs)}
        if not todo:
            return None
        old_dv = {f["path"]: f.get("deletionVector")
                  for f in snap["files"]}
        new_adds: list[dict] = []
        rewritten: list[str] = []
        for pv, fs in sorted(todo.items()):
            df = spark.read.schema(data_schema).parquet(
                *[os.path.join(self.path, f["path"]) for f in fs])
            dv_map = {f["path"]: f["deletionVector"] for f in fs
                      if f.get("deletionVector")}
            if dv_map:
                df = df.select(
                    "*",
                    F.regexp_replace(F.col("_metadata.file_path"),
                                     "^file:/+", "/")
                    .alias("_dl_path"),
                    F.col("_metadata.row_index").alias("_dl_pos"))
                df = self._apply_dvs(spark, df, dv_map).drop(
                    "_dl_path", "_dl_pos")
            total = sum(f.get("size") or 0 for f in fs)
            nparts = max(1, math.ceil(total / target_file_bytes))
            if zorder_by:
                df = zorder_cluster(
                    df, zorder_by,
                    {f.name: f.dataType for f in data_schema.fields},
                    nparts)
            elif sort_by:
                # range-cluster: each output file covers a narrow
                # sort-key range, so its stats prune tightly
                df = (df.repartitionByRange(nparts, *sort_by)
                      .sortWithinPartitions(*sort_by))
            else:
                df = df.coalesce(nparts)
            staged = self._stage_data_files(df, [])
            for a in staged:
                # files land at the table root; partitionValues in the
                # log are authoritative (the protocol does not require
                # hive-style paths)
                a["add"]["partitionValues"] = dict(pv)
                a["add"]["dataChange"] = False
                new_adds.append(a)
            rewritten.extend(f["path"] for f in fs)
        last_err: Exception | None = None
        for _ in range(_COMMIT_RETRIES):
            cur = self._replay()
            by_path = {f["path"]: f for f in cur["files"]}
            now = int(time.time() * 1000)
            actions: list[dict] = [{"commitInfo": {
                "timestamp": now, "operation": "OPTIMIZE",
                "operationParameters": (
                    {"zOrderBy": json.dumps(zorder_by)}
                    if zorder_by else {}),
                "engineInfo": "python-minerva-etl-spark"}}]
            for rel in rewritten:
                f = by_path.get(rel)
                if f is None or f.get("deletionVector") != old_dv.get(rel):
                    raise DeltaConcurrentCommit(
                        f"data file {rel!r} changed since OPTIMIZE "
                        "scanned it — rerun optimize()")
                rm = {"path": rel, "deletionTimestamp": now,
                      "dataChange": False}
                if f.get("deletionVector"):
                    rm["deletionVector"] = f["deletionVector"]
                actions.append({"remove": rm})
            actions.extend(new_adds)
            version = self._next_version()
            try:
                self._commit(version, actions)
                return version
            except DeltaConcurrentCommit as e:
                last_err = e
        raise last_err  # type: ignore[misc]

    def vacuum(self, retention_hours: float = 168,
               now_ms: int | None = None,
               allow_short_retention: bool = False) -> list[str]:
        """Physically delete unreferenced files older than the
        retention window: tombstoned data files (and their DV bins)
        whose ``deletionTimestamp`` passed, plus untracked leftovers
        (aborted staging, orphaned DVs) by mtime.  Never touches
        ``_delta_log/``, active data files, or active DV bins.  Time
        travel to versions whose files are vacuumed stops working —
        that is the documented Delta trade-off.  The protocol's
        ``vacuumProtocolCheck`` feature mandates exactly the protocol
        validation done here (unknown reader/writer features refuse —
        e.g. change-data-feed files would look 'untracked' to an
        oblivious vacuum and be destroyed).  Returns the deleted
        paths (table-relative)."""
        from .delta_dv import _dv_file_path

        if retention_hours < 0:
            raise ValueError("negative retention")
        if retention_hours < 168 and not allow_short_retention:
            raise ValueError(
                f"retention {retention_hours}h < 168h risks breaking "
                "in-flight readers and time travel; pass "
                "allow_short_retention=True to force")
        snap = self._replay()
        self._check_writable(snap, "vacuum")
        now = int(time.time() * 1000) if now_ms is None else now_ms
        cutoff = now - int(retention_hours * 3600 * 1000)

        def dv_rel(entry: dict) -> str | None:
            dv = entry.get("deletionVector")
            if not dv or dv.get("storageType") != "u":
                return None
            return os.path.relpath(
                _dv_file_path(self.path, dv["pathOrInlineDv"]),
                self.path).replace(os.sep, "/")

        active: set[str] = set()
        for f in snap["files"]:
            active.add(f["path"])
            rel = dv_rel(f)
            if rel:
                active.add(rel)
        expired_at: dict[str, int] = {}
        for tomb in snap["tombstones"]:
            ts = int(tomb.get("deletionTimestamp") or 0)
            expired_at[tomb["path"]] = ts
            rel = dv_rel(tomb)
            if rel:
                expired_at[rel] = ts
        deleted: list[str] = []
        for dirpath, dirnames, names in os.walk(self.path):
            dirnames[:] = [d for d in dirnames if d != _LOG]
            for name in names:
                p = os.path.join(dirpath, name)
                rel = os.path.relpath(p, self.path).replace(
                    os.sep, "/")
                if rel in active:
                    continue
                if rel in expired_at:
                    if expired_at[rel] >= cutoff:
                        continue
                elif int(os.path.getmtime(p) * 1000) >= cutoff:
                    continue
                os.remove(p)
                deleted.append(rel)
        return sorted(deleted)

    def _write_checkpoint(self, version: int) -> None:
        """Compact the replay state at ``version`` into
        ``<v>.checkpoint.parquet`` + ``_last_checkpoint`` so readers
        (ours and others') skip the JSON tail.  Includes the surviving
        ``remove`` tombstones, as PROTOCOL.md requires — clients
        replaying from this checkpoint need them for VACUUM and
        incremental consumption."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Explicit arrow schema: the protocol types configuration /
        # options / partitionValues as map<string,string>, which
        # cannot be inferred from (possibly empty) python dicts.
        str_map = pa.map_(pa.string(), pa.string())
        dv_struct = pa.struct([
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64())])
        cp_schema = pa.schema([
            ("protocol", pa.struct([
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string()))])),
            ("metaData", pa.struct([
                ("id", pa.string()),
                ("format", pa.struct([
                    ("provider", pa.string()),
                    ("options", str_map)])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", str_map),
                ("createdTime", pa.int64())])),
            ("add", pa.struct([
                ("path", pa.string()),
                ("partitionValues", str_map),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                ("deletionVector", dv_struct)])),
            ("remove", pa.struct([
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
                ("deletionVector", dv_struct)])),
            ("txn", pa.struct([
                ("appId", pa.string()),
                ("version", pa.int64())])),
        ])

        def mapify(d):
            return list((d or {}).items())

        base = {"protocol": None, "metaData": None, "add": None,
                "remove": None, "txn": None}
        snap = self._replay(version)
        m = snap["metaData"]
        proto = snap.get("protocol") or {"minReaderVersion": 1,
                                         "minWriterVersion": 2}
        rows = [
            # the table's REAL protocol — checkpointing a DV table as
            # (1, 2) would let feature-unaware readers resurrect
            # deleted rows without even noticing
            dict(base, protocol={
                "minReaderVersion": proto.get("minReaderVersion") or 1,
                "minWriterVersion": proto.get("minWriterVersion") or 2,
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures")}),
            dict(base, metaData={
                "id": m.get("id"),
                "format": {
                    "provider": (m.get("format") or {}).get(
                        "provider", "parquet"),
                    "options": mapify((m.get("format") or {})
                                      .get("options"))},
                "schemaString": m.get("schemaString"),
                "partitionColumns": m.get("partitionColumns") or [],
                "configuration": mapify(m.get("configuration")),
                "createdTime": m.get("createdTime")}),
        ]
        for f in snap["files"]:
            rows.append(dict(base, add={
                "path": f["path"],
                "partitionValues": mapify(f.get("partitionValues")),
                "size": f.get("size"),
                "modificationTime": f.get("modificationTime"),
                "dataChange": bool(f.get("dataChange", True)),
                "stats": f.get("stats"),
                "deletionVector": f.get("deletionVector")}))
        for f in snap["tombstones"]:
            rows.append(dict(base, remove={
                "path": f["path"],
                "deletionTimestamp": f.get("deletionTimestamp"),
                "dataChange": bool(f.get("dataChange", True)),
                "deletionVector": f.get("deletionVector")}))
        for app_id, v in sorted(snap["txns"].items()):
            rows.append(dict(base, txn={"appId": app_id,
                                        "version": int(v)}))
        tbl = pa.Table.from_pylist(rows, schema=cp_schema)
        cp = os.path.join(_log_dir(self.path),
                          f"{version:020d}.checkpoint.parquet")
        pq.write_table(tbl, cp)
        with open(os.path.join(_log_dir(self.path),
                               "_last_checkpoint"), "w") as fh:
            json.dump({"version": version, "size": len(rows)}, fh)


def maybe_optimize_delta(spark: SparkSession, path: str,
                         zorder_by: list[str],
                         max_unclustered_bytes: int = 1 << 30,
                         max_unclustered_files: int = 16,
                         target_file_bytes: int = 256 << 20
                         ) -> int | None:
    """Threshold-policy INCREMENTAL Z-ORDER — the maintenance hook a
    continuously-loaded clustered table needs: appended files arrive
    unclustered and degrade file skipping until a clustering pass
    absorbs them.  Triggers :meth:`DeltaTable.optimize` with
    ``incremental=True`` when the un-zordered debt exceeds EITHER
    bound (bytes or file count).  The decision walks LOG METADATA
    only — file sizes from add actions, add-versions from the commit
    JSONs; no data is scanned — so calling it after every append (or
    from a foreachBatch sink) costs milliseconds until it fires.
    A table with no prior same-column zorder commit counts ALL
    active files as debt (the first firing does the full rewrite).
    Returns the committed version when it clustered, else None."""
    dt = DeltaTable(path)
    snap = dt._replay()
    if not snap["files"]:
        return None
    # the marker in commitInfo records PHYSICAL column names on
    # column-mapped tables (optimize() renames before recording) —
    # look it up the same way or the debt never resets
    cm = dt._cm_mapping(snap)
    zv = dt._last_zorder_version(
        [cm[c] for c in zorder_by] if cm is not None else zorder_by)
    if zv is None:
        debt = snap["files"]
    else:
        added = dt._add_versions()
        debt = [f for f in snap["files"]
                if added.get(f["path"], -1) > zv]
    if (len(debt) <= max_unclustered_files
            and sum(f.get("size") or 0 for f in debt)
            <= max_unclustered_bytes):
        return None
    return dt.optimize(spark, target_file_bytes=target_file_bytes,
                       zorder_by=zorder_by, incremental=True)


def read_delta(spark: SparkSession, path: str,
               version_as_of: int | None = None,
               where: list[tuple] | None = None,
               timestamp_as_of=None) -> DataFrame:
    """Read a Delta table (see :class:`DeltaTable.read`)."""
    return DeltaTable(path).read(spark, version_as_of, where=where,
                                 timestamp_as_of=timestamp_as_of)


def write_delta(spark: SparkSession, df: DataFrame, path: str,
                mode: str = "append") -> int:
    """Write/commit a Delta table (see :class:`DeltaTable.write`)."""
    return DeltaTable(path).write(spark, df, mode)


def delete_delta(spark: SparkSession, path: str, where) -> int | None:
    """Merge-on-read DELETE via deletion vectors (see
    :class:`DeltaTable.delete`)."""
    return DeltaTable(path).delete(spark, where)


def restore_delta(spark: SparkSession, path: str,
                  version: int) -> int:
    """RESTORE to a version (see :class:`DeltaTable.restore`)."""
    return DeltaTable(path).restore(spark, version)


def update_delta(spark: SparkSession, path: str, set: dict,
                 where=None) -> int | None:
    """Merge-on-read UPDATE (see :class:`DeltaTable.update`)."""
    return DeltaTable(path).update(spark, set, where)


def merge_delta(spark: SparkSession, path: str, source: DataFrame,
                on, **clauses) -> int | None:
    """MERGE INTO (see :class:`DeltaTable.merge`)."""
    return DeltaTable(path).merge(spark, source, on, **clauses)


def set_delta_properties(path: str, props: dict) -> int:
    """ALTER TABLE SET TBLPROPERTIES (see
    :class:`DeltaTable.set_properties`)."""
    return DeltaTable(path).set_properties(props)


def table_changes_delta(spark: SparkSession, path: str,
                        starting_version: int = 0,
                        ending_version: int | None = None
                        ) -> DataFrame:
    """Change Data Feed read (see :class:`DeltaTable.changes`)."""
    return DeltaTable(path).changes(spark, starting_version,
                                    ending_version)
