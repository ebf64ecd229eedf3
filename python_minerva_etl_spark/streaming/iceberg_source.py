"""Iceberg tables as a registered Spark data source — batch AND
Structured Streaming — via PySpark 4's Python DataSource API, no
Iceberg jar:

    register_iceberg_source(spark)
    spark.read.format("minerva_iceberg").load(path)        # batch
    (spark.readStream.format("minerva_iceberg")            # stream
     .option("fromSnapshotId", sid).load(path))

The STREAMING source tails the snapshot ancestry exactly like the
incremental append scan (:meth:`IcebergTable.incremental` — the
upstream IncrementalAppendScan / Spark `start-snapshot-id` read
semantics): micro-batch offsets are snapshot ids, each trigger
processes the data files ADDED by the new append snapshots (one
input partition per file, pyarrow decode executor-side), delete
snapshots are skipped, replace/overwrite snapshots fail the stream
(rewritten files would double-count).

``option("changelog", "true")`` upgrades the stream to a RETRACTION
feed over a Flink/Paimon-style upsert table (the consumer half of
:func:`storage.iceberg_write.equality_delete_iceberg`'s producer
story): appends emit ``_change_type='insert'`` rows, delete
snapshots emit the full PRE-IMAGES of the newly-dead rows as
``_change_type='delete'`` (position AND equality deletes,
sequence-ordered), replace/compaction snapshots emit nothing, and
``_change_ordinal`` / ``_commit_snapshot_id`` give the feed a total
order — a downstream aggregate can be maintained with signed
re-aggregation exactly like the Delta CDF path.

Scope: parquet data files.  BATCH mode applies merge-on-read
POSITION deletes executor-side (each file's deleted row ordinals
mask its pyarrow read — positions are 0-based per file, exactly the
spec's addressing) and sequence-ordered EQUALITY deletes (each task
anti-joins its own rows against the small delete parquet).
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (DataSource,
                                    DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader,
                                    InputPartition,
                                    WriterCommitMessage)

from ..storage.iceberg import IcebergTable, _localize, _to_spark_schema


def _opt(options: dict, name: str, default=None):
    """Reader option keys reach Python data sources lowercased."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


class _IceFilePartition(InputPartition):
    def __init__(self, file_path: str, orig_path: str | None = None,
                 delete_paths: tuple[str, ...] = (),
                 file_seq: int | None = None,
                 eq_deletes: tuple = ()):
        self.file_path = file_path
        # the manifest's exact spelling — position-delete entries
        # address data files by THAT string, not the local form
        self.orig_path = orig_path or file_path
        self.delete_paths = delete_paths
        # equality deletes: ((delete_parquet_path, delete_seq,
        # (key_col, ...)), ...) — applied executor-side to THIS file
        # when file_seq < delete_seq (spec ordering: later re-inserts
        # survive)
        self.file_seq = file_seq
        self.eq_deletes = eq_deletes


def _deleted_positions(orig_path: str, delete_paths):
    """0-based row ordinals the given position-delete files mask out
    of THIS data file (executor-side: each task reads only the small
    delete parquet, filtered to its own file path)."""
    import re

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def norm(x: str) -> str:
        return re.sub("^file:/+", "/", x)

    mine = pa.array(sorted({norm(orig_path)}))
    out = set()
    for dp in delete_paths:
        t = pq.read_table(dp, columns=["file_path", "pos"])
        mask = pc.is_in(pc.replace_substring_regex(
            t.column("file_path"), "^file:/+", "/"),
            value_set=mine)
        out.update(t.filter(mask).column("pos").to_pylist())
    return out


def _pos_dead_mask(orig_path: str, delete_paths, nrows: int):
    """Bool mask over the RAW file ordinals: True = row masked by a
    position-delete file (0-based per-file addressing, the spec's)."""
    import numpy as np

    mask = np.zeros(nrows, dtype=bool)
    if not delete_paths:
        return mask
    dead = _deleted_positions(orig_path, delete_paths)
    if dead:
        idx = np.fromiter((i for i in dead if i < nrows),
                          dtype=np.int64)
        mask[idx] = True
    return mask


def _eq_dead_mask(tbl, file_seq, eq_deletes):
    """Bool mask over ``tbl``'s rows: True = row killed by one of
    the sequence-ordered equality deletes (an equality delete
    applies only to data files with a STRICTLY smaller sequence
    number).  ONE merge per key-column set regardless of how many
    CDC batches' delete files apply."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    mask = np.zeros(tbl.num_rows, dtype=bool)
    if not eq_deletes or not tbl.num_rows:
        return mask
    groups: dict = {}
    for dpath, dseq, key_cols in eq_deletes:
        if file_seq is None or file_seq >= dseq:
            continue
        groups.setdefault(key_cols, []).append(dpath)
    for key_cols, dpaths in groups.items():
        dels = pd.concat(
            [pq.read_table(dp, columns=list(key_cols)).to_pandas()
             for dp in dpaths]).drop_duplicates()
        if not len(dels):
            continue
        keys = tbl.select(list(key_cols)).to_pandas()
        # pandas merge matches missing values against each other
        # — exactly the null-safe (IS NULL) match the spec needs
        hit = keys.merge(dels.assign(__eqdel=1), how="left",
                         on=list(key_cols))["__eqdel"].notna()
        mask |= hit.to_numpy()
    return mask


def _read_ice_partition(p: _IceFilePartition,
                        schema: T.StructType):
    """One Iceberg data file → pyarrow RecordBatches matching the
    table schema (files carry every column — identity-partitioned
    writers included; schema-evolution gaps null-fill); position
    deletes mask rows by their 0-based ordinal, then sequence-ordered
    equality deletes mask by key match, before emission."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    have = set(pq.ParquetFile(p.file_path).schema_arrow.names)
    want = [f.name for f in schema.fields]
    tbl = pq.read_table(p.file_path,
                        columns=[c for c in want if c in have])
    keep = ~(_pos_dead_mask(p.orig_path, p.delete_paths,
                            tbl.num_rows)
             | _eq_dead_mask(tbl, p.file_seq, p.eq_deletes))
    if not keep.all():
        tbl = tbl.filter(pa.array(keep))
    arrays = []
    for f in schema.fields:
        at = target.field(f.name).type
        if f.name not in have:
            arrays.append(pa.nulls(tbl.num_rows, type=at))
        else:
            arrays.append(tbl.column(f.name).cast(at))
    out = pa.table(arrays, schema=target)
    for batch in out.to_batches():
        yield batch


# --------------------------------------------- changelog streaming
#
# ``option("changelog", "true")`` turns the stream into a RETRACTION
# feed (the consumer half of the Flink/Paimon-style upsert-table CDC
# story).  Column NAMES follow upstream Iceberg's
# create_changelog_view; the VALUES deliberately diverge (documented
# contract, r8 advice): ``_change_type`` is LOWERCASE
# 'insert' | 'delete' — the Delta CDF convention every consumer in
# this repo (operators/materialization.py's signed re-agg, the CDF
# feeds) already speaks — where upstream emits uppercase
# 'INSERT'/'DELETE'; and ``_change_ordinal`` is the commit's data
# SEQUENCE NUMBER (a total order across the feed, stable under
# compaction) rather than upstream's dense commit-order index.
# Every emitted row is the FULL table row plus ``_change_type``,
# ``_change_ordinal`` and ``_commit_snapshot_id``.  Per snapshot:
#
#   append    → the added files' rows as 'insert'
#   delete    → the PRE-IMAGES of the newly-dead rows as 'delete':
#               rows live under the PARENT snapshot's delete state
#               that the snapshot's newly-added position/equality
#               delete files kill (computed executor-side per parent
#               data file — one task per file, each reading only its
#               own file plus the small delete parquets)
#   replace   → nothing (compaction is row-set-neutral)
#   overwrite → refuse (row-level delta not derivable)

_CHANGELOG_COLS = [("_change_type", T.StringType()),
                   ("_change_ordinal", T.LongType()),
                   ("_commit_snapshot_id", T.LongType())]


def _changelog_schema(base: T.StructType) -> T.StructType:
    fields = list(base.fields)
    for name, dtype in _CHANGELOG_COLS:
        fields.append(T.StructField(name, dtype, False))
    return T.StructType(fields)


class _IceChangePartition(InputPartition):
    def __init__(self, fp: _IceFilePartition, kind: str,
                 snapshot_id: int, ordinal: int,
                 new_pos: tuple[str, ...] = (),
                 new_eq: tuple = ()):
        self.fp = fp          # parent-state deletes live on fp
        self.kind = kind      # "insert" | "delete"
        self.snapshot_id = snapshot_id
        self.ordinal = ordinal
        self.new_pos = new_pos  # position-delete files ADDED by the
        self.new_eq = new_eq    # snapshot; kind == "delete" only


def _read_change_partition(p: _IceChangePartition,
                           base_schema: T.StructType,
                           out_schema: T.StructType):
    """One changelog input partition → RecordBatches of table rows +
    change columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(out_schema)

    def tag(tbl: "pa.Table"):
        n = tbl.num_rows
        arrays = [tbl.column(i) for i in range(tbl.num_columns)]
        for (name, _), v in zip(_CHANGELOG_COLS,
                                (p.kind, p.ordinal, p.snapshot_id)):
            arrays.append(pa.array([v] * n).cast(
                target.field(name).type))
        out = pa.table(arrays, schema=target)
        yield from out.to_batches()

    if p.kind == "insert":
        for batch in _read_ice_partition(p.fp, base_schema):
            yield from tag(pa.Table.from_batches([batch]))
        return

    fp = p.fp
    have = set(pq.ParquetFile(fp.file_path).schema_arrow.names)
    want = [f.name for f in base_schema.fields]
    tbl = pq.read_table(fp.file_path,
                        columns=[c for c in want if c in have])
    # live under the PARENT's delete state ...
    alive = ~(_pos_dead_mask(fp.orig_path, fp.delete_paths,
                             tbl.num_rows)
              | _eq_dead_mask(tbl, fp.file_seq, fp.eq_deletes))
    # ... and killed by the snapshot's NEW delete files
    newly_dead = (_pos_dead_mask(fp.orig_path, p.new_pos,
                                 tbl.num_rows)
                  | _eq_dead_mask(tbl, fp.file_seq, p.new_eq))
    emit = alive & newly_dead
    if not emit.any():
        return
    tbl = tbl.filter(pa.array(emit))
    arrays = []
    for f in base_schema.fields:
        at = target.field(f.name).type
        if f.name not in have:
            arrays.append(pa.nulls(tbl.num_rows, type=at))
        else:
            arrays.append(tbl.column(f.name).cast(at))
    named = pa.table(arrays, schema=pa.schema(
        [target.field(f.name) for f in base_schema.fields]))
    yield from tag(named)


def _parquet_paths(files: list[dict]) -> list[str]:
    out = []
    for f in files:
        fmt = (f.get("file_format") or "PARQUET").upper()
        if fmt != "PARQUET":
            raise NotImplementedError(
                f"minerva_iceberg: {fmt} data files not supported "
                "by the registered source — use read_iceberg()")
        out.append(_localize(f["file_path"]))
    return out


def _preds_from_filters(filters, names: set) -> list[tuple]:
    """Spark Filter objects → the engine's ``(col, op, lit)``
    predicate shape, keeping only single-column comparison filters
    over known top-level columns.  Used for SCAN PLANNING only — the
    caller always hands every filter back to Spark (`pushFilters`
    returns "filters that still need to be evaluated"), so pruning
    can never change results, only skip provably-excluded files."""
    from pyspark.sql.datasource import (EqualTo, GreaterThan,
                                        GreaterThanOrEqual, LessThan,
                                        LessThanOrEqual)

    ops = {EqualTo: "=", GreaterThan: ">", GreaterThanOrEqual: ">=",
           LessThan: "<", LessThanOrEqual: "<="}
    preds = []
    for f in filters:
        op = ops.get(type(f))
        if op is None or len(f.attribute) != 1:
            continue
        col = f.attribute[0]
        if col in names:
            preds.append((col, op, f.value))
    return preds


def _walk_chain(md: dict, start_id: int, end_id: int,
                ctx: str = "stream"):
    """(snaps, ordered, chain oldest-exclusive..end) along the parent
    ancestry — shared by the streaming offsets and the batch
    changelog view.  start_id == -1 means the whole history."""
    snaps = {s["snapshot-id"]: s
             for s in md.get("snapshots") or []}
    ordered = [s["snapshot-id"] for s in md.get("snapshots") or []]
    chain: list[dict] = []
    cur = snaps.get(end_id)
    if cur is None:
        raise ValueError(
            f"minerva_iceberg {ctx}: snapshot {end_id} not in "
            "metadata (expired?)")
    found = start_id == -1
    while cur is not None:
        if cur["snapshot-id"] == start_id:
            found = True
            break
        chain.append(cur)
        parent = cur.get("parent-snapshot-id")
        if parent is None:
            i = ordered.index(cur["snapshot-id"])
            parent = ordered[i - 1] if i > 0 else None
        cur = snaps.get(parent) if parent is not None else None
    if not found:
        raise ValueError(
            f"minerva_iceberg {ctx}: snapshot {start_id} is not an "
            f"ancestor of {end_id} — the table history diverged "
            "(rollback?)")
    return snaps, ordered, chain


_PATH_FIELD_ID = 2147483546  # reserved: position-delete file_path


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
    from ..storage.iceberg import _bounds_map, _decode_bound

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


def _new_delete_touches(f: dict, new_entries: list[dict],
                        types_by_id: dict) -> bool:
    """Changelog delete-epoch pruning (r8 verdict #3): can ANY of
    the snapshot's newly-added delete files kill rows of parent
    data file ``f``?"""
    return any(_delete_may_touch(f, d, types_by_id)
               for d in new_entries)


def _build_changelog_partitions(tbl: IcebergTable, ice_schema: dict,
                                md: dict, snaps: dict, ordered: list,
                                chain: list[dict],
                                skip_deletes: bool):
    """Chain (oldest→newest) → changelog input partitions — shared
    by the streaming source and the batch changelog view."""
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}

    def eq_state(dels):
        eq = []
        for d in dels:
            if d.get("content") != 2:
                continue
            cols = tuple(by_id.get(i) for i in
                         (d.get("equality_ids") or ()))
            if not cols or any(c is None for c in cols):
                raise ValueError(
                    "minerva_iceberg changelog: equality delete "
                    "references unknown field ids")
            if d.get("_seq") is None:
                raise ValueError(
                    "minerva_iceberg changelog: equality delete "
                    "without a sequence number")
            eq.append((_localize(d["file_path"]),
                       int(d["_seq"]), cols))
        return tuple(eq)

    types_by_id = {fld["id"]: fld["type"]
                   for fld in ice_schema["fields"]
                   if isinstance(fld["type"], str)}
    parts: list[_IceChangePartition] = []
    for s in reversed(chain):
        sid = s["snapshot-id"]
        ordinal = int(s.get("sequence-number") or 0)
        op = (s.get("summary") or {}).get("operation", "append")
        if op == "replace":
            continue  # compaction: row-set neutral
        if op == "append":
            files = tbl._added_files(s)
            paths = _parquet_paths(files)
            for p, f in zip(paths, files):
                parts.append(_IceChangePartition(
                    _IceFilePartition(p, f["file_path"]),
                    "insert", sid, ordinal))
            continue
        if op != "delete":
            raise ValueError(
                f"minerva_iceberg changelog: snapshot {sid} is "
                f"{op!r} — the row-level delta of an overwrite "
                "is not derivable")
        if skip_deletes:
            continue
        parent_id = s.get("parent-snapshot-id")
        if parent_id is None:
            i = ordered.index(sid)
            parent_id = ordered[i - 1] if i > 0 else None
        if parent_id is None:
            continue  # table began with a delete: nothing was live
        parent = snaps.get(parent_id)
        if parent is None:
            # the parent EXPIRED: pre-images are not derivable —
            # emitting nothing here would silently lose retractions
            raise ValueError(
                f"minerva_iceberg changelog: snapshot {sid}'s parent "
                f"{parent_id} is expired — the delete's pre-images "
                "cannot be reconstructed; start the feed after it")
        files_p, dels_p = tbl._data_files(parent, (), md)
        _, dels_s = tbl._data_files(s, (), md)
        seen = {d["file_path"] for d in dels_p}
        new = [d for d in dels_s if d["file_path"] not in seen]
        new_pos = tuple(_localize(d["file_path"]) for d in new
                        if d.get("content") == 1)
        new_eq = eq_state(new)
        if not new_pos and not new_eq:
            continue
        # per-file attach pruning for BOTH delete-state sets: a
        # pre-image task only opens the parent/new delete parquets
        # whose manifest bounds can touch its file
        parent_pos_d = [d for d in dels_p if d.get("content") == 1]
        parent_eq_pairs = list(zip(
            eq_state(dels_p),
            [d for d in dels_p if d.get("content") == 2]))
        new_pos_pairs = [(_localize(d["file_path"]), d)
                         for d in new if d.get("content") == 1]
        new_eq_pairs = list(zip(
            new_eq, [d for d in new if d.get("content") == 2]))
        paths = _parquet_paths(files_p)
        for p, f in zip(paths, files_p):
            fseq = (int(f["_seq"])
                    if f.get("_seq") is not None else None)
            if not _new_delete_touches(f, new, types_by_id):
                continue  # manifest bounds prove no new delete
                # reaches this file — planned partitions stay
                # proportional to TOUCHED files, not table size
            parts.append(_IceChangePartition(
                _IceFilePartition(
                    p, f["file_path"],
                    tuple(_localize(d["file_path"])
                          for d in parent_pos_d
                          if _delete_may_touch(f, d, types_by_id)),
                    file_seq=fseq,
                    eq_deletes=tuple(
                        t for t, d in parent_eq_pairs
                        if _delete_may_touch(f, d, types_by_id))),
                "delete", sid, ordinal,
                tuple(lp for lp, d in new_pos_pairs
                      if _delete_may_touch(f, d, types_by_id)),
                tuple(t for t, d in new_eq_pairs
                      if _delete_may_touch(f, d, types_by_id))))
    return parts


class _IceChangelogBatchReader(DataSourceReader):
    """``option("changelog", "true")`` on a BATCH read — the
    upstream create_changelog_view shape: every insert/delete change
    row between ``fromSnapshotId`` (exclusive; default the whole
    history) and ``toSnapshotId`` (inclusive; default current), with
    the same pre-image semantics as the streaming changelog."""

    def __init__(self, options: dict):
        path = _opt(options, "path")
        if not path:
            raise ValueError("minerva_iceberg requires a path")
        self.tbl = IcebergTable(path)
        self.md = self.tbl.metadata()
        self.ice_schema = self.tbl._current_schema(self.md)
        self.base_schema = _to_spark_schema(self.ice_schema)
        self.schema_ = _changelog_schema(self.base_schema)
        frm = _opt(options, "fromSnapshotId")
        self.start_id = int(frm) if frm is not None else -1
        to = _opt(options, "toSnapshotId")
        if to is not None:
            self.end_id = int(to)
        else:
            cur = self.md.get("current-snapshot-id")
            self.end_id = cur if cur not in (None, -1) else -1

    def partitions(self):
        if self.end_id == -1:
            return []
        snaps, ordered, chain = _walk_chain(
            self.md, self.start_id, self.end_id, "changelog")
        return _build_changelog_partitions(
            self.tbl, self.ice_schema, self.md, snaps, ordered,
            chain, skip_deletes=False)

    def read(self, partition):
        return _read_change_partition(partition, self.base_schema,
                                      self.schema_)


class _IceBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        path = _opt(options, "path")
        if not path:
            raise ValueError("minerva_iceberg requires a path")
        self.tbl = IcebergTable(path)
        self.md = self.tbl.metadata()
        self.ice_schema = self.tbl._current_schema(self.md)
        self.schema_ = _to_spark_schema(self.ice_schema)
        sid = _opt(options, "snapshotId")
        ref = _opt(options, "ref")
        aot = _opt(options, "as-of-timestamp")  # upstream Spark name
        if sum(x is not None for x in (sid, ref, aot)) > 1:
            raise ValueError(
                "minerva_iceberg: pass only one of snapshotId / ref "
                "/ as-of-timestamp")
        if ref is not None:
            sid = self.tbl.resolve_ref(ref)
        elif aot is not None:
            sid = self.tbl.snapshot_at(int(aot))  # epoch ms
        self.sid = int(sid) if sid is not None else None
        self.preds: list[tuple] = []

    def pushFilters(self, filters):
        """Scan planning for the registered source: comparison
        filters prune manifests (partition summaries, transformed
        domain) and files (column bounds) exactly like
        :meth:`IcebergTable.read`.  EVERY filter is handed back to
        Spark for post-scan evaluation — pushdown here is pruning,
        never filtering, so a missed bound can only cost time."""
        self.preds = _preds_from_filters(
            filters, {f.name for f in self.schema_.fields})
        return filters

    def partitions(self):
        from ..storage.iceberg import _file_may_match

        files, deletes = self.tbl._data_files(
            self.tbl._snapshot(self.md, self.sid), self.preds,
            self.md)
        eq_deletes = ()
        if any(d.get("content") == 2 for d in deletes):
            # sequence-ordered equality deletes, applied EXECUTOR-side
            # per file (each task anti-joins its own rows against the
            # small delete parquet) — refuse only when the ordering is
            # undefined, mirroring read_iceberg
            if any(f.get("_seq") is None for f in files):
                raise NotImplementedError(
                    "minerva_iceberg: equality deletes present but a "
                    "data file carries no sequence number — ordering "
                    "is undefined; use read_iceberg()")
            by_id = {f["id"]: f["name"]
                     for f in self.ice_schema["fields"]}
            eq = []
            for d in deletes:
                if d.get("content") != 2:
                    continue
                cols = tuple(by_id.get(i) for i in
                             (d.get("equality_ids") or ()))
                if not cols or any(c is None for c in cols):
                    raise ValueError(
                        "minerva_iceberg: equality delete references "
                        "unknown field ids")
                eq.append((_localize(d["file_path"]),
                           int(d["_seq"]), cols))
            eq_deletes = tuple(eq)
        if self.preds:
            field_id = {f["name"]: f["id"]
                        for f in self.ice_schema["fields"]}
            field_type = {f["name"]: f["type"]
                          for f in self.ice_schema["fields"]
                          if isinstance(f["type"], str)}
            files = [f for f in files
                     if _file_may_match(f, self.preds, field_id,
                                        field_type)]
        # per-file delete-state attach pruning: a task only opens
        # the delete parquets whose manifest bounds say they can
        # touch ITS file — on a long-lived upsert table the delete
        # list grows with commit count, and attaching all of it to
        # every file made each task's work O(deletes), not
        # O(touching deletes)
        types_by_id = {fld["id"]: fld["type"]
                       for fld in self.ice_schema["fields"]
                       if isinstance(fld["type"], str)}
        pos_dels = [d for d in deletes if d.get("content") == 1]
        eq_pairs = list(zip(eq_deletes,
                            [d for d in deletes
                             if d.get("content") == 2]))
        paths = _parquet_paths(files)
        return [_IceFilePartition(
                    p, f["file_path"],
                    tuple(_localize(d["file_path"]) for d in pos_dels
                          if _delete_may_touch(f, d, types_by_id)),
                    file_seq=(int(f["_seq"])
                              if f.get("_seq") is not None else None),
                    eq_deletes=tuple(
                        t for t, d in eq_pairs
                        if _delete_may_touch(f, d, types_by_id)))
                for p, f in zip(paths, files)]

    def read(self, partition):
        return _read_ice_partition(partition, self.schema_)


class _IceStreamReader(DataSourceStreamReader):
    """Offsets are snapshot ids: {"snapshot": id or -1}."""

    def __init__(self, options: dict):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_iceberg requires a path")
        self.tbl = IcebergTable(self.path)
        md = self.tbl.metadata()
        self.ice_schema = self.tbl._current_schema(md)
        self.schema_ = _to_spark_schema(self.ice_schema)
        frm = _opt(options, "fromSnapshotId")
        self.from_snapshot = int(frm) if frm is not None else None
        self.changelog = str(_opt(
            options, "changelog", "false")).lower() == "true"
        self.out_schema = (_changelog_schema(self.schema_)
                           if self.changelog else self.schema_)
        # upstream Spark-Iceberg option names; our delete default is
        # true for the APPEND stream (documented divergence:
        # retraction-only snapshots emit nothing there anyway) and
        # false for the CHANGELOG stream (deletes are its point)
        self.skip_deletes = str(_opt(
            options, "streaming-skip-delete-snapshots",
            "false" if self.changelog else "true")).lower() == "true"
        self.skip_overwrites = str(_opt(
            options, "streaming-skip-overwrite-snapshots",
            "false")).lower() == "true"
        # ADMISSION CONTROL (upstream Spark-Iceberg's option name,
        # snapshot-boundary granularity: a batch takes consecutive
        # snapshots along the parent chain while their cumulative
        # summary file count stays <= K — always at least one).
        # The Python DataSource API calls latestOffset before
        # revealing any start offset, so the FIRST batch of a
        # (re)started query is uncapped (same measured limitation
        # and reasoning as the minerva_avro source: an artificially
        # low first offset would regress Spark's offset log and
        # double-read after a crash) UNLESS
        # option("admissionStateDir", dir) persists the watermark
        # across restarts (saved at latestOffset time so the reload
        # is at or ahead of Spark's offset log — see
        # streaming/admission.py for the full argument).
        mfb = _opt(options, "streaming-max-files-per-micro-batch")
        self.max_files = int(mfb) if mfb is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError(
                "minerva_iceberg: streaming-max-files-per-micro-"
                f"batch must be a positive integer, got {mfb!r}")
        # option("assumeFreshStart", "true") additionally primes the
        # epoch watermark (fromSnapshotId, else -1 = whole history)
        # on a brand-new query (no state file), capping even the
        # first run's cold history — admission.fresh_start_floor.
        from .admission import attach_state, fresh_start_floor
        opt = lambda n: _opt(options, n)  # noqa: E731
        self._wm_state = attach_state(
            opt, "minerva_iceberg",
            self.path, self.max_files is not None)
        loaded = fresh_start_floor(
            opt, self._wm_state,
            self._wm_state.load() if self._wm_state else None,
            self.from_snapshot if self.from_snapshot is not None
            else -1)
        # rate-limit watermark (last snapshot id this reader
        # returned); persisted ids are valid chain anchors because
        # they were once latestOffset returns of this same query
        self._snap_seen: int | None = (
            int(loaded) if loaded is not None else None)

    @staticmethod
    def _snap_file_count(s: dict) -> int:
        """Admission cost of one snapshot, from its summary alone
        (no manifest reads on the offset path); snapshots without
        the spec summary metrics cost one unit."""
        summ = s.get("summary") or {}
        n = 0
        for k in ("added-data-files", "added-delete-files"):
            try:
                n += int(summ.get(k, 0))
            except (TypeError, ValueError):
                pass
        return max(n, 1)

    def initialOffset(self) -> dict:
        # None → the whole recorded history streams as the first
        # batches; fromSnapshotId → strictly after that snapshot
        first = (self.from_snapshot
                 if self.from_snapshot is not None else -1)
        # fresh start: prime the rate-limit watermark so the cap
        # covers the cold backlog if Spark ever calls this first
        if self._snap_seen is None:
            self._snap_seen = first
        return {"snapshot": first}

    def latestOffset(self) -> dict:
        md = self.tbl.metadata()
        cur = md.get("current-snapshot-id")
        cur = cur if cur not in (None, -1) else -1
        if (self.max_files is not None
                and self._snap_seen is not None
                and cur != -1 and cur != self._snap_seen):
            _, _, chain = _walk_chain(md, self._snap_seen, cur)
            end, total = None, 0
            for s in reversed(chain):  # oldest first
                n = self._snap_file_count(s)
                if end is not None and total + n > self.max_files:
                    break
                total += n
                end = s["snapshot-id"]
            cur = end if end is not None else self._snap_seen
        self._snap_seen = cur if cur != -1 else self._snap_seen
        if self._wm_state is not None:
            # persist at latestOffset so the state file stays at or
            # ahead of every offset Spark logs (reload can never
            # regress the log or anchor a start→ancestor walk)
            self._wm_state.save(self._snap_seen)
        return {"snapshot": cur}

    def partitions(self, start: dict, end: dict):
        # restart replaying an uncommitted batch lands here before
        # any latestOffset — prime the rate-limit watermark (the
        # planned batch's end is the next walk's start)
        if int(end["snapshot"]) != -1:
            self._snap_seen = int(end["snapshot"])
        end_id = int(end["snapshot"])
        if end_id == -1:
            return []
        start_id = int(start["snapshot"])
        md = self.tbl.metadata()
        snaps, ordered, chain = _walk_chain(md, start_id, end_id,
                                            "stream")
        if self.changelog:
            return _build_changelog_partitions(
                self.tbl, self.ice_schema, md, snaps, ordered,
                chain, self.skip_deletes)
        files: list[dict] = []
        for s in reversed(chain):
            op = (s.get("summary") or {}).get("operation", "append")
            if op == "delete":
                if self.skip_deletes:
                    continue  # append stream: retractions don't emit
                raise ValueError(
                    f"minerva_iceberg stream: snapshot "
                    f"{s['snapshot-id']} is a delete and "
                    "streaming-skip-delete-snapshots=false — pass "
                    "option('changelog', 'true') for a retraction "
                    "stream")
            if op != "append":
                if self.skip_overwrites and op in ("overwrite",
                                                   "replace"):
                    continue  # user opted into missing their adds
                raise ValueError(
                    f"minerva_iceberg stream: snapshot "
                    f"{s['snapshot-id']} is {op!r} — rewritten "
                    "files would double-count in an append stream "
                    "(set streaming-skip-overwrite-snapshots=true "
                    "to skip them)")
            files += self.tbl._added_files(s)
        return [_IceFilePartition(p)
                for p in _parquet_paths(files)]

    def read(self, partition):
        if isinstance(partition, _IceChangePartition):
            return _read_change_partition(partition, self.schema_,
                                          self.out_schema)
        return _read_ice_partition(partition, self.schema_)

    def commit(self, end: dict) -> None:
        if int(end.get("snapshot", -1)) != -1:
            self._snap_seen = int(end["snapshot"])
        # no state-file save here: snapshot ids carry no natural
        # order, and a restart's replayed commit hands this method
        # an OLDER end than the latestOffset the run already
        # persisted — saving it would regress the state file.
        # latestOffset (called at least once per run, before any
        # partitions — measured) is the monotone persistence point.


class _IceCommitMessage(WriterCommitMessage):
    def __init__(self, entries: list[dict]):
        self.entries = entries


class _IceWriter(DataSourceArrowWriter):
    """Append-only batch writer: executors write uniquely-named
    parquet files under ``data/`` (every schema column kept, the
    Iceberg rule) and compute their manifest bounds; the driver
    CAS-commits one append snapshot from the gathered entries.
    Overwrite mode refuses — an Iceberg overwrite is a REPLACE
    snapshot, which `compact_iceberg` models; this writer appends."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        from ..storage.iceberg_write import _precheck_append

        if overwrite:
            raise NotImplementedError(
                "minerva_iceberg writer is append-only "
                "(mode('append')); overwrite would need a REPLACE "
                "snapshot")
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_iceberg requires a path")
        self.schema_ = schema
        pb = _opt(options, "partitionBy")
        self.partition_by = pb.strip() if pb else None
        # one partition FIELD only (a comma inside transform parens —
        # bucket(col, 4) / truncate(col, 10) — is fine)
        if self.partition_by and "," in _re.sub(
                r"\([^)]*\)", "", self.partition_by):
            raise NotImplementedError(
                "minerva_iceberg: one partition field")
        # fail fast on the driver, before any executor writes.
        # partitionBy takes the same forms write_iceberg does:
        # "col" (identity), "days(ts)"/"day(ts)", "hour(ts)",
        # "month(d)"/"year(d)", "bucket(col, N)", "truncate(col, W)"
        # — each executor computes the transformed value per Arrow
        # batch (_PartField.values_arrow) and stages per value.
        self.ice_schema, self.part = _precheck_append(
            self.path, schema, self.partition_by)

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..storage.iceberg_write import _bound_entries

        batches = list(iterator)
        if not batches:
            return _IceCommitMessage([])
        tbl = pa.Table.from_batches(batches)
        data_dir = os.path.join(self.path, "data")

        def emit(sub: "pa.Table", pval) -> dict:
            dst = (data_dir if pval is None else os.path.join(
                data_dir, f"{self.part.name}={pval}"))
            os.makedirs(dst, exist_ok=True)
            final = os.path.join(dst, f"{_uuid.uuid4().hex}.parquet")
            pq.write_table(sub, final, compression="snappy")
            entry = {
                "content": 0, "file_path": final,
                "file_format": "PARQUET",
                "record_count": sub.num_rows,
                "file_size_in_bytes": os.path.getsize(final),
            }
            if pval is not None:
                entry["partition"] = {self.part.name: pval}
            _bound_entries([entry], self.ice_schema)
            return entry

        entries = []
        if self.part is None:
            entries.append(emit(tbl, None))
        else:
            col = tbl.column(self.part.source)
            if col.null_count:
                raise ValueError(
                    f"iceberg append: null value in partition "
                    f"column {self.part.source!r}")
            import pandas as pd

            keys = pd.Series(self.part.values_arrow(col))
            for val, idx in keys.groupby(keys, sort=False).groups \
                    .items():
                pval = (int(val)
                        if self.part.result_type in ("int", "long",
                                                     "date")
                        else str(val))
                sub = tbl.take(pa.array(idx.to_numpy()))
                entries.append(emit(sub, pval))
        return _IceCommitMessage(entries)

    def commit(self, messages):
        from ..storage.iceberg_write import _commit_staged

        entries = [e for m in messages if m for e in m.entries]
        _commit_staged(self.path, entries, self.ice_schema,
                       self.part)

    def abort(self, messages):
        for m in messages:
            for e in getattr(m, "entries", None) or []:
                try:
                    os.remove(e["file_path"])
                except OSError:
                    pass


class _IceStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once append STREAMING sink, the Flink connector's
    pattern adapted to this engine (Iceberg has no setTransaction
    action; Flink records its max committed checkpoint id in the
    snapshot SUMMARY): every micro-batch commits one append snapshot
    whose summary carries ``minerva-txn-app-id`` /
    ``minerva-txn-batch-id``, and a replayed batch whose id is at or
    below the writer's max committed id cleans up its staged files
    and commits NOTHING.

    The ledger lives in snapshot summaries, so
    :func:`storage.iceberg_write.expire_snapshots` must keep enough
    history to cover the longest possible replay window — the same
    retention caveat Flink's max-committed-checkpoint-id has.
    Distinct streams writing one table need distinct ``txnAppId``
    options.  Empty batches still commit (an empty append snapshot
    is legal) so the ledger stays monotone across idle triggers."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        self._batch = _IceWriter(options, schema, overwrite)
        self.app_id = _opt(options, "txnAppId") or \
            f"minerva_iceberg_sink:{os.path.abspath(self._batch.path)}"

    def write(self, iterator):
        return self._batch.write(iterator)

    def _max_committed(self) -> int:
        mdir = os.path.join(self._batch.path, "metadata")
        if not (os.path.isdir(mdir)
                and any(n.endswith(".metadata.json")
                        for n in os.listdir(mdir))):
            return -1
        md = IcebergTable(self._batch.path).metadata()
        best = -1
        for s in md.get("snapshots") or []:
            summ = s.get("summary") or {}
            if summ.get("minerva-txn-app-id") == self.app_id:
                try:
                    best = max(best,
                               int(summ.get("minerva-txn-batch-id",
                                            -1)))
                except (TypeError, ValueError):
                    pass
        return best

    def commit(self, messages, batchId: int):
        from ..storage.iceberg_write import _commit_staged

        entries = [e for m in messages if m for e in m.entries]
        if int(batchId) <= self._max_committed():
            for e in entries:  # replay: already committed
                try:
                    os.remove(e["file_path"])
                except OSError:
                    pass
            return
        _commit_staged(
            self._batch.path, entries, self._batch.ice_schema,
            self._batch.part,
            extra_summary={
                "minerva-txn-app-id": self.app_id,
                "minerva-txn-batch-id": str(int(batchId))})

    def abort(self, messages, batchId: int):
        self._batch.abort(messages)


class MinervaIcebergDataSource(DataSource):
    """`format("minerva_iceberg")` — see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "minerva_iceberg"

    def schema(self):
        path = _opt(dict(self.options), "path")
        if not path:
            raise ValueError("minerva_iceberg requires a path")
        base = IcebergTable(path).schema()
        if str(_opt(dict(self.options), "changelog",
                    "false")).lower() == "true":
            return _changelog_schema(base)
        return base

    def reader(self, schema) -> DataSourceReader:
        opts = dict(self.options)
        if str(_opt(opts, "changelog", "false")).lower() == "true":
            return _IceChangelogBatchReader(opts)
        return _IceBatchReader(opts)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _IceStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        return _IceWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _IceStreamWriter(dict(self.options), schema,
                                overwrite)


def register_iceberg_source(spark: SparkSession) -> None:
    """Register ``minerva_iceberg`` for this session (idempotent).
    Also enables Python data source filter pushdown — a reader that
    implements ``pushFilters`` HARD-FAILS when the conf is off, so
    registration owns turning it on (runtime conf, session-scoped)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")
    except Exception:
        pass  # static conf in exotic deployments; reads still work
    spark.dataSource.register(MinervaIcebergDataSource)
