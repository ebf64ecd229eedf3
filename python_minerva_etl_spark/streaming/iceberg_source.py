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

A BATCH read scans the plan :meth:`IcebergTable._read_plan` builds
for ``read_iceberg`` and the row-level DML too: the snapshot
selector (``snapshotId`` / ``ref`` / ``as-of-timestamp``), the
predicate check and manifest and file pruning on the pushed filters
are decided there once.  Every data file — batch, stream and
changelog pre-image alike — is read by one Arrow reader
(:func:`_read_ice_file`), which runs ``read_iceberg``'s footer guard
(:func:`storage.iceberg._check_footer`) on the footer it opens.

Scope: parquet data files.  BATCH mode applies merge-on-read
POSITION deletes executor-side (each file's deleted row ordinals
mask its pyarrow read — positions are 0-based per file, exactly the
spec's addressing) and sequence-ordered EQUALITY deletes (each task
anti-joins its own rows against the small delete parquet).  Which
delete files reach which data file, and the parent-chain walk the
stream follows, come from :mod:`storage.iceberg`, the same rules
``read_iceberg`` applies.

Shared with the other registered sources: :mod:`.source_api`
(options, path check, filter translation, registration),
:mod:`.admission` (admission control) and
:func:`storage.commit.write_parts` (the sink's task-side write).
"""

from __future__ import annotations

import os
import re as _re
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (DataSource,
                                    DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader,
                                    InputPartition,
                                    WriterCommitMessage)

from ..storage.commit import (_FILE_URI, _localize, hive_segment,
                              remove_files, write_parts)
from ..storage.iceberg import (IcebergTable, _check_footer,
                               _delete_pairs, _parent_id,
                               _to_spark_schema, _touching, _types_by_id,
                               _walk_chain)
from .admission import admission_state, admit, cap_option
from .source_api import (_flag, _opt, empty_when_pruned,
                         preds_from_filters, register, require_path)


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
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mine = pa.array([_localize(orig_path)])
    out = set()
    for dp in delete_paths:
        t = pq.read_table(dp, columns=["file_path", "pos"])
        mask = pc.is_in(pc.replace_substring_regex(
            t.column("file_path"), _FILE_URI, "/"),
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


def _live_mask(tbl, p: _IceFilePartition):
    """Bool mask over ``tbl``'s raw file rows: True = live under the
    delete files of ``p`` — position deletes by 0-based ordinal,
    sequence-ordered equality deletes by key match."""
    return ~(_pos_dead_mask(p.orig_path, p.delete_paths, tbl.num_rows)
             | _eq_dead_mask(tbl, p.file_seq, p.eq_deletes))


def _read_ice_file(p: _IceFilePartition, schema: T.StructType,
                   keep=_live_mask):
    """One Iceberg data file as a pyarrow Table matching ``schema``
    (files carry every column — identity-partitioned writers
    included; a missing optional column null-fills, a missing
    required one refuses by :func:`storage.iceberg._check_footer`,
    the guard ``read_iceberg`` runs), keeping the rows whose
    ``keep(table, p)`` mask is True."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    names = pq.ParquetFile(p.file_path).schema_arrow.names
    _check_footer(p.file_path, names, schema)
    have = set(names)
    tbl = pq.read_table(p.file_path, columns=[
        f.name for f in schema.fields if f.name in have])
    mask = keep(tbl, p)
    if not mask.all():
        tbl = tbl.filter(pa.array(mask))
    arrays = []
    for f in schema.fields:
        at = target.field(f.name).type
        arrays.append(tbl.column(f.name).cast(at) if f.name in have
                      else pa.nulls(tbl.num_rows, type=at))
    return pa.table(arrays, schema=target)


def _read_ice_partition(p: _IceFilePartition,
                        schema: T.StructType):
    """One Iceberg data file → pyarrow RecordBatches of its live
    rows (:func:`_read_ice_file`)."""
    yield from _read_ice_file(p, schema).to_batches()


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

    def pre_image(tbl, fp: _IceFilePartition):
        # live under the PARENT's delete state, and killed by the
        # snapshot's NEW delete files
        return _live_mask(tbl, fp) & (
            _pos_dead_mask(fp.orig_path, p.new_pos, tbl.num_rows)
            | _eq_dead_mask(tbl, fp.file_seq, p.new_eq))

    yield from tag(_read_ice_file(
        p.fp, base_schema,
        _live_mask if p.kind == "insert" else pre_image))


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


def _file_partition(path: str, f: dict, pos, eq,
                    types_by_id: dict) -> _IceFilePartition:
    """Data file ``f`` read at ``path`` under the ``pos``/``eq``
    delete pairs that can touch it."""
    return _IceFilePartition(
        path, f["file_path"], _touching(f, pos, types_by_id),
        file_seq=int(f["_seq"]) if f.get("_seq") is not None else None,
        eq_deletes=_touching(f, eq, types_by_id))


def _build_changelog_partitions(tbl: IcebergTable, ice_schema: dict,
                                md: dict, snaps: dict, ordered: list,
                                chain: list[dict],
                                skip_deletes: bool):
    """Chain (oldest→newest) → changelog input partitions — shared
    by the streaming source and the batch changelog view."""
    types_by_id = _types_by_id(ice_schema)
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
        parent_id = _parent_id(s, ordered)
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
        files_p, dels_p = tbl._data_files(parent)
        _, dels_s = tbl._data_files(s)
        seen = {d["file_path"] for d in dels_p}
        new_pos, new_eq = _delete_pairs(
            [d for d in dels_s if d["file_path"] not in seen],
            files_p, ice_schema)
        if not new_pos and not new_eq:
            continue
        # a pre-image task opens only the parent and new delete
        # parquets whose manifest bounds can touch its file
        pos_p, eq_p = _delete_pairs(dels_p, files_p, ice_schema)
        for p, f in zip(_parquet_paths(files_p), files_p):
            np_ = _touching(f, new_pos, types_by_id)
            ne = _touching(f, new_eq, types_by_id)
            if not np_ and not ne:
                continue  # manifest bounds prove no new delete
                # reaches this file — planned partitions stay
                # proportional to TOUCHED files, not table size
            parts.append(_IceChangePartition(
                _file_partition(p, f, pos_p, eq_p, types_by_id),
                "delete", sid, ordinal, np_, ne))
    return parts


class _IceChangelogBatchReader(DataSourceReader):
    """``option("changelog", "true")`` on a BATCH read — the
    upstream create_changelog_view shape: every insert/delete change
    row between ``fromSnapshotId`` (exclusive; default the whole
    history) and ``toSnapshotId`` (inclusive; default current), with
    the same pre-image semantics as the streaming changelog."""

    def __init__(self, options: dict):
        self.tbl = IcebergTable(require_path(options, "minerva_iceberg"))
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
            self.md, self.start_id, self.end_id,
            "minerva_iceberg changelog")
        return _build_changelog_partitions(
            self.tbl, self.ice_schema, self.md, snaps, ordered,
            chain, skip_deletes=False)

    @empty_when_pruned
    def read(self, partition):
        return _read_change_partition(partition, self.base_schema,
                                      self.schema_)


class _IceBatchReader(DataSourceReader):
    """A snapshot read over :meth:`IcebergTable._read_plan`, the plan
    ``read_iceberg`` lists its files from: one input partition per
    data file the pushed filters may match."""

    def __init__(self, options: dict):
        sid = _opt(options, "snapshotId")
        aot = _opt(options, "as-of-timestamp")  # upstream Spark name
        self.plan = IcebergTable(
            require_path(options, "minerva_iceberg"))._read_plan(
            int(sid) if sid is not None else None, _opt(options, "ref"),
            int(aot) if aot is not None else None)  # epoch ms
        self.schema_ = _to_spark_schema(self.plan.ice_schema)
        self.preds: list[tuple] = []

    def pushFilters(self, filters):
        """Scan planning for the registered source: comparison
        filters prune manifests (partition summaries, transformed
        domain) and files (column bounds) exactly like
        :meth:`IcebergTable.read`.  EVERY filter is handed back to
        Spark for post-scan evaluation — pushdown here is pruning,
        never filtering, so a missed bound can only cost time."""
        self.preds = preds_from_filters(
            filters, {f.name for f in self.schema_.fields})
        return filters

    def partitions(self):
        plan = self.plan.where(self.preds)
        files, deletes = plan.files()
        # sequence-ordered equality deletes are applied EXECUTOR-side
        # per file (each task anti-joins its own rows against the
        # small delete parquet)
        pos, eq = _delete_pairs(deletes, files, plan.ice_schema)
        types_by_id = _types_by_id(plan.ice_schema)
        return [_file_partition(p, f, pos, eq, types_by_id)
                for p, f in zip(_parquet_paths(files), files)]

    @empty_when_pruned
    def read(self, partition):
        return _read_ice_partition(partition, self.schema_)


class _IceStreamReader(DataSourceStreamReader):
    """Offsets are snapshot ids: {"snapshot": id or -1}."""

    def __init__(self, options: dict):
        self.path = require_path(options, "minerva_iceberg")
        self.tbl = IcebergTable(self.path)
        md = self.tbl.metadata()
        self.ice_schema = self.tbl._current_schema(md)
        self.schema_ = _to_spark_schema(self.ice_schema)
        frm = _opt(options, "fromSnapshotId")
        self.from_snapshot = int(frm) if frm is not None else None
        self.changelog = _flag(options, "changelog")
        self.out_schema = (_changelog_schema(self.schema_)
                           if self.changelog else self.schema_)
        # upstream Spark-Iceberg option names; our delete default is
        # true for the APPEND stream (documented divergence:
        # retraction-only snapshots emit nothing there anyway) and
        # false for the CHANGELOG stream (deletes are its point)
        self.skip_deletes = _flag(
            options, "streaming-skip-delete-snapshots",
            "false" if self.changelog else "true")
        self.skip_overwrites = _flag(
            options, "streaming-skip-overwrite-snapshots")
        # ADMISSION CONTROL (upstream Spark-Iceberg's option name,
        # snapshot-boundary granularity: a batch takes consecutive
        # snapshots along the parent chain while their cumulative
        # summary file count stays <= K).  The first-batch
        # limitation and admissionStateDir / assumeFreshStart are as
        # for minerva_avro (see _AvroStreamReader and
        # streaming/admission.py); the epoch is fromSnapshotId, else
        # -1 = the whole history.
        self.max_files = cap_option(
            options, "minerva_iceberg",
            "streaming-max-files-per-micro-batch")
        self._wm_state, loaded = admission_state(
            options, "minerva_iceberg", self.path,
            self.max_files is not None,
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
            _, _, chain = _walk_chain(md, self._snap_seen, cur,
                                      "minerva_iceberg stream")
            chain.reverse()  # oldest first
            taken = admit(chain, [(self._snap_file_count,
                                   self.max_files)])
            cur = (chain[taken - 1]["snapshot-id"] if taken
                   else self._snap_seen)
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
                                            "minerva_iceberg stream")
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
    commits one append snapshot from the gathered entries through
    :func:`storage.iceberg_write._commit`, the commit every Iceberg
    writer makes (the streaming writer adds its batch ledger to the
    summary).  Overwrite mode refuses: this writer appends, and
    :func:`storage.iceberg_write.overwrite_iceberg` overwrites."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        from ..storage.iceberg_write import _precheck_append

        if overwrite:
            raise NotImplementedError(
                "minerva_iceberg writer is append-only "
                "(mode('append')); overwrite would need a REPLACE "
                "snapshot")
        self.path = require_path(options, "minerva_iceberg")
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
        from ..storage.iceberg_write import _bound_entries

        part = self.part
        data_dir = os.path.join(self.path, "data")

        def keys(tbl) -> list:
            if part is None:
                return []
            col = tbl.column(part.source)
            if col.null_count:
                raise ValueError(
                    f"iceberg append: null value in partition "
                    f"column {part.source!r}")
            return [part.values_arrow(col)]

        def pval(key: tuple):
            return (int(key[0]) if part.result_type in ("int", "long",
                                                         "date")
                    else str(key[0]))

        def place(key: tuple) -> str:
            sub = [] if part is None else [hive_segment(
                part.name, str(pval(key)))]
            return os.path.join(data_dir, *sub,
                                f"{uuid.uuid4().hex}.parquet")

        entries = []
        for final, key, rows in write_parts(
                iterator, keys, [f.name for f in self.schema_.fields],
                place):
            entry = {"content": 0, "file_path": final,
                     "file_format": "PARQUET", "record_count": rows,
                     "file_size_in_bytes": os.path.getsize(final)}
            if part is not None:
                entry["partition"] = {part.name: pval(key)}
            entries.append(entry)
        _bound_entries(entries, self.ice_schema)
        return _IceCommitMessage(entries)

    def commit(self, messages, summary: dict | None = None):
        from ..storage.iceberg_write import _commit

        _commit(IcebergTable(self.path), "append",
                data=[e for m in messages if m for e in m.entries],
                part=self.part, create=self.ice_schema, summary=summary)

    def abort(self, messages):
        remove_files(e["file_path"] for m in messages
                     for e in getattr(m, "entries", None) or [])


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
        from ..storage.iceberg_write import _has_metadata

        if not _has_metadata(self._batch.path):
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
        if int(batchId) <= self._max_committed():
            self._batch.abort(messages)  # replay: already committed
            return
        self._batch.commit(messages, {
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
        opts = dict(self.options)
        base = IcebergTable(require_path(opts, "minerva_iceberg")).schema()
        if _flag(opts, "changelog"):
            return _changelog_schema(base)
        return base

    def reader(self, schema) -> DataSourceReader:
        opts = dict(self.options)
        if _flag(opts, "changelog"):
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
    """Register ``minerva_iceberg`` for this session (idempotent, with
    filter pushdown on — :func:`.source_api.register`)."""
    register(spark, MinervaIcebergDataSource)
