"""Delta tables as a registered Spark data source — batch AND
Structured Streaming — via PySpark 4's Python DataSource API
(SPARK-44076), with no Delta jar:

    register_delta_source(spark)
    spark.read.format("minerva_delta").load(path)          # batch
    (spark.readStream.format("minerva_delta")              # stream
     .option("startingVersion", 0).load(path))

A BATCH read scans the plan :meth:`DeltaTable._read_plan` builds for
``read_delta`` too: time travel (``versionAsOf`` / ``timestampAsOf``),
the column-mapping view and file pruning on the pushed filters are
decided there once, so both readers agree on which files a query
reads and how their columns resolve.  The stream and change-feed
readers take their column-mapping view from the same place.

The STREAMING reader is the point: micro-batch offsets are Delta
commit versions, so a query tails the transaction log exactly like
Delta's own streaming source — each trigger processes the dataChange
add actions of the versions in ``(startOffset, endOffset]``, one
input partition per data file (decoded executor-side with pyarrow,
deletion-vector masks applied by row index).  Commits that REMOVE
data (updates/deletes/overwrites) refuse by default, matching the
upstream source's "data update detected" error; ``ignoreChanges`` /
``ignoreDeletes`` opt into the upstream's documented
may-emit-duplicates behavior.

``option("readChangeFeed", "true")`` is the batch Change Data Feed:
it consumes the change plan :meth:`DeltaTable._change_plan` builds
for :meth:`DeltaTable.changes` too — one input partition per planned
file, read under the partition columns that file was written with —
so both change-feed readers share one classification and one set of
refusals.

Scope: tables this engine can read, including column-mapped ones
(mode "name" resolves physicalName, mode "id" resolves the file's
own PARQUET:field_id — rename-proof), NESTED mapped columns
included (executor-side arrow rebuild, struct children by field id
or physical name, missing children null-fill); partition types the
one partition-value parser (:func:`storage.delta._partition_value`)
does not read — timestamps, decimals — refuse loudly, and
``read_delta`` reads them.  The sinks refuse column-mapped tables
(their executors stage logical names).  Data files
must carry every non-partition column (true for Spark-written
tables).

The plumbing all three registered sources share lives elsewhere:
option lookup, the path check, filter translation and registration
in :mod:`.source_api`, admission control in :mod:`.admission`, and
the sinks' task-side parquet write in
:func:`storage.commit.write_parts`.
"""

from __future__ import annotations

import os
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

from ..storage.commit import hive_segment, remove_files, write_parts
from ..storage.delta import (DeltaTable, _column_mapping,
                             _partition_value)
from .admission import admission_state, admit, cap_option
from .source_api import (_flag, _opt, empty_when_pruned,
                         preds_from_filters, register, require_path)


class _FilePartition(InputPartition):
    """One data file of the add/cdc/remove ``action``, read under the
    partition columns it was written with."""

    def __init__(self, table_path: str, action: dict,
                 part_cols: list[str], cm: tuple,
                 dv_diff: tuple[dict, dict | None] | None = None):
        self.table_path = table_path
        self.rel_path = action["path"]
        self.pvals = action.get("partitionValues") or {}
        self.part_cols = part_cols
        # (mode, specs) of the column-mapping view
        # (storage.delta._ColumnMapping) — resolved executor-side per
        # file
        self.cm = cm
        # (new DV, old DV): emit ONLY the rows the new deletion
        # vector masks and the old one did not (a change-feed DV
        # update); otherwise the action's own DV masks rows out
        self.dv_diff = dv_diff
        self.dv = None if dv_diff else action.get("deletionVector")


def _read_partition(p: _FilePartition, schema: T.StructType):
    """One data file → pyarrow RecordBatches matching ``schema``:
    file columns cast to the Arrow types Spark expects, the file's
    partition columns attached as typed constants, deletion-vector
    positions masked out by row index.  Column-mapped tables resolve
    each logical column to its file column executor-side — by
    physicalName (mode "name") or by the PARQUET:field_id the file
    declares (mode "id", rename-proof); a column the file lacks
    null-fills (schema evolution)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..storage.delta_dv import dv_load, dv_minus

    part_cols = p.part_cols
    target = to_arrow_schema(schema)
    fpath = os.path.join(p.table_path, p.rel_path)
    sa = pq.ParquetFile(fpath).schema_arrow
    file_names = set(sa.names)
    mode, specs = p.cm
    # mode id: match by the field ids the FILE declares
    id_to_name = {}
    if mode == "id":
        for i in range(len(sa.names)):
            raw = (sa.field(i).metadata or {}).get(b"PARQUET:field_id")
            if raw is not None:
                id_to_name[int(raw)] = sa.field(i).name
    # logical -> file column name (None: the file lacks it), its
    # partitionValues key (the physical name) and nested spec
    col_of: dict[str, str | None] = {}
    pkey: dict[str, str] = {}
    spec_of: dict[str, tuple | None] = {}
    for lg, ph, fid, spc in specs:
        # a mapped field with no id (the synthetic _change_type in
        # cdc files) matches by its physical NAME; a FILE with no
        # PARQUET:field_id metadata at all (written by an engine that
        # skipped id stamping) resolves by physicalName like mode
        # "name" — id_to_name is empty, so an id lookup would
        # null-fill every column and silently return all-null rows
        # where the batch reader (parquet.fieldId.read.enabled) fails
        # loudly
        if fid is not None and id_to_name:
            col_of[lg] = id_to_name.get(fid)
        else:
            col_of[lg] = ph if ph in file_names else None
        pkey[lg] = ph
        spec_of[lg] = spc
    want = sorted({c for lg, c in col_of.items()
                   if c is not None and lg not in part_cols})
    tbl = pq.read_table(fpath, columns=want)
    if p.dv:
        positions = dv_load(p.table_path, p.dv)
        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[positions] = False
        tbl = tbl.filter(pa.array(mask))
    if p.dv_diff:
        keep = dv_minus(p.table_path, *p.dv_diff)
        mask = np.zeros(tbl.num_rows, dtype=bool)
        mask[keep[keep < tbl.num_rows]] = True
        tbl = tbl.filter(pa.array(mask))
    arrays = []
    for f in schema.fields:
        at = target.field(f.name).type
        if f.name in part_cols:
            v = _partition_value(p.pvals.get(pkey[f.name]),
                                 f.dataType)
            arrays.append(pa.array([v] * tbl.num_rows).cast(at))
        elif col_of[f.name] is None:
            # schema evolution: old files lack the new column
            arrays.append(pa.nulls(tbl.num_rows, type=at))
        elif spec_of.get(f.name) is not None:
            arrays.append(_arrow_rebuild(
                tbl.column(col_of[f.name]), spec_of[f.name], at,
                mode))
        else:
            arrays.append(tbl.column(col_of[f.name]).cast(at))
    out = pa.table(arrays, schema=target)
    for batch in out.to_batches():
        yield batch


def _arrow_rebuild(arr, spec, target_type, mode):
    """Rebuild a physical arrow column under its LOGICAL nested
    names (executor-side twin of storage.delta._logical_expr):
    struct children located by PARQUET:field_id (mode 'id', when the
    file declares ids) or physical name, missing children null-fill
    (nested schema evolution), nulls preserved at every level."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if spec is None:
        return arr.cast(target_type)
    kind = spec[0]
    if kind == "struct":
        st = arr.type
        by_name = {st.field(i).name: i for i in range(st.num_fields)}
        by_id = {}
        for i in range(st.num_fields):
            raw = (st.field(i).metadata or {}).get(
                b"PARQUET:field_id")
            if raw is not None:
                by_id[int(raw)] = i
        children, tfields = [], []
        for i, (lg, ph, fid, cspec) in enumerate(spec[1]):
            tf = target_type.field(i)
            if fid is not None and by_id:
                idx = by_id.get(fid)
            else:
                idx = by_name.get(ph)
            if idx is None:
                children.append(pa.nulls(len(arr), type=tf.type))
            else:
                children.append(_arrow_rebuild(
                    arr.field(idx), cspec, tf.type, mode))
            tfields.append(tf)
        mask = arr.is_null() if arr.null_count else None
        return pa.StructArray.from_arrays(children, fields=tfields,
                                          mask=mask)
    if kind == "array":
        values = _arrow_rebuild(arr.values, spec[1],
                                target_type.value_type, mode)
        # rebuild ON THE ORIGINAL BUFFERS (validity + offsets) with
        # the rebuilt child swapped in — from_arrays(offsets, …)
        # silently drops the parent validity (null lists became [])
        lt = (pa.large_list(values.type)
              if pa.types.is_large_list(arr.type)
              else pa.list_(values.type))
        out = pa.Array.from_buffers(
            lt, len(arr), arr.buffers()[:2],
            null_count=arr.null_count, offset=arr.offset,
            children=[values])
        return out.cast(target_type)
    # map: keys are unmapped (no field names), values rebuild
    items = _arrow_rebuild(arr.items, spec[1],
                           target_type.item_type, mode)
    keys = arr.keys.cast(target_type.key_type)
    entries = pa.StructArray.from_arrays(
        [keys, items], names=["key", "value"])
    out = pa.Array.from_buffers(
        pa.map_(keys.type, items.type), len(arr),
        arr.buffers()[:2], null_count=arr.null_count,
        offset=arr.offset, children=[entries])
    return out.cast(target_type)


def _read_plan(options: dict):
    """The table's read plan (:meth:`DeltaTable._read_plan`) at the
    ``versionAsOf`` / ``timestampAsOf`` options."""
    vao = _opt(options, "versionAsOf")
    tao = _opt(options, "timestampAsOf")
    if tao is not None:
        # epoch-ms if numeric, else ISO-8601 (option values always
        # arrive as strings)
        try:
            tao = int(tao)
        except ValueError:
            pass
    return DeltaTable(require_path(options, "minerva_delta"))._read_plan(
        int(vao) if vao is not None else None, tao)


class _BatchReader(DataSourceReader):
    """A snapshot read over :meth:`DeltaTable._read_plan`, the plan
    ``read_delta`` scans: one input partition per file the pushed
    filters may match."""

    def __init__(self, options: dict):
        self.plan = _read_plan(options)
        self.schema_ = self.plan.cm.schema
        self.table_path = os.path.abspath(
            require_path(options, "minerva_delta"))
        self.preds: list[tuple] = []

    def pushFilters(self, filters):
        """File skipping for the registered source: comparison
        filters prune add actions on partitionValues + per-file
        stats (min/max), exactly like ``DeltaTable.read(where=…)``.
        EVERY filter is handed back to Spark for post-scan
        evaluation — pushdown here is pruning, never filtering."""
        self.preds = preds_from_filters(
            filters, {f.name for f in self.schema_.fields})
        return filters

    def partitions(self):
        plan = self.plan.pruned(self.preds)
        cm = (plan.cm.mode, plan.cm.specs)
        return [_FilePartition(self.table_path, f, plan.part_cols, cm)
                for f in plan.files]

    @empty_when_pruned
    def read(self, partition):
        return _read_partition(partition, self.schema_)


class _CdfPartition(InputPartition):
    def __init__(self, fp: _FilePartition, change_type: str | None,
                 version: int, ts_ms: int):
        self.fp = fp
        # None: a cdc file, whose rows carry their own _change_type
        self.change_type = change_type
        self.version = version
        self.ts_ms = ts_ms


class _CdfBatchReader(DataSourceReader):
    """``option("readChangeFeed", "true")`` — the delta-spark CDF
    batch interface over the change plan
    :meth:`storage.delta.DeltaTable._change_plan` computes for
    :meth:`~storage.delta.DeltaTable.changes` too, so the plan's
    classification and refusals hold for both readers: one input
    partition per planned file, read under the partition columns it
    was written with — cdc files as-is, inserts and deletes minus
    their deletion vectors, DV updates as exactly the newly-masked
    rows (computed executor-side from the two DV bins).  Output
    columns = table schema + _change_type, _commit_version,
    _commit_timestamp."""

    def __init__(self, options: dict):
        self.path = require_path(options, "minerva_delta")
        sv = _opt(options, "startingVersion")
        if sv is None:
            # delta-spark's batch readChangeFeed errors without a
            # starting option; defaulting to 0 here would silently
            # read the table's FULL change history — very expensive
            # and semantically different for ported callers
            raise ValueError(
                "minerva_delta readChangeFeed requires "
                "option('startingVersion', …)")
        endo = _opt(options, "endingVersion")
        self.dt = DeltaTable(self.path)
        self.start = int(sv)
        self.end, self.meta = self.dt._change_range(
            self.start, None if endo is None else int(endo))
        cm = _column_mapping(self.meta)
        self.cm = (cm.mode, cm.specs)
        self.schema_ = cm.schema
        self.table_path = os.path.abspath(self.path)

    def cdf_schema(self) -> T.StructType:
        return T.StructType(
            self.schema_.fields
            + [T.StructField("_change_type", T.StringType()),
               T.StructField("_commit_version", T.LongType()),
               T.StructField("_commit_timestamp", T.TimestampType())])

    def partitions(self):
        # cdc files store the synthetic _change_type under its own
        # name
        cm_ct = (self.cm[0],
                 self.cm[1] + (("_change_type", "_change_type",
                                None, None),))
        plan = self.dt._change_plan(self.start, self.end, self.meta)
        return [_CdfPartition(
            _FilePartition(
                self.table_path, c.action, c.part_cols,
                cm_ct if c.kind == "cdc" else self.cm,
                (c.action["deletionVector"], c.old_dv)
                if c.kind == "dv_diff" else None),
            c.change_type, c.version, c.ts_ms) for c in plan]

    @empty_when_pruned
    def read(self, partition: _CdfPartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cdc = partition.change_type is None
        read_schema = T.StructType(
            self.schema_.fields
            + [T.StructField("_change_type", T.StringType())]) \
            if cdc else self.schema_
        target = to_arrow_schema(self.cdf_schema())
        ts_type = target.field("_commit_timestamp").type
        for batch in _read_partition(partition.fp, read_schema):
            tbl = pa.Table.from_batches([batch])
            n = tbl.num_rows
            if not cdc:
                tbl = tbl.append_column(
                    "_change_type",
                    pa.array([partition.change_type] * n, pa.string()))
            tbl = tbl.append_column(
                "_commit_version",
                pa.array([partition.version] * n, pa.int64()))
            tbl = tbl.append_column(
                "_commit_timestamp",
                pa.array([partition.ts_ms] * n, pa.int64())
                .cast(pa.timestamp("ms")).cast(ts_type))
            for b in tbl.cast(target).to_batches():
                yield b


class _StreamReader(DataSourceStreamReader):
    """Micro-batch offsets are commit versions: offset {"version": N}
    means 'everything through commit N has been emitted'."""

    def __init__(self, options: dict):
        self.path = require_path(options, "minerva_delta")
        self.dt = DeltaTable(self.path)
        plan = self.dt._read_plan()
        self.cm = (plan.cm.mode, plan.cm.specs)
        self.schema_ = plan.cm.schema
        self.part_cols = plan.part_cols
        self.table_path = os.path.abspath(self.path)
        sv = _opt(options, "startingVersion")
        st = _opt(options, "startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "minerva_delta: pass startingVersion OR "
                "startingTimestamp, not both")
        if st is not None:
            # upstream semantics: changes committed AT OR AFTER the
            # timestamp — the EARLIEST surviving version whose
            # (running-max-adjusted) commit timestamp >= target
            try:
                st = int(st)
            except ValueError:
                pass
            from ..storage.stats import as_of_ms
            ms = as_of_ms(st)
            run, sv = 0, None
            for v in self.dt.versions():
                run = max(run, self.dt._actions(v)[1])
                if run >= ms:
                    sv = v
                    break
            if sv is None:
                raise ValueError(
                    f"minerva_delta: startingTimestamp {ms} ms is "
                    "after the latest commit — nothing to stream "
                    "from there")
        self.starting = int(sv) if sv is not None else None
        self.ignore_changes = _flag(options, "ignoreChanges")
        self.ignore_deletes = _flag(options, "ignoreDeletes")
        # ADMISSION CONTROL (upstream delta-spark's option name,
        # commit-boundary granularity: our offsets are whole
        # versions, so a batch takes consecutive commits while their
        # cumulative dataChange-add file count stays <= K).  The
        # first-batch limitation and admissionStateDir /
        # assumeFreshStart are as for minerva_avro (see
        # _AvroStreamReader and streaming/admission.py); the epoch
        # is startingVersion - 1, else -1.
        self.max_files = cap_option(options, "minerva_delta",
                                    "maxFilesPerTrigger")
        self._wm_state, loaded = admission_state(
            options, "minerva_delta", self.path,
            self.max_files is not None,
            (self.starting - 1) if self.starting is not None else -1)
        # rate-limit watermark (last version this reader returned)
        self._v_seen: int | None = (
            int(loaded) if loaded is not None else None)

    def _commit_add_count(self, v: int) -> int:
        return sum(1 for a in self.dt._actions(v)[0]
                   if (a.get("add") or {}).get("dataChange"))

    def _prime(self, *vers) -> None:
        known = [int(v) for v in vers if v is not None]
        if self._v_seen is not None:
            known.append(self._v_seen)
        if known:
            self._v_seen = max(known)

    def initialOffset(self) -> dict:
        first = (self.starting - 1 if self.starting is not None
                 else -1)
        # fresh start: prime the rate-limit watermark so the cap
        # covers the cold backlog if Spark ever calls this first
        self._prime(first)
        if self.starting is not None:
            # process versions >= startingVersion
            return {"version": self.starting - 1}
        # default: the current snapshot is the first batch — emit
        # everything up to now as if appended at the stream's start
        return {"version": -1}

    def latestOffset(self) -> dict:
        vs = self.dt.versions()
        latest = vs[-1] if vs else -1
        if self.max_files is not None and self._v_seen is not None:
            beyond = [v for v in vs if v > self._v_seen]
            taken = admit(beyond, [(self._commit_add_count,
                                    self.max_files)])
            latest = beyond[taken - 1] if taken else self._v_seen
        self._prime(latest)
        if self._wm_state is not None:
            # persist at latestOffset so the state file stays at or
            # ahead of every offset Spark logs (reload can never
            # regress the log)
            self._wm_state.save(self._v_seen)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        # restart replaying an uncommitted batch lands here before
        # any latestOffset — prime the rate-limit watermark
        self._prime(start.get("version"), end.get("version"))
        out = []
        for v in range(int(start["version"]) + 1,
                       int(end["version"]) + 1):
            actions = self.dt._actions(v)[0]
            removes = [a["remove"] for a in actions
                       if a.get("remove")
                       and a["remove"].get("dataChange")]
            adds = [a["add"] for a in actions
                    if a.get("add") and a.get("add").get("dataChange")]
            if removes and not self.ignore_changes:
                re_added = {a["path"] for a in adds}
                pure_delete = all(r["path"] in re_added
                                  or r.get("deletionVector")
                                  for r in removes)
                if not (pure_delete and self.ignore_deletes):
                    raise ValueError(
                        f"minerva_delta stream: commit {v} removes "
                        "data (update/delete/overwrite) — a pure "
                        "append stream cannot represent it; set "
                        "ignoreDeletes (deletes) or ignoreChanges "
                        "(updates; may emit duplicates) to skip")
                continue  # ignoreDeletes: masked rows just drop
            # with removes, ignoreChanges lands here: the re-added
            # files' live rows are emitted again (upstream-documented
            # duplicate emission)
            out += [_FilePartition(self.table_path, a,
                                   self.part_cols, self.cm)
                    for a in adds]
        return out

    def read(self, partition):
        return _read_partition(partition, self.schema_)

    def commit(self, end: dict) -> None:
        self._prime(end.get("version"))
        if self._wm_state is not None:
            self._wm_state.save(self._v_seen)


def _pval_str(v, dt: T.DataType) -> str | None:
    """A Python value as the Delta partitionValues STRING
    (PROTOCOL.md 'Partition Value Serialization')."""
    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType,
                       T.ByteType)):
        return str(int(v))  # pandas may have floated a nullable int
    if isinstance(dt, T.DateType):
        return v.isoformat() if hasattr(v, "isoformat") else str(v)
    return str(v)


class _DeltaCommitMessage(WriterCommitMessage):
    def __init__(self, adds: list[dict]):
        self.adds = adds


def _write_task(batches, table_path: str, schema: T.StructType,
                part_cols: list[str]) -> _DeltaCommitMessage:
    """Executor side of the writer: the task's Arrow batches become
    parquet files directly at their final unique names
    (:func:`storage.commit.write_parts`; uncommitted files are
    invisible to readers and vacuumable after an abort),
    Hive-partitioned with the partition columns stripped from the
    files.  Returns the add actions (with footer stats) for the
    driver's single log commit."""
    import time

    from ..storage.delta import _file_stats

    dtypes = {f.name: f.dataType for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in part_cols]

    def pvals(key: tuple) -> dict:
        return {c: _pval_str(v, dtypes[c])
                for c, v in zip(part_cols, key)}

    def place(key: tuple) -> str:
        return os.path.join(
            table_path, *[hive_segment(c, v)
                          for c, v in pvals(key).items()],
            f"part-{uuid.uuid4().hex}-c000.snappy.parquet")

    adds = []
    for path, key, _rows in write_parts(
            batches,
            lambda t: [t.column(c).to_pandas() for c in part_cols],
            [f.name for f in data_fields], place):
        add = {"path": os.path.relpath(path, table_path),
               "partitionValues": pvals(key),
               "size": os.path.getsize(path),
               "modificationTime": int(time.time() * 1000),
               "dataChange": True}
        stats = _file_stats(path, data_fields)
        if stats:
            add["stats"] = stats
        adds.append(add)
    return _DeltaCommitMessage(adds)


def _abort_cleanup(table_path: str, messages) -> None:
    remove_files(os.path.join(table_path, add["path"])
                 for m in messages
                 for add in getattr(m, "adds", None) or [])


class _DeltaWriter(DataSourceArrowWriter):
    """Batch writer: executors stage parquet files, the driver makes
    ONE Delta log commit from the gathered add actions — the same
    all-or-nothing atomicity the protocol requires."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        self.path = require_path(options, "minerva_delta")
        self.table_path = os.path.abspath(self.path)
        self.schema_ = schema
        self.mode = "overwrite" if overwrite else "append"
        self.merge_schema = _flag(options, "mergeSchema")
        pb = _opt(options, "partitionBy")
        part_cols = ([c.strip() for c in pb.split(",") if c.strip()]
                     if pb else [])
        dt = DeltaTable(self.path)
        if dt._next_version():
            snap = dt._replay()  # fail fast, before executors write
            if _column_mapping(snap["metaData"]).mode:
                # executors stage logical names, which no reader of
                # a mapped table resolves
                raise NotImplementedError(
                    "minerva_delta sink: column-mapped tables are "
                    "unsupported (use DeltaTable.write)")
            dt._check_writable(snap, self.mode)
            table_pcols = snap["metaData"].get(
                "partitionColumns") or []
            if self.mode == "append":
                if part_cols and part_cols != table_pcols:
                    raise ValueError(
                        f"append partitionBy {part_cols} != table's "
                        f"partitionColumns {table_pcols}")
                part_cols = table_pcols
            dt._write_meta(snap, self.mode, schema, part_cols,
                           self.merge_schema)
        missing = [c for c in part_cols
                   if c not in {f.name for f in schema.fields}]
        if missing:
            raise ValueError(
                f"partitionBy columns {missing} not in the batch")
        self.part_cols = part_cols
        os.makedirs(self.table_path, exist_ok=True)

    def write(self, iterator):
        return _write_task(iterator, self.table_path, self.schema_,
                           self.part_cols)

    def commit(self, messages):
        adds = [{"add": a} for m in messages if m
                for a in m.adds]
        DeltaTable(self.path)._commit_write(
            adds, self.mode, self.part_cols, self.schema_,
            merge_schema=self.merge_schema)

    def abort(self, messages):
        _abort_cleanup(self.table_path, messages)


class _DeltaStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: every micro-batch is one Delta commit carrying
    a setTransaction action keyed by (txnAppId, batchId) — a replayed
    batch after a failure finds its version already in the ledger and
    commits nothing (exactly-once, the protocol's Transaction
    Identifiers pattern).  Distinct streams writing one table need
    distinct ``txnAppId`` options."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        self._batch = _DeltaWriter(options, schema, overwrite)
        if self._batch.mode != "append":
            raise ValueError(
                "minerva_delta streaming sink supports append mode "
                "(complete-mode overwrite per batch is not "
                "exactly-once under the txn ledger)")
        self.app_id = _opt(options, "txnAppId") or \
            f"minerva_delta_sink:{self._batch.table_path}"

    def write(self, iterator):
        return self._batch.write(iterator)

    def commit(self, messages, batchId: int):
        adds = [{"add": a} for m in messages if m
                for a in m.adds]
        DeltaTable(self._batch.path)._commit_write(
            adds, "append", self._batch.part_cols,
            self._batch.schema_, txn=(self.app_id, int(batchId)),
            merge_schema=self._batch.merge_schema)

    def abort(self, messages, batchId: int):
        _abort_cleanup(self._batch.table_path, messages)


class MinervaDeltaDataSource(DataSource):
    """`format("minerva_delta")` — see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "minerva_delta"

    def _cdf(self) -> bool:
        return _flag(dict(self.options), "readChangeFeed")

    def schema(self):
        if self._cdf():
            return _CdfBatchReader(dict(self.options)).cdf_schema()
        return _read_plan(dict(self.options)).cm.schema

    def reader(self, schema) -> DataSourceReader:
        if self._cdf():
            return _CdfBatchReader(dict(self.options))
        return _BatchReader(dict(self.options))

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _StreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        return _DeltaWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _DeltaStreamWriter(dict(self.options), schema,
                                  overwrite)


def register_delta_source(spark: SparkSession) -> None:
    """Register ``minerva_delta`` for this session (idempotent, with
    filter pushdown on — :func:`.source_api.register`)."""
    register(spark, MinervaDeltaDataSource)
