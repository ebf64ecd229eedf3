"""Delta tables as a registered Spark data source — batch AND
Structured Streaming — via PySpark 4's Python DataSource API
(SPARK-44076), with no Delta jar:

    register_delta_source(spark)
    spark.read.format("minerva_delta").load(path)          # batch
    (spark.readStream.format("minerva_delta")              # stream
     .option("startingVersion", 0).load(path))

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

Scope: tables this engine can read, including column-mapped ones
(mode "name" resolves physicalName, mode "id" resolves the file's
own PARQUET:field_id — rename-proof), NESTED mapped columns
included (executor-side arrow rebuild, struct children by field id
or physical name, missing children null-fill); exotic partition
types refuse loudly — ``read_delta`` remains the full-fidelity
batch path.  Data files
must carry every non-partition column (true for Spark-written
tables).
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (DataSource,
                                    DataSourceArrowWriter,
                                    DataSourceReader,
                                    DataSourceStreamArrowWriter,
                                    DataSourceStreamReader,
                                    InputPartition,
                                    WriterCommitMessage)

from ..storage.delta import DeltaTable, _commit_path

def _opt(options: dict, name: str, default=None):
    """Spark normalizes reader option keys to lowercase before they
    reach a Python data source — look keys up case-insensitively so
    `.option("startingVersion", …)` works as documented."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


class _FilePartition(InputPartition):
    def __init__(self, table_path: str, rel_path: str,
                 pvals: dict, dv: dict | None, cm=None,
                 keep_positions=None):
        self.table_path = table_path
        self.rel_path = rel_path
        self.pvals = pvals
        self.dv = dv
        # column mapping: ("name"|"id", ((logical, physical, fid),
        # ...)) or None — resolved executor-side per file
        self.cm = cm
        # when set: emit ONLY these 0-based row ordinals (the CDF
        # dv-diff case — rows newly masked by a deletion vector)
        self.keep_positions = keep_positions


def _parse_pval(raw: str | None, dt: T.DataType):
    """A Delta partitionValues string as a typed Python value (the
    serialization PROTOCOL.md 'Partition Value Serialization'
    defines)."""
    if raw is None:
        return None
    if isinstance(dt, T.StringType):
        return raw
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType,
                       T.ByteType)):
        return int(raw)
    if isinstance(dt, T.BooleanType):
        return raw == "true"
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(raw)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(raw)
    raise NotImplementedError(
        f"minerva_delta: partition type {dt.simpleString()!r} not "
        "supported by the registered source — use read_delta()")


def _read_partition(p: _FilePartition, schema: T.StructType,
                    part_cols: list[str]):
    """One data file → pyarrow RecordBatches matching ``schema``:
    file columns cast to the Arrow types Spark expects, partition
    columns attached as typed constants, deletion-vector positions
    masked out by row index.  Column-mapped tables resolve each
    logical column to its file column executor-side — by
    physicalName (mode "name") or by the PARQUET:field_id the file
    declares (mode "id", rename-proof); a column the file lacks
    null-fills (schema evolution)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..storage.delta_dv import dv_load

    target = to_arrow_schema(schema)
    fpath = os.path.join(p.table_path, p.rel_path)
    pf = pq.ParquetFile(fpath)
    file_names = set(pf.schema_arrow.names)
    mode, fmap = p.cm if p.cm else (None, ())
    # logical -> (file column name or None, partitionValues key)
    col_of: dict[str, str | None] = {}
    pkey: dict[str, str] = {}
    spec_of: dict[str, tuple | None] = {}
    if mode is None:
        for f in schema.fields:
            col_of[f.name] = f.name if f.name in file_names else None
            pkey[f.name] = f.name
            spec_of[f.name] = None
    elif mode == "name":
        for lg, ph, _fid, spc in fmap:
            col_of[lg] = ph if ph in file_names else None
            pkey[lg] = ph
            spec_of[lg] = spc
    else:  # id: match by the field ids the FILE declares
        sa = pf.schema_arrow
        id_to_name = {}
        for i in range(len(sa.names)):
            fld = sa.field(i)
            raw = (fld.metadata or {}).get(b"PARQUET:field_id")
            if raw is not None:
                id_to_name[int(raw)] = fld.name
        for lg, ph, fid, spc in fmap:
            # a mapped field with no id (the synthetic _change_type
            # in cdc files) matches by its physical NAME; a FILE
            # with no PARQUET:field_id metadata at all (written by
            # an engine that skipped id stamping) resolves by
            # physicalName like mode "name" — id_to_name is empty,
            # so an id lookup would null-fill every column and
            # silently return all-null rows where the batch reader
            # (parquet.fieldId.read.enabled) fails loudly
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
    if p.keep_positions is not None:
        mask = np.zeros(tbl.num_rows, dtype=bool)
        idx = np.fromiter((i for i in p.keep_positions
                           if i < tbl.num_rows), dtype=np.int64)
        mask[idx] = True
        tbl = tbl.filter(pa.array(mask))
    arrays = []
    for f in schema.fields:
        at = target.field(f.name).type
        if f.name in part_cols:
            v = _parse_pval(p.pvals.get(pkey[f.name],
                                        p.pvals.get(f.name)),
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


def _nested_spec(dt_: T.DataType, mode: str):
    """Picklable nested-resolution spec for one mapped column, or
    None when nothing below needs renaming:

        ("struct", ((logical, physical, fid, child_spec), ...))
        ("array", element_spec)
        ("map", value_spec)         # map keys carry no field names
    """
    from ..storage.delta import (_field_id, _needs_rename,
                                 _physical_name)

    if not _needs_rename(dt_):
        return None
    if isinstance(dt_, T.StructType):
        return ("struct", tuple(
            (f.name, _physical_name(f),
             _field_id(f) if mode == "id" else None,
             _nested_spec(f.dataType, mode))
            for f in dt_.fields))
    if isinstance(dt_, T.ArrayType):
        return ("array", _nested_spec(dt_.elementType, mode))
    return ("map", _nested_spec(dt_.valueType, mode))


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


def _check_supported(dt: DeltaTable, snap: dict):
    """Returns the partition descriptor's column-mapping tuple
    (("name"|"id", ((logical, physical, fid, nested_spec), ...)) or
    None) — raising on unknown modes.  Nested mapped columns carry a
    :func:`_nested_spec` resolved executor-side by
    :func:`_arrow_rebuild`."""
    import json as _json

    from ..storage.delta import _field_id, _physical_name

    conf = snap["metaData"].get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode") or "none"
    if mode == "none":
        return None
    if mode not in ("name", "id"):
        raise NotImplementedError(
            f"minerva_delta: column mapping mode {mode!r} unknown")
    schema = T.StructType.fromJson(
        _json.loads(snap["metaData"]["schemaString"]))
    return (mode, tuple(
        (f.name, _physical_name(f),
         _field_id(f) if mode == "id" else None,
         _nested_spec(f.dataType, mode))
        for f in schema.fields))


class _BatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_delta requires a path "
                             "(.load(path) or .option('path', …))")
        dt = DeltaTable(self.path)
        vao = _opt(options, "versionAsOf")
        tao = _opt(options, "timestampAsOf")
        if vao is not None and tao is not None:
            raise ValueError("minerva_delta: pass versionAsOf OR "
                             "timestampAsOf, not both")
        if tao is not None:
            # epoch-ms if numeric, else ISO-8601 (option values
            # always arrive as strings)
            try:
                tao = int(tao)
            except ValueError:
                pass
            vao = dt.version_at(tao)
        snap = dt._replay(int(vao) if vao is not None else None)
        self.cm = _check_supported(dt, snap)
        meta = snap["metaData"]
        self.schema_ = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        self.part_cols = meta.get("partitionColumns") or []
        self.table_path = os.path.abspath(self.path)
        self.files = snap["files"]
        self.preds: list[tuple] = []

    def pushFilters(self, filters):
        """File skipping for the registered source: comparison
        filters prune add actions on partitionValues + per-file
        stats (min/max), exactly like ``DeltaTable.read(where=…)``.
        EVERY filter is handed back to Spark for post-scan
        evaluation — pushdown here is pruning, never filtering."""
        from .iceberg_source import _preds_from_filters

        self.preds = _preds_from_filters(
            filters, {f.name for f in self.schema_.fields})
        return filters

    def partitions(self):
        files = self.files
        if self.preds:
            from ..storage.delta import _add_may_match

            type_of = {f.name: f.dataType
                       for f in self.schema_.fields}
            files = [f for f in files
                     if _add_may_match(f, self.preds,
                                       self.part_cols, type_of)]
        return [_FilePartition(self.table_path, f["path"],
                               f.get("partitionValues") or {},
                               f.get("deletionVector"), cm=self.cm)
                for f in files]

    def read(self, partition):
        return _read_partition(partition, self.schema_,
                               self.part_cols)


class _CdfPartition(InputPartition):
    def __init__(self, fp: _FilePartition, kind: str, version: int,
                 ts_ms: int):
        self.fp = fp
        self.kind = kind      # "cdc" | "insert" | "delete"
        self.version = version
        self.ts_ms = ts_ms


class _CdfBatchReader(DataSourceReader):
    """``option("readChangeFeed", "true")`` — the delta-spark CDF
    batch interface over this engine's change reconstruction
    (mirrors :meth:`storage.delta.DeltaTable.changes`; parity with it
    is locked by tests): per commit, explicit cdc files read as-is,
    add-only commits emit inserts, remove-only commits emit the
    removed files' then-live rows as deletes, and a remove+add pair
    with a grown deletion vector emits exactly the newly-masked rows
    (computed executor-side from the two DV bins).  Output columns =
    table schema + _change_type, _commit_version, _commit_timestamp.
    In-place rewrites without cdc actions refuse (not derivable),
    as do schema changes inside the range."""

    def __init__(self, options: dict):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_delta requires a path")
        dt = DeltaTable(self.path)
        avail = dt.versions()
        if not avail:
            raise FileNotFoundError(f"no Delta log at {self.path!r}")
        sv = _opt(options, "startingVersion")
        if sv is None:
            # delta-spark's batch readChangeFeed errors without a
            # starting option; defaulting to 0 here would silently
            # read the table's FULL change history — very expensive
            # and semantically different for ported callers
            raise ValueError(
                "minerva_delta readChangeFeed requires "
                "option('startingVersion', …)")
        start = int(sv)
        endo = _opt(options, "endingVersion")
        end = avail[-1] if endo is None else int(endo)
        snap = dt._replay(end)
        self.cm = _check_supported(dt, snap)
        meta = snap["metaData"]
        self.schema_ = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        self.part_cols = meta.get("partitionColumns") or []
        self.table_path = os.path.abspath(self.path)
        self.dt = dt
        self.start, self.end = start, end
        missing = sorted(set(range(start, end + 1)) - set(avail))
        if missing:
            raise ValueError(
                f"minerva_delta CDF: commits {missing[0]}.."
                f"{missing[-1]} are missing (expired or future)")

    def cdf_schema(self) -> T.StructType:
        return T.StructType(
            self.schema_.fields
            + [T.StructField("_change_type", T.StringType()),
               T.StructField("_commit_version", T.LongType()),
               T.StructField("_commit_timestamp", T.TimestampType())])

    def partitions(self):
        from ..storage.delta import _CM_PHYS

        cm_ct = None
        if self.cm:
            cm_ct = (self.cm[0],
                     self.cm[1] + (("_change_type", "_change_type",
                                    None, None),))
        names = [f.name for f in self.schema_.fields]
        cur_meta = (self.dt._replay(self.start - 1)["metaData"]
                    if self.start > 0 else None)
        out: list[_CdfPartition] = []
        prev_files: dict | None = None
        for v in range(self.start, self.end + 1):
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
            if meta_after is not None:
                got = [f.name for f in T.StructType.fromJson(
                    json.loads(meta_after["schemaString"])).fields]
                if got != names:
                    raise NotImplementedError(
                        f"minerva_delta CDF: the schema changed "
                        f"inside the range at commit {v}")
            part_before = ((cur_meta or meta_after)
                           .get("partitionColumns") or [])
            cur_meta = meta_after

            cdc = [a["cdc"] for a in actions if a.get("cdc")]
            if cdc:
                for c in cdc:
                    out.append(_CdfPartition(_FilePartition(
                        self.table_path, c["path"],
                        c.get("partitionValues") or {}, None,
                        cm=cm_ct), "cdc", v, ts))
                continue
            adds = {a["add"]["path"]: a["add"] for a in actions
                    if a.get("add")}
            removes = {a["remove"]["path"]: a["remove"]
                       for a in actions if a.get("remove")}
            need_prev = any(
                (adds.get(pth) and removes.get(pth))
                or (removes.get(pth, {}).get("dataChange")
                    and removes.get(pth, {}).get("partitionValues")
                    is None)
                for pth in removes)
            if need_prev:
                prev_files = {f["path"]: f for f in
                              self.dt._replay(v - 1)["files"]}
            for pth in sorted(set(adds) | set(removes)):
                a, r = adds.get(pth), removes.get(pth)
                if a and r:
                    if not (a.get("dataChange")
                            or r.get("dataChange")):
                        continue  # compaction pair
                    if not a.get("deletionVector"):
                        raise NotImplementedError(
                            f"minerva_delta CDF: commit {v} rewrites "
                            f"{pth!r} in place without cdc actions — "
                            "the row-level delta is not derivable")
                    old = (prev_files.get(pth) or {}).get(
                        "deletionVector")
                    # newly-masked positions = new DV minus old DV,
                    # resolved executor-side from the descriptors
                    out.append(_CdfPartition(_FilePartition(
                        self.table_path, pth,
                        a.get("partitionValues") or {}, None,
                        cm=self.cm,
                        keep_positions=("__dv_diff__",
                                        a["deletionVector"], old)),
                        "delete", v, ts))
                elif a is not None:
                    if a.get("dataChange"):
                        out.append(_CdfPartition(_FilePartition(
                            self.table_path, pth,
                            a.get("partitionValues") or {},
                            a.get("deletionVector"), cm=self.cm),
                            "insert", v, ts))
                elif r.get("dataChange"):
                    pv = r.get("partitionValues")
                    if pv is None and part_before:
                        pv = (prev_files.get(pth) or {}).get(
                            "partitionValues")
                    out.append(_CdfPartition(_FilePartition(
                        self.table_path, pth, pv or {},
                        r.get("deletionVector"), cm=self.cm),
                        "delete", v, ts))
        return out

    def read(self, partition: _CdfPartition):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..storage.delta_dv import dv_load

        fp = partition.fp
        if isinstance(fp.keep_positions, tuple) \
                and fp.keep_positions \
                and fp.keep_positions[0] == "__dv_diff__":
            _tag, new_dv, old_dv = fp.keep_positions
            dead_new = set(dv_load(fp.table_path, new_dv))
            dead_old = set(dv_load(fp.table_path, old_dv)) \
                if old_dv else set()
            fp.keep_positions = sorted(dead_new - dead_old)
        if partition.kind == "cdc":
            read_schema = T.StructType(
                self.schema_.fields
                + [T.StructField("_change_type", T.StringType())])
            batches = _read_partition(fp, read_schema,
                                      self.part_cols)
        else:
            batches = _read_partition(fp, self.schema_,
                                      self.part_cols)
        target = to_arrow_schema(self.cdf_schema())
        ts_type = target.field("_commit_timestamp").type
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            n = tbl.num_rows
            if partition.kind != "cdc":
                tbl = tbl.append_column(
                    "_change_type",
                    pa.array([partition.kind] * n, pa.string()))
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
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_delta requires a path")
        self.dt = DeltaTable(self.path)
        snap = self.dt._replay()
        self.cm = _check_supported(self.dt, snap)
        meta = snap["metaData"]
        self.schema_ = T.StructType.fromJson(
            json.loads(meta["schemaString"]))
        self.part_cols = meta.get("partitionColumns") or []
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
                run = max(run, self.dt._commit_ts_ms(v))
                if run >= ms:
                    sv = v
                    break
            if sv is None:
                raise ValueError(
                    f"minerva_delta: startingTimestamp {ms} ms is "
                    "after the latest commit — nothing to stream "
                    "from there")
        self.starting = int(sv) if sv is not None else None
        self.ignore_changes = str(_opt(
            options, "ignoreChanges", "false")).lower() == "true"
        self.ignore_deletes = str(_opt(
            options, "ignoreDeletes", "false")).lower() == "true"
        # ADMISSION CONTROL (upstream delta-spark's option name,
        # commit-boundary granularity: our offsets are whole
        # versions, so a batch takes consecutive commits while their
        # cumulative dataChange-add file count stays <= K — always
        # at least one commit).  The Python DataSource API calls
        # latestOffset before revealing any start offset, so the
        # FIRST batch of a (re)started query is uncapped (same
        # measured limitation, same reasoning as the minerva_avro
        # source: a deliberately low first offset would regress
        # Spark's offset log and double-read after a crash) UNLESS
        # option("admissionStateDir", dir) persists the watermark
        # across restarts (saved at latestOffset time so the reload
        # is at or ahead of Spark's offset log — see
        # streaming/admission.py for the full argument).
        mft = _opt(options, "maxFilesPerTrigger")
        self.max_files = int(mft) if mft is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError(
                "minerva_delta: maxFilesPerTrigger must be a "
                f"positive integer, got {mft!r}")
        # option("assumeFreshStart", "true") additionally primes the
        # epoch watermark (startingVersion - 1, else -1) on a
        # brand-new query (no state file), capping even the first
        # run's cold snapshot — admission.fresh_start_floor.
        from .admission import attach_state, fresh_start_floor
        opt = lambda n: _opt(options, n)  # noqa: E731
        self._wm_state = attach_state(
            opt, "minerva_delta", self.path,
            self.max_files is not None)
        loaded = fresh_start_floor(
            opt, self._wm_state,
            self._wm_state.load() if self._wm_state else None,
            (self.starting - 1) if self.starting is not None else -1)
        # rate-limit watermark (last version this reader returned)
        self._v_seen: int | None = (
            int(loaded) if loaded is not None else None)

    def _commit_add_count(self, v: int) -> int:
        with open(_commit_path(self.path, v)) as fh:
            return sum(1 for line in fh if line.strip()
                       and json.loads(line).get("add", {})
                       .get("dataChange"))

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
            end, total = self._v_seen, 0
            for v in vs:
                if v <= self._v_seen:
                    continue
                n = self._commit_add_count(v)
                if end > self._v_seen and total + n > self.max_files:
                    break
                total += n
                end = v
            latest = max(end, self._v_seen)
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
            with open(_commit_path(self.path, v)) as fh:
                actions = [json.loads(line) for line in fh
                           if line.strip()]
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
            if removes:
                # ignoreChanges: emit the re-added files' live rows
                # (upstream-documented duplicate emission)
                pass
            out.append([
                _FilePartition(self.table_path, a["path"],
                               a.get("partitionValues") or {},
                               a.get("deletionVector"), cm=self.cm)
                for a in adds])
        return [p for grp in out for p in grp] or []

    def read(self, partition):
        return _read_partition(partition, self.schema_,
                               self.part_cols)

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
    parquet files directly at their final unique names (uncommitted
    files are invisible to readers and vacuumable after an abort —
    the same staging discipline as :meth:`DeltaTable.
    _stage_data_files`), Hive-partitioned with the partition columns
    stripped from the files, one file per partition value per task.
    Returns the add actions (with footer stats) for the driver's
    single log commit."""
    import uuid as _uuid
    from urllib.parse import quote

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..storage.delta import _file_stats

    batches = list(batches)
    if not batches:
        return _DeltaCommitMessage([])
    tbl = pa.Table.from_batches(batches)
    dtypes = {f.name: f.dataType for f in schema.fields}
    data_cols = [f.name for f in schema.fields
                 if f.name not in part_cols]

    def emit(sub: "pa.Table", pvals: dict) -> dict:
        base = f"part-{_uuid.uuid4().hex}-c000.snappy.parquet"
        segs = []
        for c in part_cols:
            raw = pvals[c]
            segs.append(f"{c}=" + (
                "__HIVE_DEFAULT_PARTITION__" if raw is None
                else quote(raw, safe="")))
        rel = "/".join(segs + [base])
        abs_path = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        pq.write_table(sub.select(data_cols), abs_path,
                       compression="snappy")
        add = {"path": rel, "partitionValues": pvals,
               "size": os.path.getsize(abs_path),
               "modificationTime": int(__import__("time").time()
                                       * 1000),
               "dataChange": True}
        stats = _file_stats(abs_path, [f for f in schema.fields
                                       if f.name not in part_cols])
        if stats:
            add["stats"] = stats
        return add

    adds = []
    if not part_cols:
        adds.append(emit(tbl, {}))
    else:
        import pandas as pd

        pdf = pd.DataFrame({c: tbl.column(c).to_pandas()
                            for c in part_cols})
        pdf["_row"] = range(len(pdf))
        for kvals, grp in pdf.groupby(part_cols, dropna=False,
                                      sort=False):
            if not isinstance(kvals, tuple):
                kvals = (kvals,)
            pvals = {c: _pval_str(
                None if (v is None or v != v) else v, dtypes[c])
                for c, v in zip(part_cols, kvals)}
            sub = tbl.take(pa.array(grp["_row"].to_numpy()))
            adds.append(emit(sub, pvals))
    return _DeltaCommitMessage(adds)


def _abort_cleanup(table_path: str, messages) -> None:
    for m in messages:
        for add in getattr(m, "adds", None) or []:
            try:
                os.remove(os.path.join(table_path, add["path"]))
            except OSError:
                pass


class _DeltaWriter(DataSourceArrowWriter):
    """Batch writer: executors stage parquet files, the driver makes
    ONE Delta log commit from the gathered add actions — the same
    all-or-nothing atomicity the protocol requires."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        self.path = _opt(options, "path")
        if not self.path:
            raise ValueError("minerva_delta requires a path")
        self.table_path = os.path.abspath(self.path)
        self.schema_ = schema
        self.mode = "overwrite" if overwrite else "append"
        self.merge_schema = str(_opt(
            options, "mergeSchema", "false")).lower() == "true"
        pb = _opt(options, "partitionBy")
        part_cols = ([c.strip() for c in pb.split(",") if c.strip()]
                     if pb else [])
        dt = DeltaTable(self.path)
        if dt.versions():
            snap = dt._replay()  # fail fast, before executors write
            _check_supported(dt, snap)
            dt._check_writable(snap, self.mode)
            table_pcols = snap["metaData"].get(
                "partitionColumns") or []
            if self.mode == "append":
                if part_cols and part_cols != table_pcols:
                    raise ValueError(
                        f"append partitionBy {part_cols} != table's "
                        f"partitionColumns {table_pcols}")
                part_cols = table_pcols
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
        return str(_opt(dict(self.options), "readChangeFeed",
                        "false")).lower() == "true"

    def schema(self):
        path = _opt(dict(self.options), "path")
        if not path:
            raise ValueError("minerva_delta requires a path")
        if self._cdf():
            return _CdfBatchReader(dict(self.options)).cdf_schema()
        return DeltaTable(path).schema()

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
    """Register ``minerva_delta`` for this session (idempotent).
    Also enables Python data source filter pushdown — a reader that
    implements ``pushFilters`` HARD-FAILS when the conf is off, so
    registration owns turning it on (runtime conf, session-scoped)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")
    except Exception:
        pass  # static conf in exotic deployments; reads still work
    spark.dataSource.register(MinervaDeltaDataSource)
