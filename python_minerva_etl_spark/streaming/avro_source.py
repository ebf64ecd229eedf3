"""Avro object-container directories as a registered Spark data
source — batch AND Structured Streaming — via PySpark 4's Python
DataSource API, no spark-avro jar:

    register_avro_source(spark)
    spark.read.format("minerva_avro").load(path)             # batch
    (spark.readStream.format("minerva_avro")                 # stream
     .load(path))

Both modes ride the splittable engine in ``sources/avro.py``: input
partitions are BYTE-RANGE SPLITS aligned on the container's sync
markers (``option("split_bytes", …)``, default 128 MiB), blocks
stream, per-task memory is file-size-independent, and every task
re-checks its file's writer schema against the directory's first
file (mixed-schema directories fail loudly).

The STREAMING source tails a GROWING DIRECTORY — the Kafka-archive /
ingest-drop pattern.  Offsets carry the high-water file NAME; each
batch owns the name range (previous hw, hw] — so file names must be
append-ordered (uuid- or timestamp-prefixed part files, the shape
every distributed writer produces — including
:func:`sources.avro.write_avro`).  A file arriving that sorts at or
below a processed high-water mark FAILS the stream loudly at the
next batch (same contract as Spark's file sources without their
journal, but never silent); each trigger's new files shatter into
splits like the batch path.  The STREAMING sink commits each
micro-batch atomically: files land under a ``part-<batchId>-…``
prefix and a ``.batch-<batchId>.committed`` ledger marker, created
last, makes them visible to readers.

Shared with the other registered sources: :mod:`.source_api`
(options, path check, registration) and :mod:`.admission`
(admission control).
"""

from __future__ import annotations

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

from ..storage.commit import remove_files
from .admission import admission_state, admit, cap_option
from .source_api import _flag, _opt, register, require_path


class _SplitPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int, canon: str,
                 writer_schema: dict, plan, colnames: list[str],
                 batch_bytes: int):
        self.path = path
        self.start = start
        self.end = end
        self.canon = canon
        self.writer_schema = writer_schema
        self.plan = plan
        self.colnames = colnames
        self.batch_bytes = batch_bytes


def _read_split(p: _SplitPartition, schema: T.StructType):
    """One byte-range split → arrow RecordBatches (executor-side)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..sources.avro import split_frames

    target = to_arrow_schema(schema)
    for pdf in split_frames(p.path, p.start, p.end, p.canon,
                            p.writer_schema, p.plan, p.colnames,
                            p.batch_bytes):
        tbl = pa.Table.from_pandas(pdf, schema=target,
                                   preserve_index=False)
        yield from tbl.to_batches()


class _AvroPlanMixin:
    def _plan(self, options: dict):
        from ..sources.avro import plan_read

        self.path = require_path(options, "minerva_avro")
        self.split_bytes = int(_opt(options, "split_bytes",
                                    128 << 20))
        self.batch_bytes = int(_opt(options, "batch_bytes",
                                    64 << 20))
        (files, self.writer_schema, self.schema_, self.canon,
         self.plan_, self.colnames) = plan_read(self.path)
        return files

    def _partitions_for(self, files: list[str]):
        from ..sources.avro import plan_splits

        return [_SplitPartition(p, s, e, self.canon,
                                self.writer_schema, self.plan_,
                                self.colnames, self.batch_bytes)
                for p, s, e in plan_splits(files, self.split_bytes)]


class _AvroBatchReader(DataSourceReader, _AvroPlanMixin):
    def __init__(self, options: dict):
        self.files = self._plan(options)

    def partitions(self):
        return self._partitions_for(self.files)

    def read(self, partition):
        return _read_split(partition, self.schema_)


class _AvroStreamReader(DataSourceStreamReader, _AvroPlanMixin):
    """Offsets: {"hw": the last processed file NAME (the high-water
    mark), "n": count of files at or below it when the offset was
    taken}.  A batch owns the NAME RANGE (start.hw, end.hw] — name
    ranges tile the name space, so every file is processed by
    exactly one batch even when it lands between ``latestOffset``
    and ``partitions`` (r8 advice: a bare count silently selected a
    DIFFERENT file set than the offset claimed).  A file arriving
    that sorts AT OR BEFORE a processed high-water mark FAILS the
    stream via the count cross-check (silently skipping it, or
    double-reading the tail, would both be worse) — the same
    append-ordered-names contract Spark's file sources have without
    their journal.  Operational corollary: CONCURRENT batch writers
    can violate append order against a LIVE tail (two jobs claim
    seqs S1 < S2, S2's files land first, S1's appear below the
    already-issued high-water mark) — exactly-once is never
    violated (a file landing inside a planned range is absorbed by
    that batch), but the count cross-check may stop the stream
    loudly; keep a tailed drop directory single-writer, or restart
    the tail from a batch backfill after concurrent loads.

    ADMISSION CONTROL: ``option("maxFilesPerTrigger", K)`` bounds
    a micro-batch to at most K new files (Spark's file-source
    option name), and ``option("maxBytesPerTrigger", B)`` to at
    most B new bytes (a single larger file still drains alone —
    the cap can bound, not wedge); both may combine, and the
    stricter wins.  So producer bursts against a LIVE stream — the
    consumer pauses, the drop directory piles up — drain in
    bounded batches (bounded task count, bounded executor memory,
    steady checkpoint cadence) instead of one ever-growing scan.
    The Python DataSource API exposes no ``ReadLimit`` hook:
    ``latestOffset`` is called before the reader learns ANY start
    offset (before ``initialOffset`` on a fresh start, before
    ``partitions`` on a restart — measured, both trigger modes), so
    the cap rides a driver-side watermark and the FIRST batch of a
    (re)started query is uncapped UNLESS
    ``option("admissionStateDir", dir)`` is set — then the watermark
    PERSISTS across restarts (one tiny JSON, atomic rename; scope
    the dir to one query, like a checkpoint) and a restart against a
    piled-up backlog drains in capped batches from micro-batch zero.
    Returning a deliberately low first offset instead would be
    WRONG, not just ugly: Spark's offset log records whatever
    ``latestOffset`` says, a value below the restart point regresses
    the log, and the next crash replays files that were already
    processed.  The persisted watermark cannot cause that: it is
    saved at ``latestOffset`` time, so the reloaded value is at or
    AHEAD of everything in Spark's offset log (worst case — crash
    between persist and Spark's log write — the first restarted
    batch covers up to two caps' worth, never the whole backlog).
    The watermark only ever grows (primed by every offset this reader
    returns or is handed), so a capped stream keeps exactly-once.
    ``option("assumeFreshStart", "true")`` (requires the state dir)
    additionally primes the epoch watermark when NO state file
    exists, so a brand-new query's cold backlog drains capped from
    its very first offset — the state file is the restart detector,
    making the assertion safe (admission.admission_state).
    ``Trigger.AvailableNow`` latches a single target up front and
    is therefore uncapped end-to-end; use a processing-time trigger
    when admission control matters."""

    def __init__(self, options: dict):
        self._plan(options)
        self.max_files = cap_option(options, "minerva_avro",
                                    "maxFilesPerTrigger")
        self.max_bytes = cap_option(options, "minerva_avro",
                                    "maxBytesPerTrigger")
        # driver-side rate-limit watermark (the highest end name
        # this reader has returned or observed); None = unknown, and
        # the epoch is "" under assumeFreshStart
        self._wm_state, self._hw_seen = admission_state(
            options, "minerva_avro", self.path,
            self.max_files is not None or self.max_bytes is not None,
            "")

    def _prime(self, *hws) -> None:
        known = [h for h in hws if h]
        if self._hw_seen is not None:
            known.append(self._hw_seen)
        if known:
            self._hw_seen = max(known)

    def _listing(self) -> list[str]:
        from ..sources.avro import _list_files

        try:
            return _list_files(self.path)  # sorted
        except FileNotFoundError:
            # an ingest-drop directory that is empty RIGHT NOW is a
            # normal streaming state (producer not started yet) —
            # idle trigger, not a crash.  Schema was derived at plan
            # time, so nothing else needs the files.
            return []

    def initialOffset(self) -> dict:
        # fresh start (never called on restart).  Spark happens to
        # call latestOffset BEFORE this today (measured), but if a
        # future release flips the order, priming the epoch here
        # tightens the cap to cover the cold-start backlog too.
        if self._hw_seen is None:
            self._hw_seen = ""
        return {"n": 0, "hw": ""}

    def latestOffset(self) -> dict:
        files = self._listing()
        names = [os.path.basename(f) for f in files]
        end = names[-1] if names else ""
        capped = (self.max_files is not None
                  or self.max_bytes is not None)
        if capped and self._hw_seen is not None:
            beyond = [(n, f) for n, f in zip(names, files)
                      if n > self._hw_seen]
            taken = admit(beyond, [(lambda u: 1, self.max_files),
                                   (_size, self.max_bytes)])
            end = beyond[taken - 1][0] if taken else self._hw_seen
        self._prime(end)
        if self._wm_state is not None:
            # persist at latestOffset so the state file stays at or
            # ahead of every offset Spark logs — a reload can then
            # never make this method return BELOW the restart point
            self._wm_state.save(self._hw_seen)
        return {"n": sum(1 for n in names if n <= end), "hw": end}

    def partitions(self, start: dict, end: dict):
        # a restart replaying an uncommitted batch reaches here
        # before any latestOffset — prime the rate-limit watermark
        # so the NEXT planned batch is capped relative to it
        self._prime(start.get("hw") or "", end.get("hw") or "")
        listing = self._listing()
        names = [os.path.basename(f) for f in listing]
        shw = start.get("hw") or ""
        ehw = end.get("hw") or ""
        sn, en = int(start.get("n", 0)), int(end.get("n", 0))
        below = sum(1 for n in names if n <= shw)
        if below != sn:
            raise ValueError(
                "minerva_avro stream: the file set at or below the "
                f"processed high-water mark {shw!r} changed "
                f"({sn} files at offset time, {below} now) — either "
                "a file arrived sorting below the watermark "
                "(append-ordered names required; reprocess with a "
                "batch read) or files were removed under a running "
                "stream")
        if ehw <= shw:
            return []  # empty range (restart re-plans start == end)
        files = [f for f, n in zip(listing, names) if shw < n <= ehw]
        if not files or os.path.basename(files[-1]) != ehw:
            raise ValueError(
                f"minerva_avro stream: offset end file {ehw!r} is "
                "missing — files were removed under a running "
                "stream")
        if len(files) < en - sn:
            raise ValueError(
                "minerva_avro stream: the offset claims "
                f"{en - sn} files in ({shw!r}, {ehw!r}] but only "
                f"{len(files)} remain — files were removed under a "
                "running stream")
        return self._partitions_for(files)

    def read(self, partition):
        return _read_split(partition, self.schema_)

    def commit(self, end: dict) -> None:
        self._prime(end.get("hw") or "")
        if self._wm_state is not None:
            self._wm_state.save(self._hw_seen)


def _size(unit: tuple[str, str]) -> int:
    """A listed file's admission cost in bytes.  A file removed
    between the listing and the stat (retention race) costs 0 here;
    partitions()' cross-check raises the deliberate
    removed-under-running-stream diagnostic if it was inside the
    planned range."""
    try:
        return os.path.getsize(unit[1])
    except OSError:
        return 0


class _AvroCommit(WriterCommitMessage):
    def __init__(self, tmp: str | None, rows: int):
        self.tmp = tmp
        self.rows = rows


class _AvroWriter(DataSourceArrowWriter):
    """Append-only batch writer: each task encodes ONE
    object-container to a hidden ``.tmp`` (invisible to readers —
    ``_list_files`` globs ``*.avro``), the driver renames them to
    final ``part-<seq>-<i>.avro`` names on commit; abort deletes the
    temps.  ``<seq>`` is 15 digits: max(existing seq + 1, epoch-ms)
    — a MONOTONIC LADDER, so successive jobs keep the SORTED-NAME
    append order the streaming source's offsets rely on even under
    wall-clock regression (r8 advice).  A directory owned by the
    STREAMING sink (10-digit batch-id seqs + ledgers, which sort
    against 15-digit ones) is refused — the two writers must not
    share a drop directory."""

    def __init__(self, options: dict, schema, overwrite: bool):
        from ..sources.avro import _avro_schema_of

        if overwrite:
            raise NotImplementedError(
                "minerva_avro writer is append-only "
                "(mode('append')); a drop directory is never "
                "rewritten in place")
        self.path = require_path(options, "minerva_avro")
        self.codec = _opt(options, "codec", "deflate")
        self.force_required = _flag(options, "force_required")
        self.block_bytes = int(_opt(options, "block_bytes",
                                    4 << 20))
        # fail fast on the driver: unsupported column types raise at
        # planning, before any executor work
        self.avro_schema = _avro_schema_of(schema,
                                           self.force_required)
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator):
        import uuid as _uuid

        from ..sources.avro import encode_container

        blob, rows = encode_container(
            (b.to_pandas() for b in iterator), self.avro_schema,
            self.codec, self.block_bytes)
        if blob is None:
            return _AvroCommit(None, 0)
        tmp = os.path.join(self.path,
                           f".stage-{_uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(blob)
        return _AvroCommit(tmp, rows)

    def _part_seq_tokens(self) -> list[str]:
        """The digit <seq> tokens of existing ``part-<seq>-…`` avro
        files (committed or not — ladder and ownership checks must
        see in-flight stream batches too)."""
        import glob as _glob

        toks = []
        for f in _glob.glob(os.path.join(self.path, "part-*.avro")):
            tok = os.path.basename(f).split("-", 2)[1]
            if tok.isdigit():
                toks.append(tok)
        return toks

    def _next_seq(self) -> str:
        """Monotonic ladder: strictly above every existing batch seq
        AND at or above wall-clock epoch-ms (fresh directories get
        time-ordered names across directories; clock regression can
        never break in-directory append order)."""
        import glob as _glob
        import time as _time

        toks = self._part_seq_tokens()
        prior = [int(t) for t in toks if len(t) == 15]
        stream_owned = (
            any(len(t) == 10 for t in toks)
            or _glob.glob(os.path.join(self.path,
                                       ".batch-*.committed")))
        if stream_owned:
            raise ValueError(
                f"minerva_avro: {self.path!r} is a STREAMING-sink "
                "drop directory (10-digit batch seqs / batch "
                "ledgers present) — batch appends would sort "
                "against the stream's file order; write to a "
                "separate directory")
        seq = max([int(_time.time() * 1000)]
                  + [s + 1 for s in prior])
        # O_EXCL claim: two jobs committing in the same ms with the
        # same ladder top would otherwise share a seq, and the
        # SECOND job's files would sort below a tailing stream's
        # high-water mark; the loser bumps past the claimed seq
        while True:
            claim = os.path.join(self.path,
                                 f".seq-{seq:015d}.claim")
            try:
                os.close(os.open(claim,
                                 os.O_CREAT | os.O_EXCL
                                 | os.O_WRONLY))
                return f"{seq:015d}"
            except FileExistsError:
                seq += 1

    def _finalize(self, messages, seq: str) -> int:
        import uuid as _uuid

        total = 0
        i = 0
        for m in messages:
            if not m or not m.tmp:
                continue
            # uuid suffix: two batch jobs committing in the same
            # epoch-ms must not silently os.rename over each other
            dst = os.path.join(
                self.path,
                f"part-{seq}-{i:05d}-{_uuid.uuid4().hex[:8]}.avro")
            os.rename(m.tmp, dst)
            total += m.rows
            i += 1
        return total

    def commit(self, messages):
        self._finalize(messages, self._next_seq())

    def abort(self, messages):
        remove_files(m.tmp for m in messages if m and m.tmp)


class _AvroStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once STREAMING sink for the drop directory: each
    micro-batch's files commit under a ``part-<batchId>-…`` prefix
    (10-digit zero-padded, so batches keep the sorted-name append
    order), then a ``.batch-<batchId>.committed`` LEDGER marker is
    created O_EXCL as the LAST step.  Readers (``_list_files``)
    ignore stream-prefixed files whose ledger is absent, so a batch
    becomes visible ATOMICALLY when the marker lands.  A driver
    crash mid-rename leaves a markerless partial prefix — invisible
    to readers; the REPLAYED batch deletes it and redoes the full
    rename set (the r8 prefix-as-ledger scheme silently LOST the
    unrenamed tasks' rows here).  A replay that finds the marker
    aborts its staged temps and commits nothing.

    OWNERSHIP: a drop directory belongs to ONE query lineage (one
    checkpoint).  A different query — or the same query with a
    RESET checkpoint — restarts batch ids at 0, collides with the
    existing ledgers, and its batches are treated as replays; point
    each new checkpoint lineage at a fresh directory."""

    def __init__(self, options: dict, schema, overwrite: bool):
        self._batch = _AvroWriter(options, schema, overwrite)

    def write(self, iterator):
        return self._batch.write(iterator)

    def commit(self, messages, batchId: int):
        import glob as _glob

        seq = f"{int(batchId):010d}"
        path = self._batch.path
        ledger = os.path.join(path, f".batch-{seq}.committed")
        if os.path.exists(ledger):
            self.abort(messages, batchId)  # replay: already committed
            return
        if any(len(t) != 10
               for t in self._batch._part_seq_tokens()):
            raise ValueError(
                f"minerva_avro stream sink: {path!r} contains "
                "batch-writer files (non-10-digit seqs, which sort "
                "against streaming batch ids) — the batch and "
                "streaming writers must not share a drop directory")
        for f in _glob.glob(os.path.join(path,
                                         f"part-{seq}-*.avro")):
            os.remove(f)  # markerless partial prefix from a crash
        self._batch._finalize(messages, seq)
        fd = os.open(ledger, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)

    def abort(self, messages, batchId: int):
        self._batch.abort(messages)


class MinervaAvroDataSource(DataSource):
    """`format("minerva_avro")` — see the module docstring."""

    @classmethod
    def name(cls) -> str:
        return "minerva_avro"

    def schema(self):
        from ..sources.avro import plan_read

        return plan_read(require_path(dict(self.options),
                                      "minerva_avro"))[2]

    def reader(self, schema) -> DataSourceReader:
        return _AvroBatchReader(dict(self.options))

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _AvroStreamReader(dict(self.options))

    def writer(self, schema, overwrite: bool):
        return _AvroWriter(dict(self.options), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _AvroStreamWriter(dict(self.options), schema,
                                 overwrite)


def register_avro_source(spark: SparkSession) -> None:
    """Register ``minerva_avro`` for this session (idempotent)."""
    register(spark, MinervaAvroDataSource)
