"""The commit protocol shared by SnapTable, Delta and Iceberg.

Every write in the three table formats ends the same way: data files
are staged, then one metadata file names them, published so that two
racing writers can never both win the same version.  This module holds
the mechanisms behind that step.  Each format keeps its own
metadata encoding, error type and conflict rules, and runs one retry
loop for all of its writers: ``SnapTable._commit``,
``DeltaTable._commit`` and Iceberg's ``iceberg_write._commit``.

1. **Publish** (:func:`publish_if_absent`): write a hidden temp file
   beside the target, then ``os.link`` it into place.  ``link`` fails
   with ``EEXIST`` when the name is taken, so POSIX gives an atomic
   put-if-absent; an exists-check followed by a rename is not atomic
   and lets the loser clobber the winner.  Overwriting writes
   (checkpoints, hints, blobs) use :func:`replace_atomic`, so a
   crashed writer leaves the old file or the new one, never half of
   one.  Temp names start with ``.`` and end in ``.tmp``, so no
   version listing picks up a temp a crash left behind.
2. **Retry bound** (:func:`commit_attempts`): a writer that loses the
   race re-reads the table and tries again, at most
   :data:`COMMIT_ATTEMPTS` times.  Conflicts that make the staged work
   stale are the caller's to raise at once; they are never retried.
3. **Staging** (:func:`stage_parquet`): one Spark write into
   ``<table>/_staging_<uuid>``, then each part is moved to a unique
   final name the format chooses.
4. **Hive path codec** (:func:`hive_segment`, :func:`hive_values`):
   ``col=value`` directory names, null as
   ``__HIVE_DEFAULT_PARTITION__``.
5. **Local paths** (:func:`_localize`, :func:`_localize_col`): a
   ``file:`` URI with any number of slashes (``file:/p``,
   ``file:///p``) names the local file ``/p``.  Spark's
   ``_metadata.file_path``, Hadoop-style writers and the formats' own
   metadata all reach the same file through this one rule.
6. **Arrow part writer** (:func:`write_parts`): the task side of the
   registered ``minerva_delta`` and ``minerva_iceberg`` sinks.  One
   snappy parquet file per distinct key, at a final name the format
   chooses, with no min/max for a string column holding a value over
   4 KB (pyarrow would record its max as ``''``).  Staged files that
   never commit are removed by :func:`remove_files`.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from typing import Callable, Iterator
from urllib.parse import quote, unquote

COMMIT_ATTEMPTS = 10

# pyarrow 16.1 records a 4,096-byte string max exactly and a longer
# one as '' (unless every value in the row group is that long)
_STATS_MAX_BYTES = 4096
_BYTE_TYPES = ("string", "binary", "large_string", "large_binary")

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_FILE_URI = "^file:/+"


def _write_temp(final: str, data: bytes | str) -> str:
    d, name = os.path.split(final)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(data.encode() if isinstance(data, str) else data)
    return tmp


def publish_if_absent(final: str, data: bytes | str) -> bool:
    """Create ``final`` holding ``data`` unless it exists; False when
    another writer took the name first (its file is left untouched)."""
    os.makedirs(os.path.dirname(final), exist_ok=True)
    tmp = _write_temp(final, data)
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def replace_atomic(path: str, data: bytes | str) -> None:
    """Write ``path`` so readers see the old content or all of
    ``data``, never a prefix."""
    tmp = _write_temp(path, data)
    try:
        os.replace(tmp, path)
    except OSError:
        os.unlink(tmp)
        raise


def commit_attempts(where: str, error: type[Exception]) -> Iterator[int]:
    """Loop over commit attempts; the loop body returns on success.

    Raises ``error`` once :data:`COMMIT_ATTEMPTS` attempts have all
    lost the race, i.e. the body fell through every time."""
    yield from range(COMMIT_ATTEMPTS)
    raise error(f"lost the commit race {COMMIT_ATTEMPTS} times at "
                f"{where!r}")


def _localize(uri: str) -> str:
    return re.sub(_FILE_URI, "/", uri)


def _localize_col(c):
    """:func:`_localize` as a Spark column expression."""
    from pyspark.sql import functions as F

    return F.regexp_replace(c, _FILE_URI, "/")


def hive_segment(col: str, value: str | None) -> str:
    """One ``col=value`` directory name; every reserved byte of the
    value is percent-encoded."""
    return f"{col}=" + (_HIVE_NULL if value is None
                        else quote(value, safe=""))


def hive_values(rel_dir: str) -> dict[str, str | None] | None:
    """``{col: value}`` decoded from a relative directory of
    ``col=value`` segments (``"."`` or ``""`` is ``{}``), or None when
    some segment is not ``col=value`` or repeats a column.  Decodes
    Spark-written names and :func:`hive_segment` names alike."""
    out: dict[str, str | None] = {}
    if rel_dir in (".", ""):
        return out
    for seg in rel_dir.split("/"):
        col, eq, raw = seg.partition("=")
        if not eq or col in out:
            return None
        out[col] = None if raw == _HIVE_NULL else unquote(raw)
    return out


def stage_parquet(df, table_path: str, partition_by: list[str],
                  place: Callable[[str, dict], str]
                  ) -> list[tuple[str, dict]]:
    """Write ``df`` as parquet in one Spark job (Hive-partitioned by
    ``partition_by``) and move each part to ``place(rel_dir,
    values)``: ``rel_dir`` is the part's Spark-written directory
    relative to the staging root (Delta keeps Spark's directory names,
    whose escaping differs from :func:`hive_segment`'s) and ``values``
    its decoded partition values.  Every destination is chosen before
    any part moves, so a ``place`` that refuses a value leaves nothing
    behind.  Returns
    ``(final_path, values)`` per part, in directory then name order;
    the staging directory is removed on every path."""
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(staging)
        parts = []
        for dirpath, dirs, names in os.walk(staging):
            dirs.sort()
            rel_dir = os.path.relpath(dirpath, staging)
            values = hive_values(rel_dir)
            if values is None:
                continue
            parts += [(os.path.join(dirpath, n), place(rel_dir, values),
                       values)
                      for n in sorted(names) if n.endswith(".parquet")]
        for src, final, _ in parts:
            os.makedirs(os.path.dirname(final), exist_ok=True)
            os.replace(src, final)
        return [(final, values) for _, final, values in parts]
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_parts(batches, keys: Callable, columns: list[str],
                place: Callable[[tuple], str]
                ) -> list[tuple[str, tuple, int]]:
    """Write one task's Arrow ``batches`` as one snappy parquet file
    of ``columns`` per distinct key, at ``place(key)``; returns
    ``(path, key, rows)`` per file.  ``keys(table)`` gives the pandas
    Series whose value tuple is the key, None for null; no Series
    means one file.  Groups keep first-appearance order.
    A string or binary column with a value over 4,096 bytes gets no
    statistics (nor do nested columns of that file), like Spark's
    parquet-mr writer: pyarrow would record its max as ``''``."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    batches = list(batches)
    if not batches:
        return []
    tbl = pa.Table.from_batches(batches)
    frame = pd.DataFrame(dict(enumerate(keys(tbl))))
    tbl = tbl.select(columns)
    groups = (frame.groupby(list(frame.columns), dropna=False,
                            sort=False).indices.items()
              if len(frame.columns) else [((), None)])
    out = []
    for key, idx in groups:
        key = tuple(None if pd.isna(v) else v
                    for v in (key if isinstance(key, tuple) else (key,)))
        sub = tbl if idx is None else tbl.take(idx)
        long = {f.name for f in sub.schema
                if str(f.type) in _BYTE_TYPES
                and (pc.max(pc.binary_length(sub[f.name])).as_py()
                     or 0) > _STATS_MAX_BYTES}
        path = place(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(sub, path, compression="snappy",
                       write_statistics=[c for c in columns
                                         if c not in long]
                       if long else True)
        out.append((path, key, sub.num_rows))
    return out


def remove_files(paths) -> None:
    """Delete staged files that will never be committed; a file
    already gone is fine."""
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass
