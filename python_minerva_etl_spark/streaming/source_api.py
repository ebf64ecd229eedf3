"""The PySpark DataSource API plumbing shared by the registered
``minerva_delta``, ``minerva_iceberg`` and ``minerva_avro`` sources:
option lookup, the path check, filter translation, the empty-read
guard and registration.  Admission control lives in
:mod:`.admission`; the sinks' task-side parquet writer in
:func:`..storage.commit.write_parts`.
"""

from __future__ import annotations

import functools
from typing import Callable


def _opt(options: dict, name: str, default=None):
    """Spark normalizes reader option keys to lowercase before they
    reach a Python data source — look keys up case-insensitively so
    `.option("startingVersion", …)` works as documented."""
    lowered = {str(k).lower(): v for k, v in options.items()}
    return lowered.get(name.lower(), default)


def _flag(options: dict, name: str, default: str = "false") -> bool:
    """A ``"true"``/``"false"`` option (any case)."""
    return str(_opt(options, name, default)).lower() == "true"


def require_path(options: dict, source: str) -> str:
    """The ``path`` option, or a ValueError naming ``source``."""
    path = _opt(options, "path")
    if not path:
        raise ValueError(f"{source} requires a path "
                         "(.load(path) or .option('path', …))")
    return path


def preds_from_filters(filters, names: set) -> list[tuple]:
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


def empty_when_pruned(read: Callable) -> Callable:
    """Wrap a batch reader's ``read``: when ``partitions()`` returns
    ``[]`` (pushdown pruned every file), PySpark plans one ``None``
    partition and calls ``read(None)``, which reads no rows."""
    @functools.wraps(read)
    def wrapped(self, partition):
        if partition is None:
            return iter(())
        return read(self, partition)
    return wrapped


def register(spark, source_cls) -> None:
    """Register ``source_cls`` for this session (idempotent).  Also
    enables Python data source filter pushdown — a reader that
    implements ``pushFilters`` HARD-FAILS when the conf is off, so
    registration owns turning it on (runtime conf, session-scoped);
    readers without ``pushFilters`` are unaffected."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled",
                       "true")
    except Exception:
        pass  # static conf in exotic deployments; reads still work
    spark.dataSource.register(source_cls)
