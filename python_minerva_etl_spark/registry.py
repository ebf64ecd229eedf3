"""Dataset registry — the Spark analog of Minerva's instance/directory.

Minerva registers trend stores / attribute stores / relations in
PostgreSQL schemas (``directory``, ``trend_directory``, …; ref:
minerva/instance/__init__.py [U]).  Here a registry is simply a mapping
name -> parquet location + role, and ``load_tables`` materializes
DataFrames (and temp views, so ``spark.sql`` works against them).

Dimension tables are flagged so join sites can wrap them in
``broadcast()`` — at 100 TB the fact tables shuffle on their keys while
the dims (region/nation/supplier/part/customer ≈ MB-scale) replicate to
every executor and never shuffle.

Parquet schemas are memoized per process (:func:`read_parquet`): every
``spark.read.parquet`` without a schema launches a schema-inference
Spark job, which a scheduler re-running the same materializations pays
on every call for files that have not changed.  The memo key is each
file's ``(path, inode, size, mtime_ns)`` (:func:`file_stamps`,
directories expanded to their files), the merge flag and the session
values of the confs the parquet schema converter reads
(``_SCHEMA_CONFS``), so a rewritten file or a flipped conf re-infers.
It is an LRU bounded at ``SCHEMA_MEMO_ENTRIES`` because SnapTable
writes a new commit directory on every merge.  It holds schemas only,
never data, and its key holds everything inference reads, so the
sessions of one process can share it.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Tables small enough (at any realistic scale factor — these are the
# Minerva "directory" analogs) to broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
SCHEMA_MEMO_ENTRIES = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def file_stamps(*paths: str) -> tuple[tuple[str, int, int, int], ...]:
    """``(path, inode, size, mtime_ns)`` of every file named or under a
    directory named in ``paths``: the one staleness key for metadata
    derived from local files.  Rewriting, replacing, adding or removing
    a file changes it.  Raises ``OSError`` for a path that is not a
    local file or directory (a glob, a remote URI, a missing file)."""
    out = []
    for p in paths:
        if os.path.isdir(p):
            files = sorted(os.path.join(d, f)
                           for d, _, fs in os.walk(p) for f in fs)
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            out.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def stamp_digest(*paths: str) -> str:
    """Short hex digest of :func:`file_stamps` — for names and markers
    that must change when their source files do."""
    return hashlib.md5(repr(file_stamps(*paths)).encode()).hexdigest()[:12]


def read_parquet(spark: SparkSession, *paths: str,
                 merge_schema: bool = False) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema memoized on file
    stamps and schema confs (module docstring).  A miss infers exactly
    as Spark does; a hit supplies the schema, so no inference job runs.
    Paths that cannot be stamped are read without the memo."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    try:
        stamps = file_stamps(*paths)
    except OSError:
        return reader.parquet(*paths)
    key = (merge_schema,
           tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS), stamps)
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = reader.parquet(*paths)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > SCHEMA_MEMO_ENTRIES:
            _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; normalizes ns-precision timestamps.

    ``events.ts`` is parquet TIMESTAMP(NANOS) which Spark 4 refuses to
    read natively; we read it as a long (legacy conf) and truncate to
    µs — the same truncation DuckDB applies when casting TIMESTAMP_NS
    to TIMESTAMP, so both engines see identical instants.  Integer
    ``div`` (not /) — ns-since-epoch ≈ 1.7e18 exceeds double precision.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Minerva is tz-aware with a pinned zone; calendar bucketing
        # (date_trunc day/week/month) must run under UTC to match the
        # oracle regardless of how the caller built the session.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf may be static in some deployments; read still works if set at build time
    df = read_parquet(spark, table_path(sf_dir, name))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # µs-precision NTZ parquet (isAdjustedToUTC=false): interpret
            # the wall-clock value as UTC.  Under the pinned UTC session
            # zone this cast is instant-preserving, and downstream code
            # (unix_micros, window(), watermarks) requires TIMESTAMP.
            df = df.withColumn(field.name,
                               F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES,
                register_views: bool = False) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in names:
        if os.path.exists(table_path(sf_dir, name)):
            # via load_table so the ns-timestamp normalization and
            # UTC/legacy confs apply uniformly however a table is read
            df = load_table(spark, sf_dir, name)
            out[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return out
