"""File statistics shared by SnapTable, Delta and Iceberg.

All three table formats answer the same question from parquet
footers — which files can hold these keys or times? — and this module
holds the four decisions behind that answer.  Each format keeps only
its own encoding of the result.

1. **Footer bounds** (:func:`footer_bounds`): per-column raw min, max,
   null count and physical type, merged over the row groups of one
   parquet file.  The merge rule: a row group with zero values is
   skipped; any other row group without min/max (all nulls, or
   pyarrow dropping the stats of a string over 4 KB) leaves the
   column unbounded.  A partial bound would prune a file that holds
   the row.
2. **Epoch conversion** (:func:`epoch`): exact integer counts since
   1970-01-01 from ``(dt - epoch) // unit`` — never through float
   seconds, which put about 1.3% of microsecond timestamps 1 µs low.
   Naive datetimes are UTC.
3. **Bound comparator** (:func:`may_match`): one conservative
   ``(lo, hi, op, lit)`` test.  A missing bound or a literal of an
   incomparable type keeps the file.
4. **Z-order** (:func:`zorder_cluster`): quantile-binned Morton
   clustering for Delta ``OPTIMIZE ZORDER BY`` and Iceberg
   ``compact_iceberg(zorder_by=...)``.

Canonical temporal forms, per format:

- SnapTable manifests: timestamps as epoch µs, dates as ordinal days
  (``date.toordinal()``);
- Iceberg bounds and literals: timestamps as epoch µs, dates as epoch
  days;
- Delta: commit timestamps as epoch ms (its stats JSON records no
  temporal columns).
"""

from __future__ import annotations

import datetime
import math
from typing import Any, NamedTuple

from pyspark.sql import functions as F
from pyspark.sql import types as T

US = datetime.timedelta(microseconds=1)
MS = datetime.timedelta(milliseconds=1)
DAY = datetime.timedelta(days=1)
_EPOCH = datetime.datetime(1970, 1, 1)


class Bounds(NamedTuple):
    """One column's footer statistics over a file.  ``lo``/``hi`` are
    None when the column is unbounded (or has no values); ``nulls`` is
    None when no row group reported statistics."""

    lo: Any
    hi: Any
    nulls: int | None
    physical_type: str


def footer_bounds(path: str, columns) -> tuple[int, dict[str, Bounds]]:
    """``(num_rows, {column: Bounds})`` from the parquet footer of
    ``path`` for the top-level ``columns`` present in the file, in
    file column order — no data pages are read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    want = set(columns)
    out: dict[str, Bounds] = {}
    for ci in range(md.num_columns):
        col = md.schema.column(ci)
        if col.path not in want:
            continue
        lo = hi = nulls = None
        bounded = True
        for rg in range(md.num_row_groups):
            cc = md.row_group(rg).column(ci)
            if cc.num_values == 0:
                continue
            st = cc.statistics
            if st is not None:
                nulls = (nulls or 0) + (st.null_count or 0)
            if st is None or not st.has_min_max:
                bounded = False
            else:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        if not bounded:
            lo = hi = None
        out[col.path] = Bounds(lo, hi, nulls, col.physical_type)
    return md.num_rows, out


def epoch(v: datetime.date, unit: datetime.timedelta) -> int:
    """Exact integer count of ``unit`` from 1970-01-01 to ``v``: a
    datetime (naive = UTC) or a date.  Floors, like Spark's
    ``unix_micros``/``unix_date``."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH) // unit
    return (v - _EPOCH.date()) // unit


def as_of_ms(ts) -> int:
    """A time-travel target in epoch ms: a datetime (naive = UTC), an
    ISO-8601 string, or an int/float already in epoch ms."""
    if isinstance(ts, bool) or not isinstance(
            ts, (int, float, str, datetime.datetime)):
        raise TypeError(
            f"timestamp must be datetime, ISO string, or epoch ms — "
            f"got {type(ts).__name__}")
    if isinstance(ts, (int, float)):
        return int(ts)
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    return epoch(ts, MS)


def may_match(lo, hi, op: str, lit) -> bool:
    """False only when the bounds ``[lo, hi]`` prove no value ``v``
    satisfies ``v <op> lit``.  A None bound is open; an unknown op or
    an incomparable literal keeps the file (pruning is an
    optimization, never a filter)."""
    try:
        if op == "=":
            return not ((lo is not None and lit < lo)
                        or (hi is not None and lit > hi))
        if op in (">", ">="):
            return hi is None or (hi > lit if op == ">" else hi >= lit)
        if op in ("<", "<="):
            return lo is None or (lo < lit if op == "<" else lo <= lit)
    except TypeError:
        pass
    return True


def zorder_proxy_sql(col: str, dt: T.DataType) -> str:
    """An order-preserving DOUBLE proxy for a Z-ORDER column.  Only
    the RELATIVE order matters (values feed quantile binning), so
    lossy mappings are fine as long as they are monotonic: strings
    map through their first 4 UTF-8 bytes as a big-endian integer,
    timestamps through epoch seconds."""
    q = f"`{col}`"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType, T.FloatType, T.DoubleType,
                       T.DecimalType)):
        return f"CAST({q} AS DOUBLE)"
    if isinstance(dt, T.DateType):
        return f"CAST(datediff({q}, DATE'1970-01-01') AS DOUBLE)"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"CAST(CAST({q} AS TIMESTAMP) AS DOUBLE)"
    if isinstance(dt, T.StringType):
        # rpad to exactly 4 bytes so short strings stay monotone
        # against longer ones sharing their prefix ('a' must bin
        # BELOW 'a~~~': 0x61000000 < 0x617E7E7E)
        return ("CAST(CAST(conv(hex(rpad(substring(CAST(" + q +
                " AS BINARY), 1, 4), 4, X'00')), 16, 10) "
                "AS BIGINT) AS DOUBLE)")
    raise ValueError(
        f"zorder_by column {col!r} has unsupported type "
        f"{dt.simpleString()} (numeric, decimal, date, timestamp "
        "and string are supported)")


_Z_BITS = 8  # 256 quantile bins per dimension


def zorder_cluster(df, zcols: list[str],
                   type_of: dict[str, T.DataType], nparts: int):
    """Multi-dimensional Z-ORDER clustering: each column is
    quantile-binned into 256 buckets (percentile_approx boundaries —
    ONE extra aggregation job over the group, adapting to the actual
    distribution, never min/max linear bins that collapse under
    skew), bucket bits are Morton-interleaved into a single bigint
    key, and the rewrite range-partitions + sorts on that key.  Every
    output file then covers a narrow hyper-rectangle in ALL
    clustering dimensions, so per-file min/max stats prune predicates
    on ANY of them — the property a lexicographic sort_by only gives
    the leading column.  Clustering placement does not need to be
    deterministic (file contents and stats stay exact either way);
    bit budget caps the dimensions at 7 (7 cols x 8 bits < the bigint
    sign bit)."""
    if len(zcols) > 7:
        raise ValueError("zorder_by supports at most 7 columns "
                         f"(got {len(zcols)})")
    d = len(zcols)
    fracs = [i / (1 << _Z_BITS) for i in range(1, 1 << _Z_BITS)]
    proxies = [zorder_proxy_sql(c, type_of[c]) for c in zcols]
    bounds = df.agg(*[
        F.percentile_approx(F.expr(px), fracs, 10000).alias(f"b{i}")
        for i, px in enumerate(proxies)]).first()
    # bind each proxy as a column BEFORE the boundary filter: the
    # lambda references it once per boundary element, and an inlined
    # expression (for strings: conv(hex(rpad(substring(...))))) would
    # re-evaluate ~255x per row — the measured inline-HOF trap
    df = df.withColumns({f"__zp{i}": F.expr(px)
                         for i, px in enumerate(proxies)})
    bucket_cols = {}
    for i in range(d):
        # non-finite boundaries would pretty-print as inf/nan and
        # fail SQL analysis; dropping them is sound (an inf value
        # compares above every finite boundary -> last bucket, a
        # NaN proxy fails every comparison -> bucket 0)
        bs = [float(v) for v in (bounds[f"b{i}"] or [])
              if v is not None and math.isfinite(float(v))]
        arr = ("CAST(array() AS ARRAY<DOUBLE>)" if not bs else
               "array(" + ", ".join(f"CAST({v!r} AS DOUBLE)"
                                    for v in bs) + ")")
        # NULL proxy -> lambda NULL -> filtered out -> bucket 0
        bucket_cols[f"__zb{i}"] = F.expr(
            f"size(filter({arr}, b -> b <= __zp{i}))")
    df = df.withColumns(bucket_cols)
    morton = " + ".join(
        f"shiftleft(shiftright(CAST(__zb{i} AS BIGINT), {j}) & 1, "
        f"{j * d + i})"
        for i in range(d) for j in range(_Z_BITS))
    df = df.withColumn("__zm", F.expr(morton))
    return (df.repartitionByRange(nparts, "__zm")
            .sortWithinPartitions("__zm")
            .drop("__zm", *bucket_cols,
                  *[f"__zp{i}" for i in range(d)]))
