"""plans/footer_stats — split-point literals from parquet footers.

The r10 verdict flagged the ``agg(max(col)).collect()`` split-point
idiom in the storage roundtrip queries as a full-column scan job per
call.  The replacement reads exact min/max from parquet footer
statistics (driver-side metadata decode, no Spark job).  These tests
pin the exactness contract against a real Spark aggregate and the
fallback behavior when footers can't answer.  The second half pins
the footer-stats core every table format shares (storage/stats.py).
"""

from __future__ import annotations

import datetime
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from python_minerva_etl_spark.plans.footer_stats import (
    parquet_minmax, table_minmax, ts_midpoint_day)
from python_minerva_etl_spark.registry import load_table

from .conftest import SF_CORRECT

pytestmark = pytest.mark.quick


def test_event_id_minmax_matches_spark_agg(spark):
    from pyspark.sql import functions as F
    lo, hi = table_minmax(spark, SF_CORRECT, "events", "event_id")
    row = (load_table(spark, SF_CORRECT, "events")
           .agg(F.min("event_id"), F.max("event_id")).collect()[0])
    assert (lo, hi) == (row[0], row[1])


def test_user_id_minmax_matches_spark_agg(spark):
    from pyspark.sql import functions as F
    lo, hi = table_minmax(spark, SF_CORRECT, "events", "user_id")
    row = (load_table(spark, SF_CORRECT, "events")
           .agg(F.min("user_id"), F.max("user_id")).collect()[0])
    assert (lo, hi) == (row[0], row[1])


def test_ts_midpoint_day_matches_spark_derivation(spark):
    """The days-partitioned Iceberg query's predicate literal: footer
    path must land on the same whole-day midnight the old Spark
    min/max derivation produced (ns→µs truncation is monotonic, so a
    <1µs stats-vs-column delta cannot shift the midpoint's DATE)."""
    from pyspark.sql import functions as F
    mid = ts_midpoint_day(spark, SF_CORRECT)
    lo, hi = (load_table(spark, SF_CORRECT, "events")
              .agg(F.min("ts"), F.max("ts")).collect()[0])
    expect = datetime.datetime.combine(
        (lo + (hi - lo) / 2).date(), datetime.time())
    assert mid == expect


def test_directory_of_files_spans_all_parts(tmp_path):
    """Multi-file datasets (the 100 TB layout) must fold stats across
    every part file, not just one footer."""
    d = tmp_path / "multi.parquet"
    d.mkdir()
    pq.write_table(pa.table({"x": [5, 9, 7]}), d / "part-0.parquet")
    pq.write_table(pa.table({"x": [1, 3, 2]}), d / "part-1.parquet")
    # hidden/metadata files must be ignored
    (d / "_SUCCESS").write_text("")
    assert parquet_minmax(str(d), "x") == (1, 9)


def test_string_stats_refused(tmp_path):
    """BYTE_ARRAY statistics may be truncated bounds — the helper
    must return None (→ aggregate fallback), never a wrong literal."""
    p = tmp_path / "s.parquet"
    pq.write_table(pa.table({"s": ["a", "zz"]}), p)
    assert parquet_minmax(str(p), "s") is None


def test_unknown_column_raises(tmp_path):
    p = tmp_path / "u.parquet"
    pq.write_table(pa.table({"x": [1]}), p)
    with pytest.raises(KeyError):
        parquet_minmax(str(p), "nope")


def test_all_null_rowgroup_skipped(tmp_path):
    p = tmp_path / "n.parquet"
    pq.write_table(pa.table({"x": pa.array([None, None],
                                           type=pa.int64())}), p)
    # no values anywhere -> None (fallback), not a crash
    assert parquet_minmax(str(p), "x") is None


def test_no_spark_job_on_footer_path(spark):
    """The whole point: the footer path must not launch a Spark job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    table_minmax(spark, SF_CORRECT, "events", "event_id")
    after = tracker.getJobIdsForGroup(None)
    assert before == after


# ------------------------------------------------- one footer-stats core
#
# The same crafted files through every format's footer path: SnapTable
# manifest stats, Delta add-action stats JSON, Iceberg manifest bounds
# and ``parquet_minmax``.  The expected values are the outputs the
# formats produced before they shared one reader; ``long_string`` and
# ``epoch_edge`` pin the two Iceberg defects the shared reader fixes
# (a stat-less row group was skipped, and micros went through float
# seconds).

_UTC = datetime.timezone.utc
_D = datetime.datetime
_LONG = "x" * 5001  # over pyarrow's 4 KB statistics limit
_EDGE = _D(2004, 7, 5, 17, 4, 31, 702026)
_EDGE_US = 1089047071702026


def _formats():
    import pyarrow as pa
    from pyspark.sql import types as T
    return {  # column: (arrow type, Spark type, Iceberg type)
        "b": (pa.bool_(), T.BooleanType(), "boolean"),
        "i": (pa.int32(), T.IntegerType(), "int"),
        "l": (pa.int64(), T.LongType(), "long"),
        "d": (pa.float64(), T.DoubleType(), "double"),
        "s": (pa.string(), T.StringType(), "string"),
        "dt": (pa.date32(), T.DateType(), "date"),
        "ts": (pa.timestamp("us"), T.TimestampNTZType(), "timestamp"),
        "tz": (pa.timestamp("us", tz="UTC"), T.TimestampType(),
               "timestamptz"),
    }


def _delta_json(rows, mins, maxs, nulls):
    return json.dumps({"numRecords": rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls,
                       "tightBounds": True})


_TYPES = {
    "b": [True, None, False, True],
    "i": [3, -2, None, 9],
    "l": [2 ** 40, None, -5, 7],
    "d": [0.5, -1.25, 3.0, None],
    "s": ["pear", "apple", None, "fig"],
    "dt": [datetime.date(2004, 3, 1), None, datetime.date(1999, 12, 31),
           datetime.date(2024, 2, 29)],
    "ts": [_D(2024, 1, 1, 12), _D(1969, 12, 31, 23, 59, 59, 999999),
           None, _D(2004, 3, 12, 7, 28, 15, 616000)],
    "tz": [_D(2024, 1, 1, 12, tzinfo=_UTC), None, _D(1970, 1, 1, tzinfo=_UTC),
           _D(2001, 9, 9, 1, 46, 40, tzinfo=_UTC)],
}

# name: (columns, row_group_size, snaptable, delta, iceberg (lower,
# upper) as decoded (field-id, value), parquet_minmax per column,
# probes (col, op, literal, Iceberg keeps, Delta keeps))
_FOOTER_CASES = {
    "all_null": (
        {"l": [None] * 3, "s": [None] * 3}, 2,
        (3, {}), _delta_json(3, {}, {}, {"l": 3, "s": 3}),
        ([], []), {"l": None, "s": None},
        [("l", "=", 1, True, True)]),
    "zero_rows": (
        {c: [] for c in _TYPES}, None,
        (0, {}), _delta_json(0, {}, {}, {}),
        ([], []), {c: None for c in _TYPES},
        [("l", "=", 1, True, True)]),
    "types": (
        _TYPES, 2,
        (4, {"b": [False, True], "i": [-2, 9], "l": [-5, 2 ** 40],
             "d": [-1.25, 3.0], "s": ["apple", "pear"],
             "dt": [730119, 738945], "ts": [-1, 1704110400000000],
             "tz": [0, 1704110400000000]}),
        _delta_json(4, {"b": False, "i": -2, "l": -5, "d": -1.25,
                        "s": "apple"},
                    {"b": True, "i": 9, "l": 2 ** 40, "d": 3.0,
                     "s": "pear"},
                    {"b": 1, "i": 1, "l": 1, "d": 1, "s": 1}),
        ([(2, -2), (3, -5), (4, -1.25), (5, "apple"), (6, 10956),
          (7, -1), (8, 0)],
         [(2, 9), (3, 2 ** 40), (4, 3.0), (5, "pear"), (6, 19782),
          (7, 1704110400000000), (8, 1704110400000000)]),
        {"b": (False, True), "i": (-2, 9), "l": (-5, 2 ** 40),
         "d": None, "s": None,
         "dt": (datetime.date(1999, 12, 31), datetime.date(2024, 2, 29)),
         "ts": (_D(1969, 12, 31, 23, 59, 59, 999999), _D(2024, 1, 1, 12)),
         "tz": (_D(1970, 1, 1, tzinfo=_UTC), _D(2024, 1, 1, 12, tzinfo=_UTC))},
        [("l", "=", 7, True, True), ("l", ">", 2 ** 40, False, False),
         ("l", ">=", 2 ** 40, True, True), ("i", "<", -2, False, False),
         ("d", "<=", -1.25, True, True), ("d", "<", -1.25, False, False),
         ("s", "=", "banana", True, True), ("s", ">", "pear", False, False),
         ("s", "=", 5, True, True),
         ("dt", "<", datetime.date(1999, 12, 31), False, True),
         ("dt", "=", datetime.date(2024, 2, 29), True, True),
         ("ts", "<=", _D(1969, 12, 31, 23, 59, 59, 999999), True, True),
         ("ts", "<", _D(1969, 12, 31, 23, 59, 59, 999999), False, True),
         ("tz", ">", _D(2024, 1, 1, 12, tzinfo=_UTC), False, True)]),
    # regression: a row group without min/max leaves the column
    # unbounded in every format (Iceberg used to report 'a'..'c')
    "long_string": (
        {"s": ["a", "b", "c", _LONG]}, 3,
        (4, {}), _delta_json(4, {}, {}, {"s": 0}),
        ([], []), {"s": None},
        [("s", "=", _LONG, True, True), ("s", "=", "b", True, True)]),
    # regression: pyarrow records the max of a group whose long string
    # is not alone as '' — no bound, or the file loses 'b'
    "long_string_max": (
        {"s": ["a", "b", _LONG]}, None,
        (3, {}), _delta_json(3, {}, {}, {"s": 0}),
        ([], []), {"s": None},
        [("s", "=", "b", True, True)]),
    # regression: Iceberg timestamp bounds are exact integer micros
    "epoch_edge": (
        {"ts": [_D(2004, 7, 5), _EDGE],
         "tz": [_D(2004, 7, 5, tzinfo=_UTC), _EDGE.replace(tzinfo=_UTC)]},
        None,
        (2, {"ts": [1088985600000000, _EDGE_US],
             "tz": [1088985600000000, _EDGE_US]}),
        _delta_json(2, {}, {}, {}),
        ([(1, 1088985600000000), (2, 1088985600000000)],
         [(1, _EDGE_US), (2, _EDGE_US)]),
        {"ts": (_D(2004, 7, 5), _EDGE),
         "tz": (_D(2004, 7, 5, tzinfo=_UTC), _EDGE.replace(tzinfo=_UTC))},
        [("ts", "=", _EDGE, True, True), ("ts", ">=", _EDGE, True, True),
         ("tz", "=", _EDGE.replace(tzinfo=_UTC), True, True),
         ("tz", ">=", _EDGE.replace(tzinfo=_UTC), True, True),
         ("ts", ">", _EDGE, False, True)]),
}


@pytest.mark.parametrize("case", sorted(_FOOTER_CASES))
def test_format_footer_stats_pinned(tmp_path, case):
    from python_minerva_etl_spark.storage import delta, iceberg, snaptable
    from python_minerva_etl_spark.storage.iceberg_write import _file_bounds

    data, rgs, snap, delta_json, ice, minmax, probes = _FOOTER_CASES[case]
    fmt = _formats()
    cols = list(data)
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(
        pa.table({c: pa.array(v, type=fmt[c][0]) for c, v in data.items()}),
        path, **({"row_group_size": rgs} if rgs else {}))
    ice_schema = {"fields": [{"id": n + 1, "name": c, "type": fmt[c][2]}
                             for n, c in enumerate(cols)]}
    field_id = {c: n + 1 for n, c in enumerate(cols)}
    field_type = {c: fmt[c][2] for c in cols}

    assert snaptable._file_stats(path, cols) == snap
    got_delta = delta._file_stats(
        path, [T.StructField(c, fmt[c][1]) for c in cols])
    assert got_delta == delta_json
    lower, upper = _file_bounds(path, ice_schema)
    decoded = tuple(
        [(e["key"], iceberg._decode_bound(fmt[cols[e["key"] - 1]][2],
                                          e["value"])) for e in side]
        for side in (lower, upper))
    assert decoded == ice
    assert {c: parquet_minmax(path, c) for c in cols} == minmax

    entry = {"lower_bounds": lower, "upper_bounds": upper}
    add = {"stats": got_delta}
    for col, op, lit, ice_keeps, delta_keeps in probes:
        pred = [(col, op, lit)]
        assert iceberg._file_may_match(
            entry, pred, field_id, field_type) is ice_keeps, pred
        assert delta._add_may_match(add, pred, [], {}) is delta_keeps, pred


def _delta_keeps(lo, hi, op, lit):
    from python_minerva_etl_spark.storage.delta import _add_may_match

    add = {"stats": json.dumps({"minValues": {"s": lo},
                                "maxValues": {"s": hi}})}
    return _add_may_match(add, [("s", op, lit)], [], {})


def _iceberg_keeps(lo, hi, op, lit):
    from python_minerva_etl_spark.storage.iceberg import _file_may_match

    entry = {"lower_bounds": {1: lo.encode()},
             "upper_bounds": {1: hi.encode()}}
    return _file_may_match(entry, [("s", op, lit)], {"s": 1},
                           {"s": "string"})


def _snaptable_keeps(lo, hi, op, lit):
    from python_minerva_etl_spark.storage.stats import may_match

    return may_match(lo, hi, op, lit)


@pytest.mark.parametrize("keeps", [_delta_keeps, _iceberg_keeps,
                                   _snaptable_keeps],
                         ids=["delta", "iceberg", "snaptable"])
def test_impossible_bound_pair_reads_as_unbounded(keeps):
    """Older sinks could record a string max of '' above a non-empty
    min.  A max below its min is impossible, so every format's file
    skipping reads the column as unbounded and keeps the file; a
    sound pair still prunes."""
    for op, lit in [("=", "zzz"), ("=", "a"), (">", "zzz"),
                    (">=", "zzz"), ("<", "a"), ("<=", "")]:
        assert keeps("abc", "", op, lit) is True, (op, lit)
    assert keeps("abc", "abd", "=", "zzz") is False
    assert keeps("abc", "abd", "<", "a") is False


def test_delta_version_at_exact_millis(tmp_path):
    """``timestamp_as_of`` resolves through exact integer epoch ms: a
    target that equals a commit's timestamp selects that commit, not
    the one before it (float seconds put 616 ms at 615)."""
    from python_minerva_etl_spark.storage.delta import DeltaTable

    log = tmp_path / "t" / "_delta_log"
    log.mkdir(parents=True)
    for v, ms in enumerate((1079076495615, 1079076495616)):
        (log / f"{v:020d}.json").write_text(
            json.dumps({"commitInfo": {"timestamp": ms}}) + "\n")
    dt = DeltaTable(str(tmp_path / "t"))
    v = dt.version_at(_D(2004, 3, 12, 7, 28, 15, 616000))
    assert v == 1
    assert dt._actions(v)[1] == 1079076495616


def test_footer_statistics_read_only_in_stats_module():
    """Parquet column-chunk ``.statistics`` are read in exactly one
    module, so the row-group merge rule cannot fork again."""
    import ast

    import python_minerva_etl_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if rel == os.path.join("storage", "stats.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            offenders += [f"{rel}:{node.lineno}" for node in ast.walk(tree)
                          if isinstance(node, ast.Attribute)
                          and node.attr == "statistics"]
    assert not offenders, offenders
