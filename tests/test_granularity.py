"""Granularity arithmetic — mirrors the reference's
tests/test_granularity.py [U]: truncate/inc/range incl. month and DST."""

from __future__ import annotations

from datetime import datetime
from zoneinfo import ZoneInfo

import pytest

from python_minerva_etl_spark.granularity import Granularity, normalize

UTC = ZoneInfo("UTC")
AMS = ZoneInfo("Europe/Amsterdam")


def test_normalize_aliases():
    assert normalize("900") == "15m"
    assert normalize("3600") == "1h"


def test_truncate_15m():
    g = Granularity("15m")
    ts = datetime(2024, 3, 1, 10, 37, 22, tzinfo=UTC)
    assert g.truncate(ts) == datetime(2024, 3, 1, 10, 30, tzinfo=UTC)


def test_truncate_month():
    g = Granularity("1month")
    ts = datetime(2024, 2, 15, 13, 0, tzinfo=UTC)
    assert g.truncate(ts) == datetime(2024, 2, 1, tzinfo=UTC)


def test_truncate_week_is_monday():
    g = Granularity("1w")
    ts = datetime(2024, 3, 7, 5, 0, tzinfo=UTC)  # Thursday
    assert g.truncate(ts) == datetime(2024, 3, 4, tzinfo=UTC)  # Monday


def test_month_inc_rollover():
    g = Granularity("1month")
    assert g.inc(datetime(2024, 12, 1, tzinfo=UTC)) == \
        datetime(2025, 1, 1, tzinfo=UTC)
    assert g.decr(datetime(2024, 1, 1, tzinfo=UTC)) == \
        datetime(2023, 12, 1, tzinfo=UTC)


def test_day_inc_across_dst_is_wall_clock():
    """DST correctness: stepping 1d across the spring-forward boundary
    keeps local midnight (a 23-real-hour step) — the reference's pytz
    localize/normalize behavior."""
    g = Granularity("1d", tz="Europe/Amsterdam")
    # 2024-03-31 is the spring-forward day (02:00 -> 03:00 CET/CEST)
    before = datetime(2024, 3, 31, 0, 0, tzinfo=AMS)
    after = g.inc(before)
    assert after.hour == 0 and after.day == 1 and after.month == 4
    # real elapsed time is 23h, not 24h (diff in UTC — python ignores
    # offsets when both operands share the same tzinfo object)
    assert (after.astimezone(UTC)
            - before.astimezone(UTC)).total_seconds() == 23 * 3600


def test_range_inclusive():
    g = Granularity("1d")
    days = g.range(datetime(2024, 1, 1, 5, 0, tzinfo=UTC),
                   datetime(2024, 1, 3, 1, 0, tzinfo=UTC))
    assert [d.day for d in days] == [1, 2, 3]


def test_range_month_calendar_lengths():
    g = Granularity("1month")
    months = g.range(datetime(2024, 1, 10, tzinfo=UTC),
                     datetime(2024, 4, 2, tzinfo=UTC))
    assert [m.month for m in months] == [1, 2, 3, 4]


def test_unknown_granularity_rejected():
    with pytest.raises(ValueError):
        Granularity("7m")


def test_trunc_col_tz_aware_matches_python(spark):
    """Column-side calendar truncation in a deployment tz equals the
    python Granularity across a DST boundary."""
    from datetime import datetime, timedelta
    from zoneinfo import ZoneInfo

    from python_minerva_etl_spark.granularity import trunc_col
    from pyspark.sql import functions as F

    # hourly instants crossing the 2024-03-31 Amsterdam spring-forward
    base = datetime(2024, 3, 30, 12, 0, tzinfo=ZoneInfo("UTC"))
    instants = [base + timedelta(hours=h) for h in range(48)]
    df = spark.createDataFrame([(t,) for t in instants], "ts timestamp")
    got = [r.day for r in df.select(
        trunc_col(F.col("ts"), "1d", tz="Europe/Amsterdam").alias("day"))
        .collect()]
    g = Granularity("1d", tz="Europe/Amsterdam")
    want = [g.truncate(t).astimezone(ZoneInfo("UTC")).replace(tzinfo=None)
            for t in instants]
    assert got == want


def test_localtz_bucketing_handles_dst_transition(spark):
    """Europe/Amsterdam local-day bucketing across the 2024-03-31 DST
    jump: the UTC wall-clock offset moves from +1 (CET) to +2 (CEST),
    so the same 22:30 UTC time lands on different local days before
    and after the transition.  Session-timezone-independent by
    construction (NTZ + explicit source/target zones)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "2024-03-30 22:30:00"),   # CET +1  -> Mar 30 23:30 local
         (2, "2024-03-31 01:30:00"),   # spring-forward night, +2 from 01:00 UTC
         (3, "2024-03-31 22:30:00")],  # CEST +2 -> Apr 1 00:30 local
        "id long, ts_s string").select(
        "id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    local_day = F.date_trunc("day", F.expr(
        "convert_timezone('UTC', 'Europe/Amsterdam', ts)")) \
        .cast("timestamp_ntz")
    got = {r.id: str(r.d) for r in
           df.select("id", local_day.alias("d")).collect()}
    assert got == {1: "2024-03-30 00:00:00",
                   2: "2024-03-31 00:00:00",
                   3: "2024-04-01 00:00:00"}


@pytest.mark.parametrize("year", [2024, 3000, 9999])
@pytest.mark.parametrize("zone", [UTC, AMS], ids=["UTC", "AMS"])
@pytest.mark.parametrize("name, minute", [
    ("1m", 59), ("5m", 55), ("15m", 45), ("30m", 30), ("1h", 0)])
def test_truncate_last_microsecond_stays_in_bucket(year, zone, name,
                                                   minute):
    """Sub-day buckets floor exact microseconds: the last µs of a
    bucket never rounds up into the next one, however far from 1970
    (float epoch seconds carry no µs past about year 2200)."""
    ts = datetime(year, 6, 1, 12, 59, 59, 999999, tzinfo=zone)
    got = Granularity(name, tz=zone.key).truncate(ts)
    assert got == datetime(year, 6, 1, 12, minute, tzinfo=zone)
    assert got.tzinfo == zone
