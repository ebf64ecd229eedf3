"""Granularity — Minerva's time-bucket abstraction, Spark-first.

Reference semantics (minerva/storage/trend/granularity.py [U]):
a granularity is the bucket size of a trend store ('15m'/900s, '1h',
'1d', '1w', '1month'); it supports ``truncate(ts)`` (bucket floor),
``inc``/``decr`` (bucket stepping) and ``range(start, end)`` (bucket
series), with DST-aware arithmetic for day-and-coarser buckets.

Spark mapping decisions (SURVEY.md §4):

- sub-day granularities are fixed-duration: truncate = floor of the
  epoch to the period.  This is what Spark's ``window()`` does, but we
  use an explicit epoch-floor expression so the bucket is a plain
  TIMESTAMP column (joinable, partitionable, oracle-friendly) instead
  of a struct.
- day/week/month are *calendar* buckets: ``date_trunc`` under the
  session time zone.  Spark's ``window()`` is fixed-duration and
  therefore WRONG for months and DST transitions — never used here.
- bucket series = ``sequence(start, stop, interval)`` + ``explode``,
  the distributed analog of granularity.range.

The python-side class mirrors the reference for driver-side planning
(materialization scheduling needs bucket arithmetic on ordinary
datetimes); the Column-side functions are what queries use.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from pyspark.sql import Column
from pyspark.sql import functions as F

from .storage.stats import US, epoch

# name -> (seconds, None) for fixed-duration, or (None, date_trunc unit)
_GRANULARITIES: dict[str, tuple[int | None, str | None]] = {
    "1m": (60, None),
    "5m": (300, None),
    "15m": (900, None),
    "30m": (1800, None),
    "1h": (3600, None),
    "900": (900, None),
    "3600": (3600, None),
    "1d": (None, "day"),
    "1w": (None, "week"),
    "1month": (None, "month"),
}

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

SECONDS_ALIASES = {"900": "15m", "3600": "1h", "86400": "1d"}


def normalize(name: str) -> str:
    name = str(name).strip()
    return SECONDS_ALIASES.get(name, name)


def trunc_col(ts: Column, granularity: str, tz: str | None = None) -> Column:
    """Bucket-floor a timestamp Column to the granularity.

    Fixed-duration: epoch-floor (identical to the oracle's
    ``to_timestamp(floor(epoch(ts)/N)*N)``).  Calendar: ``date_trunc``
    in the session tz (pinned UTC) — or, with ``tz``, in that zone:
    the instant is shifted to local wall time, truncated, and shifted
    back, so a "day" is the deployment zone's civil day (23/25 h across
    DST), matching the reference's pytz behavior.
    """
    g = normalize(granularity)
    if g not in _GRANULARITIES:
        raise ValueError(f"unknown granularity {granularity!r}")
    secs, unit = _GRANULARITIES[g]
    if secs is not None:
        return F.timestamp_seconds(
            (F.floor(F.unix_timestamp(ts) / secs) * secs).cast("long")
        )
    if tz is None:
        return F.date_trunc(unit, ts)
    local = F.from_utc_timestamp(ts, tz)
    return F.to_utc_timestamp(F.date_trunc(unit, local), tz)


@dataclass(frozen=True)
class Granularity:
    """Driver-side bucket arithmetic (mirrors the reference class).

    DST-correct for calendar granularities: arithmetic is done on wall
    time in ``tz`` (a 1d step across a DST boundary is 23 or 25 real
    hours, matching the reference's pytz localize/normalize pattern).
    """

    name: str
    tz: str = "UTC"

    def __post_init__(self):
        object.__setattr__(self, "name", normalize(self.name))
        if self.name not in _GRANULARITIES:
            raise ValueError(f"unknown granularity {self.name!r}")

    @property
    def _spec(self) -> tuple[int | None, str | None]:
        return _GRANULARITIES[self.name]

    def truncate(self, ts: datetime) -> datetime:
        secs, unit = self._spec
        zone = ZoneInfo(self.tz)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=zone)
        if secs is not None:
            # exact integer µs: float seconds lose the µs past ~2200
            us = epoch(ts, US)
            return (_EPOCH + (us - us % (secs * 1_000_000)) * US
                    ).astimezone(zone)
        local = ts.astimezone(zone)
        if unit == "day":
            return local.replace(hour=0, minute=0, second=0, microsecond=0)
        if unit == "week":  # ISO week start (Monday), like date_trunc
            day0 = local.replace(hour=0, minute=0, second=0, microsecond=0)
            return day0 - timedelta(days=day0.weekday())
        if unit == "month":
            return local.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
        raise AssertionError(unit)

    def inc(self, ts: datetime) -> datetime:
        secs, unit = self._spec
        if secs is not None:
            return ts + timedelta(seconds=secs)
        zone = ZoneInfo(self.tz)
        local = ts.astimezone(zone) if ts.tzinfo else ts.replace(tzinfo=zone)
        if unit == "day":
            naive = local.replace(tzinfo=None) + timedelta(days=1)
        elif unit == "week":
            naive = local.replace(tzinfo=None) + timedelta(weeks=1)
        else:  # month
            y, m = divmod(local.month, 12)
            naive = local.replace(tzinfo=None).replace(
                year=local.year + y, month=m + 1)
        return naive.replace(tzinfo=zone)  # wall-clock step == DST-aware

    def decr(self, ts: datetime) -> datetime:
        secs, unit = self._spec
        if secs is not None:
            return ts - timedelta(seconds=secs)
        zone = ZoneInfo(self.tz)
        local = ts.astimezone(zone) if ts.tzinfo else ts.replace(tzinfo=zone)
        if unit == "day":
            naive = local.replace(tzinfo=None) - timedelta(days=1)
        elif unit == "week":
            naive = local.replace(tzinfo=None) - timedelta(weeks=1)
        else:
            m = local.month - 2
            naive = local.replace(tzinfo=None).replace(
                year=local.year + m // 12, month=m % 12 + 1)
        return naive.replace(tzinfo=zone)

    def range(self, start: datetime, end: datetime) -> list[datetime]:
        """All bucket starts b with start <= b <= end (after truncation)."""
        out = []
        cur = self.truncate(start)
        stop = self.truncate(end)
        while cur <= stop:
            out.append(cur)
            cur = self.inc(cur)
        return out
