"""Declared queries: trend-pipeline operators — threshold trigger,
notification query, sessionization, keyed upsert (SURVEY.md §2.8-2.9).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from ..operators.sessionize import sessionize
from ..operators.trigger import ThresholdRule, evaluate, zscore_outliers
from ..operators.upsert import dedup_last_wins
# Split-point literals come from parquet FOOTER statistics (driver-side
# metadata decode, no scan job) — never from collecting a max()
# aggregate, which is a full-column scan at 100 TB (r10 verdict,
# "What's wrong" item 1).
from ..plans.footer_stats import table_max, ts_midpoint_day
from ..registry import stamp_digest, table_path
from .base import DeclaredQuery, t

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def _fixture_key(sf_dir: str, table: str = "events") -> str:
    """Staleness key for marker-cached scratch fixtures: the digest of
    the source parquet's file stamps (``registry.file_stamps``).  A
    regenerated fixture invalidates the cache instead of silently
    serving stale derived data."""
    return stamp_digest(table_path(sf_dir, table))


def _scratch_tag(sf_dir: str) -> int:
    """Deterministic per-fixture scratch-dir tag.  md5, NOT hash():
    PYTHONHASHSEED randomization would name a fresh dir every driver
    run and only rmtree its own, accumulating stale siblings."""
    import hashlib
    return int(hashlib.md5(os.path.abspath(sf_dir).encode())
               .hexdigest()[:8], 16)

_RULE = ThresholdRule(
    name="high_value",
    kpi="value",
    thresholds=(("critical", 90.0), ("major", 75.0), ("warning", 50.0)),
    condition="event_type <> 'error'",
    weights={"critical": 100, "major": 50, "warning": 10},
)


def _trigger_threshold(spark, sf_dir):
    """OP-TRIG-THRESH: ordered severity thresholds over a KPI
    expression, condition-filtered, weighted — emits notification rows
    (ref: minerva/trigger/__init__.py [U], SQL-gen → Catalyst CASE)."""
    ev = t(spark, sf_dir, "events")
    notif = evaluate(ev, _RULE, entity_col="user_id", ts_col="ts")
    return notif.select(
        F.col("event_id"),
        F.col("user_id").alias("entity_id"),
        F.date_trunc("second", "ts").alias("ts_s"),
        "severity", "weight", "value", "trigger_name")


def _anomaly_zscore(spark, sf_dir):
    """OP-TRIG (dynamic baseline): per-user z-score outliers — rows
    more than 3 sample-stddevs from the user's own mean.  Baselines
    from decimal partials; the z expression is written identically in
    both engines, so the double compares exactly."""
    ev = t(spark, sf_dir, "events")
    return (zscore_outliers(ev, "user_id", "value",
                            z_threshold=3.0, min_samples=10)
            .select("event_id", "user_id", "value", "z"))


_ANOMALY_ZSCORE_SQL = """
WITH st AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS s,
         CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sq,
         CAST(COUNT(value) AS DOUBLE) AS n
  FROM events GROUP BY 1
),
base AS (
  SELECT user_id, s / n AS mean, sqrt((sq - s * s / n) / (n - 1.0)) AS std
  FROM st WHERE n >= 10
),
base_ok AS (SELECT * FROM base WHERE std > 0)
SELECT e.event_id, e.user_id, e.value,
       (e.value - b.mean) / b.std AS z
FROM events e JOIN base_ok b USING (user_id)
WHERE abs((e.value - b.mean) / b.std) > 3.0
"""


_TRIGGER_THRESHOLD_SQL = """
SELECT event_id,
       user_id AS entity_id,
       CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s,
       CASE WHEN value >= 90.0 THEN 'critical'
            WHEN value >= 75.0 THEN 'major'
            WHEN value >= 50.0 THEN 'warning' END AS severity,
       CAST(CASE WHEN value >= 90.0 THEN 100
                 WHEN value >= 75.0 THEN 50
                 WHEN value >= 50.0 THEN 10 END AS BIGINT) AS weight,
       value,
       'high_value' AS trigger_name
FROM events
WHERE event_type <> 'error' AND value >= 50.0
"""


def _notif_window_count(spark, sf_dir):
    """OP-NOTIF-QUERY: notification-store read — time-range + attribute
    filter + per-bucket counts (errors per day, distinct entities)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n_errors"),
             F.countDistinct("user_id").alias("n_users"))
    )


_NOTIF_WINDOW_COUNT_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) AS n_errors,
       COUNT(DISTINCT user_id) AS n_users
FROM events
WHERE event_type = 'error'
GROUP BY 1
"""


def _events_sessionize(spark, sf_dir):
    """EXT-SESS / OP-STR-SESSION (batch form): 30-minute-gap sessions
    per user; gap compared on integer microseconds in both engines."""
    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, key=["user_id"], ts_col="ts", gap_seconds=1800,
                      order_tiebreak=["event_id"])
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.date_trunc("second", F.min("ts")).alias("session_start"),
            F.date_trunc("second", F.max("ts")).alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
            .alias("sum_value"),
        )
    )


_EVENTS_SESSIONIZE_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
       CAST(date_trunc('second', MAX(ts)) AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
FROM runs GROUP BY 1, 2
"""


def _events_session_window(spark, sf_dir):
    """OP-STR-SESSION via Spark's native session_window (batch form —
    the same operator drives the streaming variant with a watermark).
    Note the boundary difference vs the lag+cumsum form: session_window
    starts a NEW session when gap >= 30min (merge condition is
    next.ts < prev.ts + gap), so the oracle uses >=."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
             .alias("sum_value"))
        .select("user_id",
                F.date_trunc("second", F.col("w.start")).alias("session_start"),
                "n_events", "sum_value")
    )


_EVENTS_SESSION_WINDOW_SQL = """
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM gaps
)
SELECT user_id,
       CAST(date_trunc('second', MIN(ts)) AS TIMESTAMP) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
FROM runs GROUP BY user_id, session_seq
"""


def _upsert_last_wins(spark, sf_dir):
    """OP-SNK-UPSERT (dedup-last step): ON CONFLICT (entity, bucket)
    DO UPDATE — the highest-sequence write wins per key."""
    ev = t(spark, sf_dir, "events")
    keyed = ev.withColumn("bucket", F.date_trunc("hour", "ts"))
    return dedup_last_wins(
        keyed, key=["user_id", "bucket"], seq_col="event_id",
    ).select("user_id", "bucket", "event_id", "value")


_UPSERT_LAST_WINS_SQL = """
SELECT user_id, CAST(bucket AS TIMESTAMP) AS bucket, event_id, value
FROM (
  SELECT user_id, date_trunc('hour', ts) AS bucket, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def _sink_delta_roundtrip(spark, sf_dir):
    """OP-SNK / OP-SRC interop via the DELTA transaction-log protocol
    (storage/delta.py — no Delta jar): the per-user hourly rollup is
    written as TWO Delta commits (events split on event_id, partial
    rollup appended per half) and read back through the log replayer;
    the mergeable partials re-aggregate to the exact full rollup the
    oracle computes directly.  Exercises commit write, add-action
    replay, and snapshot read end to end."""
    from ..storage.delta import DeltaTable

    ev = t(spark, sf_dir, "events")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    def rollup(df):
        return (df.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("samples"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").alias("sum_value")))

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, rollup(ev.filter(F.col("event_id") <= mid)))
    dt.write(spark, rollup(ev.filter(F.col("event_id") > mid)))
    return (dt.read(spark)
            .groupBy("user_id", "bucket")
            .agg(F.sum("samples").cast("bigint").alias("samples"),
                 F.sum("sum_value").cast("decimal(28,4)")
                 .alias("sv"))
            .select("user_id", "bucket", "samples",
                    F.col("sv").cast("double").alias("sum_value")))


_SINK_DELTA_ROUNDTRIP_SQL = """
SELECT user_id,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS samples,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def _sink_iceberg_roundtrip(spark, sf_dir):
    """OP-SNK / OP-SRC interop via the ICEBERG v2 table format
    (storage/iceberg_write.py + storage/iceberg.py — no Iceberg jar):
    the per-user hourly rollup is written as TWO fast-append commits
    (events split on event_id, partial rollup appended per half) and
    read back through manifest-list replay; the mergeable partials
    re-aggregate to the exact full rollup the oracle computes
    directly.  Exercises parquet staging, Avro manifest + manifest-
    list writing, CAS metadata commit, snapshot read, and the bounds
    the writer records (the reader's scan planning consumes them)."""
    from ..storage.iceberg import read_iceberg
    from ..storage.iceberg_write import write_iceberg

    ev = t(spark, sf_dir, "events")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    def rollup(df):
        return (df.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("samples"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").alias("sum_value")))

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, rollup(ev.filter(F.col("event_id") <= mid)),
                  base)
    write_iceberg(spark, rollup(ev.filter(F.col("event_id") > mid)),
                  base)
    return (read_iceberg(spark, base)
            .groupBy("user_id", "bucket")
            .agg(F.sum("samples").cast("bigint").alias("samples"),
                 F.sum("sum_value").cast("decimal(28,4)")
                 .alias("sv"))
            .select("user_id", "bucket", "samples",
                    F.col("sv").cast("double").alias("sum_value")))


_SINK_ICEBERG_ROUNDTRIP_SQL = _SINK_DELTA_ROUNDTRIP_SQL


def _sink_iceberg_days_partitioned(spark, sf_dir):
    """OP-SNK / OP-SRC via an Iceberg table PARTITION BY days(ts)
    (storage/iceberg_write.py:_PartField — the spec's day transform,
    pure unix_micros arithmetic so the partition values are
    session-timezone-proof): events land in one partitioned append
    (data files keep every column, Hive dirs ts_day=<epoch day>,
    manifest partition summaries in the transformed domain), then a
    ts-range read must use manifest pruning and still match the
    oracle's plain filtered aggregate.  The predicate midpoint is a
    whole-day boundary so the weak transformed-domain bound and the
    exact filter agree."""
    from ..storage.iceberg import read_iceberg
    from ..storage.iceberg_write import write_iceberg

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    mid = ts_midpoint_day(spark, sf_dir)

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_days_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev, base, partition_by="days(ts)")
    return (read_iceberg(spark, base, where=[("ts", ">=", mid)])
            .groupBy("event_type",
                     F.date_trunc("day", "ts").alias("day"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


def _sink_iceberg_zorder_partitioned(spark, sf_dir):
    """OP-SNK / OP-SRC / maintenance: a PARTITIONED Iceberg table
    (identity event_type spec) goes through OPTIMIZE ZORDER BY
    (user_id, ts) — r9 verdict #2: clustering now runs PER PARTITION
    VALUE instead of refusing partitioned specs
    (storage/iceberg_write.py:compact_iceberg) — and the clustered
    table must still read back exactly: a user_id-range read (which
    the clustered manifest bounds prune file-wise) aggregated per
    event_type against the oracle's plain filtered aggregate.  The
    small target_file_bytes forces multiple clustered files per
    partition so the range read actually exercises the per-partition
    Morton layout."""
    from ..storage.iceberg import read_iceberg
    from ..storage.iceberg_write import compact_iceberg, write_iceberg

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    hi = table_max(spark, sf_dir, "events", "user_id")
    cut = int(hi) // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_zorder_part_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev, base, partition_by="event_type")
    compact_iceberg(spark, base, zorder_by=["user_id", "ts"],
                    target_file_bytes=64 << 10)
    return (read_iceberg(spark, base,
                         where=[("user_id", "<=", cut)])
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_ICEBERG_ZORDER_PARTITIONED_SQL = """
WITH cut AS (
  SELECT CAST(MAX(user_id) AS BIGINT) // 2 AS c FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events, cut
WHERE user_id <= cut.c
GROUP BY 1
"""


_SINK_ICEBERG_DAYS_PARTITIONED_SQL = """
WITH bounds AS (
  SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events
),
cut AS (
  SELECT CAST(CAST(lo + (hi - lo) / 2 AS DATE) AS TIMESTAMP) AS mid
  FROM bounds
)
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events, cut
WHERE ts >= mid
GROUP BY 1, 2
"""


def _sink_delta_dv_roundtrip(spark, sf_dir):
    """OP-SNK merge-on-read DELETE via Delta deletion vectors
    (storage/delta.py + storage/delta_dv.py — no Delta jar): events
    are committed as TWO appends (so multiple data files carry DVs),
    then two DELETEs run back-to-back — the second must UNION its
    positions into the first's bitmaps on the shared files (a DV
    replaces its predecessor wholesale).  No data file is rewritten;
    the read applies the bitmaps at scan time via the
    _metadata.row_index anti-join.  The oracle computes the surviving
    aggregate directly with the negated predicates."""
    from ..storage.delta import DeltaTable, delete_delta

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_dv_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev.filter(F.col("event_id") <= mid))
    dt.write(spark, ev.filter(F.col("event_id") > mid))
    delete_delta(spark, base, "event_type = 'error'")
    delete_delta(spark, base, "value < 10.0")
    return (dt.read(spark)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("survivors"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_DELTA_DV_ROUNDTRIP_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS survivors,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events
WHERE (event_type = 'error') IS NOT TRUE
  AND (value < 10.0) IS NOT TRUE
GROUP BY 1
"""


def _source_delta_cdf(spark, sf_dir):
    """OP-SRC change-data-feed: events land as TWO Delta appends,
    then a merge-on-read DELETE masks one event type; the CDF read
    (storage/delta.py:DeltaTable.changes) derives the feed straight
    from the commit actions — inserts from the dataChange adds,
    deletes as exactly the newly-masked DV positions — and the
    aggregate over (_change_type, event_type) must equal the oracle's
    direct reconstruction (every row inserted once; 'error' rows also
    deleted once)."""
    from ..storage.delta import DeltaTable, delete_delta

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_cdf_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev.filter(F.col("event_id") <= mid))
    dt.write(spark, ev.filter(F.col("event_id") > mid))
    delete_delta(spark, base, "event_type = 'error'")
    return (dt.changes(spark)
            .groupBy("_change_type", "event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SOURCE_DELTA_CDF_SQL = """
SELECT _change_type, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM (
  SELECT 'insert' AS _change_type, event_type, value FROM events
  UNION ALL
  SELECT 'delete' AS _change_type, event_type, value FROM events
  WHERE event_type = 'error'
)
GROUP BY 1, 2
"""


def _source_avro_roundtrip(spark, sf_dir):
    """OP-SRC-PLUGIN roundtrip through the Avro sink + the VECTORIZED
    Avro source path (sources/avro.py): events' key columns are
    written executor-side as all-varint object-container files
    (timestamps as unix_micros longs — timezone-proof), read back
    through the numpy block decoder (3 non-nullable longs = vector-
    eligible), and re-aggregated; matches the oracle computed on the
    original parquet."""
    from ..sources.avro import read_avro, write_avro

    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"avro_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_avro(ev.repartition(4), base, force_required=True)
    back = read_avro(spark, base)
    return (back
            .groupBy("user_id",
                     F.date_trunc("hour", F.timestamp_micros("ts_us"))
                     .alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("samples"),
                 F.max("event_id").alias("max_event")))


_SOURCE_AVRO_ROUNDTRIP_SQL = """
SELECT user_id,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS samples,
       MAX(event_id) AS max_event
FROM events GROUP BY 1, 2
"""


def _avro_ingest(spark, sf_dir):
    """OP-SRC-PLUGIN ingest-throughput path: events as a deflate
    Avro container (mixed nullable types — the GENERAL vectorized
    decoder, not the all-varint fast path), read back through
    sync-marker BYTE-RANGE splits (4 MiB, so even the sf0.01 fixture
    shatters into multiple tasks) and re-aggregated.  The fixture is
    written ONCE per sf_dir (marker-cached, written with small
    2 MiB blocks so every split boundary shape occurs): the measured
    cost is decode + aggregate — the 100 TB entry-point path —
    not the sink."""
    from ..sources.avro import read_avro, write_avro

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"avro_ingest_{tag}")
    marker = os.path.join(base, "_COMPLETE")
    key = _fixture_key(sf_dir)
    if not (os.path.exists(marker)
            and open(marker).read() == key):
        shutil.rmtree(base, ignore_errors=True)
        ev = t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value")
        write_avro(ev.repartition(2), base, codec="deflate",
                   block_bytes=2 << 20)
        with open(marker, "w") as fh:
            fh.write(key)
    df = read_avro(spark, base, split_bytes=4 << 20)
    return (df.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_AVRO_INGEST_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _sink_delta_merge_roundtrip(spark, sf_dir):
    """OP-SNK MERGE INTO via the Delta row-level DML path
    (storage/delta.py:DeltaTable.merge): the base table holds the
    low half of events; the source overlaps it — (¼·max, ½·max]
    matches and doubles the stored value (merge-on-read: DV mask +
    new data files), (½·max, ¾·max] inserts.  The final snapshot
    read must equal the oracle's LEFT-JOIN reconstruction of the
    same merge."""
    from ..storage.delta import DeltaTable

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mx = table_max(spark, sf_dir, "events", "event_id")
    mid, lo, hi = mx // 2, mx // 4, (3 * mx) // 4

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_merge_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev.filter(F.col("event_id") <= mid))
    src = ev.filter((F.col("event_id") > lo)
                    & (F.col("event_id") <= hi))
    dt.merge(spark, src, "t.event_id = s.event_id",
             when_matched_update={"value": "s.value * 2"},
             when_not_matched_insert=True)
    return (dt.read(spark)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_DELTA_MERGE_ROUNDTRIP_SQL = """
WITH mx AS (SELECT MAX(event_id) AS m FROM events),
base AS (
  SELECT event_id, user_id, event_type, value FROM events, mx
  WHERE event_id <= m // 2
),
src AS (
  SELECT event_id, user_id, event_type, value FROM events, mx
  WHERE event_id > m // 4 AND event_id <= (3 * m) // 4
),
merged AS (
  SELECT b.event_id, b.user_id, b.event_type,
         CASE WHEN s.event_id IS NOT NULL THEN s.value * 2
              ELSE b.value END AS value
  FROM base b LEFT JOIN src s ON b.event_id = s.event_id
  UNION ALL
  SELECT s.event_id, s.user_id, s.event_type, s.value
  FROM src s, mx WHERE s.event_id > m // 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM merged GROUP BY 1
"""


def _sink_iceberg_merge_roundtrip(spark, sf_dir):
    """OP-SNK row-level DML via the Iceberg merge-on-read writers
    (storage/iceberg_write.py:update_iceberg, merge_iceberg): the
    base table holds the low half of events; an UPDATE first bumps
    every stored 'error' row's value by 1 (position deletes + new
    data files, one overwrite snapshot); then MERGE INTO with the
    overlapping (¼·max, ¾·max] source doubles every matched row's
    value from the source and inserts the unmatched high rows.  The
    final snapshot read must equal the oracle's LEFT-JOIN
    reconstruction of the same update-then-merge."""
    from ..storage.iceberg import read_iceberg
    from ..storage.iceberg_write import (merge_iceberg,
                                         update_iceberg,
                                         write_iceberg)

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mx = table_max(spark, sf_dir, "events", "event_id")
    mid, lo, hi = mx // 2, mx // 4, (3 * mx) // 4

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_merge_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev.filter(F.col("event_id") <= mid), base)
    update_iceberg(spark, base, {"value": "value + 1"},
                   [("event_type", "=", "error")])
    src = ev.filter((F.col("event_id") > lo)
                    & (F.col("event_id") <= hi))
    merge_iceberg(spark, base, src, "t.event_id = s.event_id",
                  when_matched_update={"value": "s.value * 2"},
                  when_not_matched_insert=True)
    return (read_iceberg(spark, base)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_ICEBERG_MERGE_ROUNDTRIP_SQL = """
WITH mx AS (SELECT MAX(event_id) AS m FROM events),
base AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_type = 'error' THEN value + 1
              ELSE value END AS value
  FROM events, mx WHERE event_id <= m // 2
),
src AS (
  SELECT event_id, user_id, event_type, value FROM events, mx
  WHERE event_id > m // 4 AND event_id <= (3 * m) // 4
),
merged AS (
  SELECT b.event_id, b.user_id, b.event_type,
         CASE WHEN s.event_id IS NOT NULL THEN s.value * 2
              ELSE b.value END AS value
  FROM base b LEFT JOIN src s ON b.event_id = s.event_id
  UNION ALL
  SELECT s.event_id, s.user_id, s.event_type, s.value
  FROM src s, mx WHERE s.event_id > m // 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM merged GROUP BY 1
"""


def _sink_delta_replace_where(spark, sf_dir):
    """OP-SNK predicate-scoped overwrite via Delta replaceWhere
    (storage/delta.py:replace_where — the backfill idiom): the table
    holds every event; ONE commit replaces the 'error' region with a
    corrected subset (low-event_id error rows, values doubled) while
    the rest of the table is untouched — merge-on-read, deletion
    vectors mask the old region, new files land the corrections.
    The final snapshot must equal the oracle's reconstruction."""
    from ..storage.delta import DeltaTable

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_rw_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev)
    corrected = (ev.filter((F.col("event_type") == "error")
                           & (F.col("event_id") <= mid))
                 .withColumn("value", F.col("value") * 2))
    dt.replace_where(spark, corrected, "event_type = 'error'")
    return (dt.read(spark)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_DELTA_REPLACE_WHERE_SQL = """
WITH mx AS (SELECT MAX(event_id) AS m FROM events),
final AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE event_type <> 'error'
  UNION ALL
  SELECT event_id, user_id, event_type, value * 2 AS value
  FROM events, mx
  WHERE event_type = 'error' AND event_id <= m // 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM final GROUP BY 1
"""


def _source_iceberg_incremental(spark, sf_dir):
    """OP-SRC incremental APPEND scan over an Iceberg v2 table
    (storage/iceberg.py:IcebergTable.incremental — the
    IncrementalAppendScan contract): events land as two fast-append
    commits split on event_id; the scan AFTER the first snapshot
    must return exactly the second batch — the carried-forward first
    manifest contributes nothing — and a follow-up merge-on-read
    DELETE snapshot inside the range is skipped (append scans report
    appends).  The oracle aggregates the high half directly."""
    from ..storage.iceberg import IcebergTable
    from ..storage.iceberg_write import delete_iceberg, write_iceberg

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_inc_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev.filter(F.col("event_id") <= mid), base)
    tbl = IcebergTable(base)
    s1 = tbl.metadata()["current-snapshot-id"]
    write_iceberg(spark, ev.filter(F.col("event_id") > mid), base)
    delete_iceberg(spark, base, [("event_id", "<=", mid // 2)])
    return (tbl.incremental(spark, s1)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SOURCE_ICEBERG_INCREMENTAL_SQL = """
WITH mx AS (SELECT MAX(event_id) AS m FROM events)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events, mx
WHERE event_id > m // 2
GROUP BY 1
"""


def _stream_delta_source_parity(spark, sf_dir):
    """OP-STR-INGEST via the registered `minerva_delta` PYTHON DATA
    SOURCE (streaming/delta_source.py, the PySpark-4 DataSource API):
    events land as two Delta appends, then a Structured Streaming
    query tails the transaction log with commit-version offsets
    (availableNow trigger → both versions as micro-batches, one input
    partition per data file, executor-side pyarrow decode) into a
    memory sink; the streamed aggregate must equal the oracle
    computed directly on events."""
    import uuid as _uuid

    from ..storage.delta import DeltaTable
    from ..streaming.delta_source import register_delta_source

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_stream_src_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev.filter(F.col("event_id") <= mid))
    dt.write(spark, ev.filter(F.col("event_id") > mid))
    register_delta_source(spark)
    sink = f"delta_src_parity_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("minerva_delta")
         .option("startingVersion", 0).load(base)
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("value").cast("decimal(28,4)"))
              .cast("decimal(28,4)").alias("sv"))
         .writeStream.format("memory").queryName(sink)
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return (spark.table(sink)
            .select("event_type", "n",
                    F.col("sv").cast("double").alias("sum_value")))


_STREAM_DELTA_SOURCE_PARITY_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _source_delta_cdf_update(spark, sf_dir):
    """OP-SRC change-data-feed WRITE path: with
    delta.enableChangeDataFeed=true an UPDATE commit must carry cdc
    actions with the update_preimage/update_postimage rows under
    _change_data/ (PROTOCOL.md "Add CDC File" — a DV remove+add
    pair is outside the derivable subset), and the CDF read uses
    ONLY those.  The feed over the update commit must equal the
    oracle's direct pre/post reconstruction (value·2 is exact in
    binary floating point, so the postimage aggregates bit-for-bit)."""
    from ..storage.delta import DeltaTable

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_cdfu_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev)
    dt.set_properties({"delta.enableChangeDataFeed": "true"})
    v = dt.update(spark, {"value": "value * 2"},
                  "event_type = 'error'")
    return (dt.changes(spark, v, v)
            .groupBy("_change_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SOURCE_DELTA_CDF_UPDATE_SQL = """
SELECT _change_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM (
  SELECT 'update_preimage' AS _change_type, user_id, value
  FROM events WHERE event_type = 'error'
  UNION ALL
  SELECT 'update_postimage' AS _change_type, user_id,
         value * 2 AS value
  FROM events WHERE event_type = 'error'
)
GROUP BY 1
"""


def _upsert_merge_table(spark, sf_dir):
    """OP-SNK-UPSERT via the snapshot-committed table format
    (storage/snaptable): a two-phase load through MERGE — the second
    batch replaces the first per (user, hour) key with file-pruned
    rewrites and atomic manifest commits.  Equals plain last-wins
    because batch 2 holds the globally highest event_id for every key
    it touches (the split is on event_id)."""
    from ..storage.snaptable import SnapTable

    ev = t(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts"))
    mid = table_max(spark, sf_dir, "events", "event_id") // 2
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"snap_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    tbl = SnapTable(base)
    key, cols = ["user_id", "bucket"], ["user_id", "bucket", "event_id",
                                        "value"]
    tbl.merge(spark, ev.filter(F.col("event_id") <= mid).select(cols),
              key, "event_id")
    tbl.merge(spark, ev.filter(F.col("event_id") > mid).select(cols),
              key, "event_id")
    return tbl.read(spark).select(*cols)


def _two_phase_snaptable(spark, sf_dir, prefix):
    """Build a (user, hour)-keyed snapshot table from events in two
    MERGE batches split on event_id — v1 is the early state, v2 the
    final one.  Shared scaffolding for the CDC queries."""
    from ..storage.snaptable import SnapTable

    ev = t(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts"))
    mid = table_max(spark, sf_dir, "events", "event_id") // 2
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"{prefix}_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    tbl = SnapTable(base)
    key, cols = ["user_id", "bucket"], ["user_id", "bucket", "event_id",
                                        "value"]
    tbl.merge(spark, ev.filter(F.col("event_id") <= mid).select(cols),
              key, "event_id")
    tbl.merge(spark, ev.filter(F.col("event_id") > mid).select(cols),
              key, "event_id")
    return tbl


def _table_changes(spark, sf_dir):
    """Snapshot change feed (the Delta CDF ``table_changes`` analog):
    the row-level diff between the two-phase load's snapshots v1 and
    v2, each row tagged insert / update_preimage / update_postimage
    (deletes can't arise from MERGE).  Reads only files present in
    exactly one manifest; value-equal rewrites are dropped."""
    return _two_phase_snaptable(spark, sf_dir, "cdc").changes(spark, 1, 2)


# v1 = last-wins over the first half, v2 = last-wins over everything;
# the diff is inserts (keys only in v2) plus pre/post images where the
# resolved row changed.  Batch 2 always carries the higher event_id,
# so every matched key with a batch-2 row is an update.
_TABLE_CHANGES_SQL = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         event_id, value
  FROM events
),
m AS (SELECT MAX(event_id) // 2 AS mid FROM ev),
v1 AS (
  SELECT user_id, bucket, event_id, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                 ORDER BY event_id DESC) AS rn
    FROM ev WHERE event_id <= (SELECT mid FROM m)
  ) WHERE rn = 1
),
v2 AS (
  SELECT user_id, bucket, event_id, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                 ORDER BY event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
)
SELECT v2.user_id, v2.bucket, v2.event_id, v2.value,
       'insert' AS _change_type
FROM v2 LEFT JOIN v1 USING (user_id, bucket)
WHERE v1.event_id IS NULL
UNION ALL
SELECT v1.user_id, v1.bucket, v1.event_id, v1.value,
       'update_preimage' AS _change_type
FROM v1 JOIN v2 USING (user_id, bucket)
WHERE v1.event_id <> v2.event_id OR v1.value <> v2.value
UNION ALL
SELECT v2.user_id, v2.bucket, v2.event_id, v2.value,
       'update_postimage' AS _change_type
FROM v1 JOIN v2 USING (user_id, bucket)
WHERE v1.event_id <> v2.event_id OR v1.value <> v2.value
"""


def _cdc_incremental_agg(spark, sf_dir):
    """CDC-maintained aggregate: the per-user (bucket-count, decimal
    sum) rollup is computed once over snapshot v1, then MAINTAINED to
    the v2 state purely from the change feed — signed re-aggregation
    over |changed rows|, never a table rescan.  Equals a direct rollup
    of the final state bit-for-bit (the oracle recomputes from
    scratch)."""
    from ..operators.materialization import apply_changes_to_agg

    tbl = _two_phase_snaptable(spark, sf_dir, "cdcagg")
    stored = (tbl.read(spark, 1)
              .groupBy("user_id")
              .agg(F.count("*").alias("samples"),
                   F.sum(F.col("value").cast("decimal(28,4)"))
                   .cast("decimal(28,4)").alias("sum_value")))
    maintained = apply_changes_to_agg(
        stored, tbl.changes(spark, 1, 2), ["user_id"], "value")
    return maintained.select(
        "user_id", "samples",
        F.col("sum_value").cast("double").alias("sum_value"))


# the maintained aggregate must equal a from-scratch rollup of the
# final (v2) last-wins state
_CDC_INCREMENTAL_AGG_SQL = """
WITH ev AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, event_id, value
  FROM events
),
v2 AS (
  SELECT user_id, bucket, value FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                 ORDER BY event_id DESC) AS rn
    FROM ev
  ) WHERE rn = 1
)
SELECT user_id, COUNT(*) AS samples,
       CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sum_value
FROM v2 GROUP BY user_id
"""


def _reshape_wide(spark, sf_dir):
    """Long → wide pivot: the DataPackage-to-trend-store transform.
    events is the long form (event_type = trend name); the wide row is
    (user, day) with one column per event class."""
    from ..operators.reshape import long_to_wide

    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts"))
    return long_to_wide(
        ev, key=["user_id", "day"], name_col="event_type",
        value_col="value",
        trend_names=["click", "view", "purchase", "error", "signup"],
        agg="sum")


_RESHAPE_WIDE_SQL = """
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(SUM(CASE WHEN event_type = 'click'
                THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS click,
       CAST(SUM(CASE WHEN event_type = 'view'
                THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS view,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'error'
                THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS error,
       CAST(SUM(CASE WHEN event_type = 'signup'
                THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS signup
FROM events
GROUP BY 1, 2
"""


def _reshape_long(spark, sf_dir):
    """Wide → long unpivot (stack): round-trips the wide form back to
    (key, trend, value) rows, dropping the NULL holes."""
    from ..operators.reshape import wide_to_long

    wide = _reshape_wide(spark, sf_dir)
    return wide_to_long(
        wide, key=["user_id", "day"],
        trend_names=["click", "view", "purchase", "error", "signup"],
    ).filter(F.col("value").isNotNull())


_RESHAPE_LONG_SQL = """
WITH wide AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_type,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2, 3
)
SELECT user_id, day, event_type AS trend, value FROM wide
"""


def _anomaly_prefix_zscore(spark, sf_dir):
    """OP-TRIG (no-lookahead baseline, batch form): each event judged
    against its user's PREFIX stats only (everything strictly before
    it) — the batch twin of the streaming Welford feed, so alerts are
    reproducible offline.  Prefix Σ/Σx² are decimal (exact), one
    shared closing formula; needs >= 10 prior samples and positive
    variance."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    s_ = F.sum(F.col("value").cast("decimal(28,4)")).over(w).cast("double")
    sq = F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)"))         .over(w).cast("double")
    n = F.count("value").over(w).cast("double")
    var = (sq - s_ * s_ / n) / (n - F.lit(1.0))
    z = (F.col("value") - s_ / n) / F.sqrt(var)
    return (ev.select("event_id", "user_id", "value",
                      n.alias("__n"), var.alias("__var"), z.alias("z"))
            .filter((F.col("__n") >= 10.0) & (F.col("__var") > 0.0)
                    & (F.abs(F.col("z")) > 3.0))
            .select("event_id", "user_id", "value", "z"))


_ANOMALY_PREFIX_ZSCORE_SQL = """
WITH f AS (
  SELECT event_id, user_id, value,
         CAST(SUM(CAST(value AS DECIMAL(28,4))) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(value * value AS DECIMAL(28,6))) OVER w AS DOUBLE)
           AS sq,
         CAST(COUNT(value) OVER w AS DOUBLE) AS n
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, value,
       (value - s / n) / sqrt((sq - s * s / n) / (n - 1.0)) AS z
FROM f
WHERE n >= 10.0 AND (sq - s * s / n) / (n - 1.0) > 0.0
  AND abs((value - s / n) / sqrt((sq - s * s / n) / (n - 1.0))) > 3.0
"""



def _notif_escalation(spark, sf_dir):
    """OP-TRIG (escalation): alert only after >= 3 CONSECUTIVE
    threshold breaches per user — single spikes stay un-escalated
    (the reference's trigger weight/severity ladder models one-shot
    rules; consecutive-breach suppression is the standard pager
    hygiene on top).  Runs found by the gaps-and-islands difference of
    two row_numbers over ONE (user, ts, id) sort."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (ev.withColumn("__seq", F.row_number().over(w_all))
           .filter(F.col("value") >= 75.0))
    w_b = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grp = (seq.withColumn("__bseq", F.row_number().over(w_b))
           .withColumn("__grp", F.col("__seq") - F.col("__bseq")))
    runs = (grp.groupBy("user_id", "__grp")
            .agg(F.count("*").alias("run_len"),
                 F.min("ts").alias("run_start"),
                 F.max("ts").alias("run_end")))
    return (runs.filter(F.col("run_len") >= 3)
            .select("user_id", "run_start", "run_end", "run_len"))


_NOTIF_ESCALATION_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS s
  FROM events
),
b AS (
  SELECT user_id, ts,
         s - ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS grp
  FROM seq WHERE value >= 75.0
),
runs AS (
  SELECT user_id, grp, COUNT(*) AS run_len,
         MIN(ts) AS run_start, MAX(ts) AS run_end
  FROM b GROUP BY 1, 2
)
SELECT user_id, CAST(run_start AS TIMESTAMP) AS run_start,
       CAST(run_end AS TIMESTAMP) AS run_end, run_len
FROM runs WHERE run_len >= 3
"""



def _anomaly_mad(spark, sf_dir):
    """OP-TRIG (robust baseline): median-absolute-deviation outlier
    stats per class — the robust twin of anomaly_zscore (a few wild
    values cannot drag the baseline the way they drag mean/stddev).
    Exact percentile both passes (Spark percentile == DuckDB
    quantile_cont, bit-identical interpolation); the 1.4826
    normal-consistency constant is the same double literal in both
    engines.  Two grouped aggs + one broadcast join back — the
    row-level flagging is a scan-local comparison."""
    ev = t(spark, sf_dir, "events")
    med = (ev.groupBy("event_type")
           .agg(F.expr("percentile(value, 0.5)").alias("med")))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("__ad", F.abs(F.col("value") - F.col("med"))))
    mad = (dev.groupBy("event_type")
           .agg(F.first("med").alias("med"),
                F.expr("percentile(__ad, 0.5)").alias("mad")))
    flagged = (dev.join(F.broadcast(mad.select(
        "event_type", F.col("mad").alias("__mad"))), "event_type")
        .filter(F.col("__ad") > 3.0 * 1.4826 * F.col("__mad")))
    out = (flagged.groupBy("event_type")
           .agg(F.count("*").alias("n_outliers")))
    return (mad.join(out, "event_type", "left")
            .select("event_type", "med", "mad",
                    F.coalesce("n_outliers", F.lit(0)).cast("bigint")
                    .alias("n_outliers")))


_ANOMALY_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, abs(e.value - m.med) AS ad, m.med
  FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
  SELECT event_type, MIN(med) AS med,
         quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY 1
),
fl AS (
  SELECT d.event_type, COUNT(*) AS n_outliers
  FROM dev d JOIN mad m ON d.event_type = m.event_type
  WHERE d.ad > 3.0 * 1.4826 * m.mad
  GROUP BY 1
)
SELECT mad.event_type, mad.med, mad.mad,
       COALESCE(fl.n_outliers, 0) AS n_outliers
FROM mad LEFT JOIN fl ON mad.event_type = fl.event_type
"""



def _cohort_retention(spark, sf_dir):
    """OP-NOTIF analytics (cohort retention): users grouped by
    first-activity week; per later week, actives and the fraction of
    the cohort's week-0 size.  Output cardinality = cohorts x weeks —
    tiny at any input scale; one entity-keyed shuffle feeds it."""
    from ..operators.analytics import cohort_retention

    return cohort_retention(t(spark, sf_dir, "events"),
                            entity_col="user_id", bucket="week")


_COHORT_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS b
  FROM events
),
counts AS (
  SELECT f.cohort,
         CAST(date_diff('day', f.cohort, a.b) // 7 AS INTEGER)
           AS bucket_ix,
         COUNT(*) AS n_active
  FROM active a JOIN firsts f ON a.user_id = f.user_id
  GROUP BY 1, 2
)
SELECT cohort, bucket_ix, n_active,
       CAST(n_active AS DOUBLE)
         / CAST(MAX(CASE WHEN bucket_ix = 0 THEN n_active END)
                  OVER (PARTITION BY cohort) AS DOUBLE) AS retention
FROM counts
"""


def _funnel_conversion(spark, sf_dir):
    """OP-NOTIF analytics (ordered funnel): signup -> click ->
    purchase, each step strictly after the previous step's first
    completion.  Single-row counts + step conversions; every join
    after the first shuffle is co-partitioned on user_id."""
    from ..operators.analytics import funnel_conversion

    return funnel_conversion(t(spark, sf_dir, "events"),
                             steps=["signup", "click", "purchase"])


_FUNNEL_CONVERSION_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t0 GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t1 GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
       (SELECT COUNT(*) FROM s2) AS n_click,
       (SELECT COUNT(*) FROM s3) AS n_purchase,
       CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) AS conv_click,
       CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) AS conv_purchase
"""


def _sink_iceberg_eqdelete_roundtrip(spark, sf_dir):
    """OP-SNK blind equality delete (storage/iceberg_write.py:
    equality_delete_iceberg — the Flink/Paimon CDC-upsert delete
    shape): the table holds every event; ONE O(|keys|) commit stages
    the user_ids divisible by 7 as an equality-delete file (no scan,
    no position lookup); a LATER append re-inserts corrected rows
    (value+1000) for the users divisible by 14 — those must SURVIVE
    the earlier delete (sequence-number ordering), which is exactly
    the semantics that separates an equality delete from a filter."""
    from ..storage.iceberg import read_iceberg
    from ..storage.iceberg_write import (equality_delete_iceberg,
                                         write_iceberg)

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_eqdel_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev, base)
    keys = (ev.filter(F.col("user_id") % 7 == 0)
            .select("user_id").distinct())
    equality_delete_iceberg(spark, base, keys)
    corrected = (ev.filter(F.col("user_id") % 14 == 0)
                 .withColumn("value", F.col("value") + 1000))
    write_iceberg(spark, corrected, base)
    return (read_iceberg(spark, base)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SINK_ICEBERG_EQDELETE_ROUNDTRIP_SQL = """
WITH kept AS (
  SELECT event_id, user_id, event_type, value FROM events
  WHERE user_id % 7 <> 0
),
reinserted AS (
  SELECT event_id, user_id, event_type, value + 1000 AS value
  FROM events WHERE user_id % 14 = 0
),
final AS (
  SELECT * FROM kept UNION ALL SELECT * FROM reinserted
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM final GROUP BY 1
"""


def _source_delta_cdf_datasource(spark, sf_dir):
    """OP-SRC change-data-feed through the REGISTERED data source
    (streaming/delta_source.py:_CdfBatchReader — the delta-spark
    ``option("readChangeFeed", "true")`` interface): the same
    two-append + merge-on-read-DELETE table as ``source_delta_cdf``,
    but the feed is read back via
    ``spark.read.format("minerva_delta")`` so the per-commit
    classification (insert adds, DV-diff deletes) runs through the
    executor-side pyarrow path instead of the engine's DataFrames.
    Same oracle: every row inserted once, 'error' rows also deleted
    once."""
    from ..storage.delta import DeltaTable, delete_delta
    from ..streaming.delta_source import register_delta_source

    register_delta_source(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    mid = table_max(spark, sf_dir, "events", "event_id") // 2

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"delta_cdfds_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    dt = DeltaTable(base)
    dt.write(spark, ev.filter(F.col("event_id") <= mid))
    dt.write(spark, ev.filter(F.col("event_id") > mid))
    delete_delta(spark, base, "event_type = 'error'")
    feed = (spark.read.format("minerva_delta")
            .option("readChangeFeed", "true")
            .option("startingVersion", 0).load(base))
    return (feed.groupBy("_change_type", "event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


def _source_iceberg_eqdelete_datasource(spark, sf_dir):
    """OP-SRC equality deletes through the REGISTERED Iceberg source
    (streaming/iceberg_source.py): the same blind-delete-then-
    re-insert table as ``sink_iceberg_eqdelete_roundtrip``, read back
    via ``spark.read.format("minerva_iceberg")`` — each executor task
    null-safe anti-joins its own file's rows against the delete
    parquet with sequence ordering, so the re-inserted rows survive
    there too.  Same oracle as the engine-read twin."""
    from ..storage.iceberg_write import (equality_delete_iceberg,
                                         write_iceberg)
    from ..streaming.iceberg_source import register_iceberg_source

    register_iceberg_source(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")

    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_eqds_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev, base)
    keys = (ev.filter(F.col("user_id") % 7 == 0)
            .select("user_id").distinct())
    equality_delete_iceberg(spark, base, keys)
    corrected = (ev.filter(F.col("user_id") % 14 == 0)
                 .withColumn("value", F.col("value") + 1000))
    write_iceberg(spark, corrected, base)
    return (spark.read.format("minerva_iceberg").load(base)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("users"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


def _stream_iceberg_upsert_parity(spark, sf_dir):
    """OP-STR-INGEST changelog over an Iceberg UPSERT table (the
    consumer half of the Flink/Paimon CDC story;
    streaming/iceberg_source.py `option("changelog","true")`): the
    same blind-equality-delete-then-re-insert table as
    ``sink_iceberg_eqdelete_roundtrip``, tailed as a RETRACTION
    stream.  The feed's SIGNED aggregate must equal the oracle's
    reconstruction of insert/delete traffic computed directly on
    events — the delete rows' PRE-IMAGE values enter net_sum with
    their original values, so a wrong pre-image breaks the hash, not
    just the row count."""
    import uuid as _uuid

    from ..storage.iceberg_write import (equality_delete_iceberg,
                                         write_iceberg)
    from ..streaming.iceberg_source import register_iceberg_source

    register_iceberg_source(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_upsert_cl_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev, base)
    keys = (ev.filter(F.col("user_id") % 7 == 0)
            .select("user_id").distinct())
    equality_delete_iceberg(spark, base, keys)
    corrected = (ev.filter(F.col("user_id") % 14 == 0)
                 .withColumn("value", F.col("value") + 1000))
    write_iceberg(spark, corrected, base)

    sink = f"ice_upsert_cl_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("minerva_iceberg")
         .option("changelog", "true").load(base)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    feed = spark.table(sink)
    ins = F.col("_change_type") == "insert"
    vdec = F.col("value").cast("decimal(28,4)")
    return (feed.groupBy("event_type")
            .agg(F.sum(F.when(ins, 1).otherwise(-1))
                 .cast("bigint").alias("net_n"),
                 F.sum(F.when(ins, vdec).otherwise(-vdec))
                 .cast("decimal(28,4)").cast("double")
                 .alias("net_sum"),
                 F.sum(F.when(ins, 0).otherwise(1))
                 .cast("bigint").alias("del_n")))


_STREAM_ICEBERG_UPSERT_PARITY_SQL = """
WITH feed AS (
  SELECT 'i' AS kind, event_type, value FROM events
  UNION ALL
  SELECT 'i', event_type, value + 1000 FROM events
  WHERE user_id % 14 = 0
  UNION ALL
  SELECT 'd', event_type, value FROM events WHERE user_id % 7 = 0
)
SELECT event_type,
       CAST(SUM(CASE WHEN kind = 'i' THEN 1 ELSE -1 END)
            AS BIGINT) AS net_n,
       CAST(CAST(SUM(CASE WHEN kind = 'i'
                          THEN CAST(value AS DECIMAL(28,4))
                          ELSE -CAST(value AS DECIMAL(28,4)) END)
                 AS DECIMAL(28,4)) AS DOUBLE) AS net_sum,
       CAST(SUM(CASE WHEN kind = 'd' THEN 1 ELSE 0 END)
            AS BIGINT) AS del_n
FROM feed GROUP BY 1
"""


def _stream_avro_ingest_parity(spark, sf_dir):
    """OP-STR-INGEST via the registered `minerva_avro` PYTHON DATA
    SOURCE (streaming/avro_source.py): events land as deflate Avro
    container files (the Kafka-archive drop-directory shape), then a
    Structured Streaming query tails the directory with sorted-name
    offsets — each file shatters into sync-marker byte-range splits
    exactly like the batch path — into a memory sink; the streamed
    aggregate must equal the oracle computed directly on events."""
    import uuid as _uuid

    from ..sources.avro import write_avro
    from ..streaming.avro_source import register_avro_source

    register_avro_source(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"avro_stream_{tag}")
    marker = os.path.join(base, "_COMPLETE")
    key = _fixture_key(sf_dir)
    if not (os.path.exists(marker)
            and open(marker).read() == key):
        shutil.rmtree(base, ignore_errors=True)
        write_avro(ev.repartition(2), base, codec="deflate",
                   block_bytes=2 << 20)
        with open(marker, "w") as fh:
            fh.write(key)
    sink = f"avro_ingest_stream_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("minerva_avro")
         .option("split_bytes", 4 << 20).load(base)
         .groupBy("event_type")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.col("value").cast("decimal(28,4)"))
              .cast("decimal(28,4)").alias("sv"))
         .writeStream.format("memory").queryName(sink)
         .outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    return (spark.table(sink)
            .select("event_type", "n",
                    F.col("sv").cast("double").alias("sum_value")))


_STREAM_AVRO_INGEST_PARITY_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _source_avro_zstd_roundtrip(spark, sf_dir):
    """OP-SRC-PLUGIN zstandard roundtrip (r8 verdict #6): events as
    a ZSTANDARD Avro container (bare zstd frames per the Avro 1.11
    required-codec set, decompressed through the frame header's
    content size — storage/avro_file.py:_zstd), read back through
    byte-range splits and re-aggregated against the parquet
    oracle."""
    from ..sources.avro import read_avro, write_avro

    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"avro_zstd_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_avro(ev.repartition(2), base, codec="zstandard",
               block_bytes=2 << 20)
    df = read_avro(spark, base, split_bytes=4 << 20)
    return (df.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id"),
                 F.sum(F.col("value").cast("decimal(28,4)"))
                 .cast("decimal(28,4)").cast("double")
                 .alias("sum_value")))


_SOURCE_AVRO_ZSTD_ROUNDTRIP_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DECIMAL(28,4))
            AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _stream_iceberg_pruned_delete_parity(spark, sf_dir):
    """OP-STR-INGEST changelog with MANIFEST-BOUNDS pruning live (r8
    verdict #3): three appends with DISJOINT event_id ranges, then
    one equality delete whose keys live only in the middle range —
    the delete epoch plans pre-image partitions only for files its
    key bounds overlap (plan-size proven in
    tests/test_iceberg_source.py), and the feed's SIGNED aggregate
    must still reconstruct the oracle's insert/delete traffic
    exactly (wrong pruning would drop pre-images and break the
    hash)."""
    import uuid as _uuid

    from ..storage.iceberg_write import (equality_delete_iceberg,
                                         write_iceberg)
    from ..streaming.iceberg_source import register_iceberg_source

    register_iceberg_source(spark)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    hi = table_max(spark, sf_dir, "events", "event_id")
    a, b = hi // 3, 2 * hi // 3
    tag = _scratch_tag(sf_dir)
    base = os.path.join(_SCRATCH, f"iceberg_pruned_cl_{tag}")
    shutil.rmtree(base, ignore_errors=True)
    write_iceberg(spark, ev.filter(F.col("event_id") < a), base)
    write_iceberg(spark, ev.filter((F.col("event_id") >= a)
                                   & (F.col("event_id") < b)), base)
    write_iceberg(spark, ev.filter(F.col("event_id") >= b), base)
    keys = (ev.filter((F.col("event_id") >= a)
                      & (F.col("event_id") < b)
                      & (F.col("event_id") % 97 == 0))
            .select("event_id"))
    equality_delete_iceberg(spark, base, keys)

    sink = f"ice_pruned_cl_{_uuid.uuid4().hex[:8]}"
    q = (spark.readStream.format("minerva_iceberg")
         .option("changelog", "true").load(base)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    feed = spark.table(sink)
    ins = F.col("_change_type") == "insert"
    vdec = F.col("value").cast("decimal(28,4)")
    return (feed.groupBy("event_type")
            .agg(F.sum(F.when(ins, 1).otherwise(-1))
                 .cast("bigint").alias("net_n"),
                 F.sum(F.when(ins, vdec).otherwise(-vdec))
                 .cast("decimal(28,4)").cast("double")
                 .alias("net_sum"),
                 F.sum(F.when(ins, 0).otherwise(1))
                 .cast("bigint").alias("del_n")))


_STREAM_ICEBERG_PRUNED_DELETE_PARITY_SQL = """
WITH hi AS (SELECT MAX(event_id) AS h FROM events),
feed AS (
  SELECT 'i' AS kind, event_type, value FROM events
  UNION ALL
  SELECT 'd', event_type, value FROM events, hi
  WHERE event_id >= h // 3 AND event_id < 2 * h // 3
    AND event_id % 97 = 0
)
SELECT event_type,
       CAST(SUM(CASE WHEN kind = 'i' THEN 1 ELSE -1 END)
            AS BIGINT) AS net_n,
       CAST(CAST(SUM(CASE WHEN kind = 'i'
                          THEN CAST(value AS DECIMAL(28,4))
                          ELSE -CAST(value AS DECIMAL(28,4)) END)
                 AS DECIMAL(28,4)) AS DOUBLE) AS net_sum,
       CAST(SUM(CASE WHEN kind = 'd' THEN 1 ELSE 0 END)
            AS BIGINT) AS del_n
FROM feed GROUP BY 1
"""


QUERIES = [
    DeclaredQuery("source_avro_zstd_roundtrip", _source_avro_zstd_roundtrip, _SOURCE_AVRO_ZSTD_ROUNDTRIP_SQL, "OP-SRC-PLUGIN (Avro zstandard codec roundtrip through byte-range splits)"),
    DeclaredQuery("stream_iceberg_pruned_delete_parity", _stream_iceberg_pruned_delete_parity, _STREAM_ICEBERG_PRUNED_DELETE_PARITY_SQL, "OP-STR-INGEST (Iceberg changelog with manifest-bounds delete-epoch pruning)"),
    DeclaredQuery("stream_iceberg_upsert_parity", _stream_iceberg_upsert_parity, _STREAM_ICEBERG_UPSERT_PARITY_SQL, "OP-STR-INGEST/OP-SRC (Iceberg upsert-table changelog streaming consumer)"),
    DeclaredQuery("stream_avro_ingest_parity", _stream_avro_ingest_parity, _STREAM_AVRO_INGEST_PARITY_SQL, "OP-STR-INGEST/OP-SRC-PLUGIN (registered Avro data source: streaming directory tail over byte-range splits)"),
    DeclaredQuery("reshape_wide", _reshape_wide, _RESHAPE_WIDE_SQL, "OP-TYPE/loader pivot"),
    DeclaredQuery("reshape_long", _reshape_long, _RESHAPE_LONG_SQL, "OP-TYPE/loader unpivot"),
    DeclaredQuery("trigger_threshold", _trigger_threshold, _TRIGGER_THRESHOLD_SQL, "OP-TRIG-THRESH"),
    DeclaredQuery("anomaly_zscore", _anomaly_zscore, _ANOMALY_ZSCORE_SQL, "OP-TRIG (dynamic z-score baseline)"),
    DeclaredQuery("notif_window_count", _notif_window_count, _NOTIF_WINDOW_COUNT_SQL, "OP-NOTIF-QUERY"),
    DeclaredQuery("events_sessionize", _events_sessionize, _EVENTS_SESSIONIZE_SQL, "EXT-SESS/OP-STR-SESSION"),
    DeclaredQuery("events_session_window", _events_session_window, _EVENTS_SESSION_WINDOW_SQL, "OP-STR-SESSION (native)"),
    DeclaredQuery("upsert_last_wins", _upsert_last_wins, _UPSERT_LAST_WINS_SQL, "OP-SNK-UPSERT"),
    DeclaredQuery("upsert_merge_table", _upsert_merge_table, _UPSERT_LAST_WINS_SQL, "OP-SNK-UPSERT (snapshot MERGE)"),
    DeclaredQuery("sink_delta_roundtrip", _sink_delta_roundtrip, _SINK_DELTA_ROUNDTRIP_SQL, "OP-SNK/OP-SRC (Delta-protocol commit + log-replay read)"),
    DeclaredQuery("sink_iceberg_roundtrip", _sink_iceberg_roundtrip, _SINK_ICEBERG_ROUNDTRIP_SQL, "OP-SNK/OP-SRC (Iceberg v2 fast-append + manifest-replay read)"),
    DeclaredQuery("sink_delta_dv_roundtrip", _sink_delta_dv_roundtrip, _SINK_DELTA_DV_ROUNDTRIP_SQL, "OP-SNK (Delta merge-on-read DELETE via deletion vectors)"),
    DeclaredQuery("source_delta_cdf", _source_delta_cdf, _SOURCE_DELTA_CDF_SQL, "OP-SRC (Delta change-data-feed read, derived from commit actions)"),
    DeclaredQuery("source_avro_roundtrip", _source_avro_roundtrip, _SOURCE_AVRO_ROUNDTRIP_SQL, "OP-SRC-PLUGIN (Avro sink + vectorized block decode)"),
    DeclaredQuery("avro_ingest", _avro_ingest, _AVRO_INGEST_SQL, "OP-SRC-PLUGIN (Avro deflate ingest through sync-marker byte-range splits)"),
    DeclaredQuery("sink_delta_merge_roundtrip", _sink_delta_merge_roundtrip, _SINK_DELTA_MERGE_ROUNDTRIP_SQL, "OP-SNK (Delta MERGE INTO: merge-on-read update + insert)"),
    DeclaredQuery("source_delta_cdf_update", _source_delta_cdf_update, _SOURCE_DELTA_CDF_UPDATE_SQL, "OP-SRC (Delta CDF write path: UPDATE pre/post images via cdc actions)"),
    DeclaredQuery("source_iceberg_incremental", _source_iceberg_incremental, _SOURCE_ICEBERG_INCREMENTAL_SQL, "OP-SRC (Iceberg incremental append scan between snapshots)"),
    DeclaredQuery("sink_iceberg_merge_roundtrip", _sink_iceberg_merge_roundtrip, _SINK_ICEBERG_MERGE_ROUNDTRIP_SQL, "OP-SNK (Iceberg merge-on-read UPDATE + MERGE INTO)"),
    DeclaredQuery("source_delta_cdf_datasource", _source_delta_cdf_datasource, _SOURCE_DELTA_CDF_SQL, "OP-SRC (registered data source readChangeFeed — delta-spark CDF interface)"),
    DeclaredQuery("source_iceberg_eqdelete_datasource", _source_iceberg_eqdelete_datasource, _SINK_ICEBERG_EQDELETE_ROUNDTRIP_SQL, "OP-SRC (registered Iceberg source applying equality deletes executor-side)"),
    DeclaredQuery("sink_iceberg_eqdelete_roundtrip", _sink_iceberg_eqdelete_roundtrip, _SINK_ICEBERG_EQDELETE_ROUNDTRIP_SQL, "OP-SNK (Iceberg blind equality delete + sequence-ordered re-insert)"),
    DeclaredQuery("sink_iceberg_days_partitioned", _sink_iceberg_days_partitioned, _SINK_ICEBERG_DAYS_PARTITIONED_SQL, "OP-SNK/OP-SRC (Iceberg days(ts) partition transform + transformed-domain pruning)"),
    DeclaredQuery("sink_iceberg_zorder_partitioned", _sink_iceberg_zorder_partitioned, _SINK_ICEBERG_ZORDER_PARTITIONED_SQL, "OP-SNK/OP-SRC + maintenance (per-partition OPTIMIZE ZORDER BY on a partitioned Iceberg spec)"),
    DeclaredQuery("sink_delta_replace_where", _sink_delta_replace_where, _SINK_DELTA_REPLACE_WHERE_SQL, "OP-SNK (Delta replaceWhere: atomic predicate-scoped overwrite)"),
    DeclaredQuery("stream_delta_source_parity", _stream_delta_source_parity, _STREAM_DELTA_SOURCE_PARITY_SQL, "OP-STR-INGEST (registered Python data source tailing the Delta log)"),
    DeclaredQuery("table_changes", _table_changes, _TABLE_CHANGES_SQL, "OP-SNK (snapshot change feed / CDC)"),
    DeclaredQuery("cdc_incremental_agg", _cdc_incremental_agg, _CDC_INCREMENTAL_AGG_SQL, "OP-MAT-INC (CDC-maintained aggregate)"),
    DeclaredQuery("anomaly_prefix_zscore", _anomaly_prefix_zscore, _ANOMALY_PREFIX_ZSCORE_SQL, "OP-TRIG (no-lookahead prefix baseline)"),
    DeclaredQuery("notif_escalation", _notif_escalation, _NOTIF_ESCALATION_SQL, "OP-TRIG (consecutive-breach escalation)"),
    DeclaredQuery("anomaly_mad", _anomaly_mad, _ANOMALY_MAD_SQL, "OP-TRIG (robust MAD baseline)"),
    DeclaredQuery("cohort_retention", _cohort_retention, _COHORT_RETENTION_SQL, "OP-NOTIF (cohort retention)"),
    DeclaredQuery("funnel_conversion", _funnel_conversion, _FUNNEL_CONVERSION_SQL, "OP-NOTIF (ordered funnel)"),
]


def _notif_storm_collapse(spark, sf_dir):
    """Alert-storm suppression: consecutive threshold breaches per
    entity closer than a 15-minute cooldown collapse into ONE storm
    row (first/last breach time, count, peak) — the noise-suppression
    pass a notification sink runs before paging.  Gaps-and-islands on
    the breach stream: lag → new-storm flag → running sum as storm id
    (two windows sharing one entity sort), then a hash agg.  Linear
    per entity, single shuffle."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    breaches = ev.filter(F.col("value") > 75.0).select(
        "user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w))
    flagged = breaches.withColumn(
        "new_storm",
        F.when(gap_us.isNull() | (gap_us > 15 * 60 * 1_000_000), 1)
        .otherwise(0))
    storms = flagged.withColumn(
        "storm_id",
        F.sum("new_storm").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (storms.groupBy("user_id", "storm_id")
            .agg(F.min("ts").alias("storm_start"),
                 F.max("ts").alias("storm_end"),
                 F.count("*").alias("n_alerts"),
                 F.max("value").alias("peak_value")))


_NOTIF_STORM_COLLAPSE_SQL = """
WITH breaches AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
  FROM events WHERE value > 75.0
),
flagged AS (
  SELECT *,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 900000000
              THEN 1 ELSE 0 END AS new_storm
  FROM breaches
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
storms AS (
  SELECT *,
         CAST(SUM(new_storm)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS storm_id
  FROM flagged
)
SELECT user_id, storm_id,
       MIN(ts) AS storm_start, MAX(ts) AS storm_end,
       COUNT(*) AS n_alerts, MAX(value) AS peak_value
FROM storms GROUP BY 1, 2
"""


def _store_staleness(spark, sf_dir):
    """Trend-store freshness report: per entity, the last sample time,
    its age against the store's high-water mark, and a staleness tier
    (fresh < 1 d, stale < 7 d, else dead) — the health check run
    before trusting a materialized store.  Per-entity agg, then the
    global high-water mark joined back as a broadcast scalar (no
    second pass over the facts)."""
    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"), F.count("*").alias("samples"))
    hwm = per.agg(F.max("last_seen").alias("hwm"))
    age_us = F.unix_micros(F.col("hwm")) - F.unix_micros(F.col("last_seen"))
    tier = (F.when(age_us < F.lit(86_400_000_000), "fresh")
            .when(age_us < F.lit(7 * 86_400_000_000), "stale")
            .otherwise("dead"))
    return (per.crossJoin(F.broadcast(hwm))
            .select("user_id", "last_seen", "samples",
                    age_us.alias("age_us"), tier.alias("staleness")))


_STORE_STALENESS_SQL = """
WITH per AS (
  SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
         COUNT(*) AS samples
  FROM events GROUP BY 1
),
h AS (SELECT MAX(last_seen) AS hwm FROM per)
SELECT user_id, last_seen, samples,
       epoch_us(hwm) - epoch_us(last_seen) AS age_us,
       CASE WHEN epoch_us(hwm) - epoch_us(last_seen) < 86400000000
              THEN 'fresh'
            WHEN epoch_us(hwm) - epoch_us(last_seen) < 604800000000
              THEN 'stale'
            ELSE 'dead' END AS staleness
FROM per, h
"""


QUERIES.extend([
    DeclaredQuery("notif_storm_collapse", _notif_storm_collapse, _NOTIF_STORM_COLLAPSE_SQL, "OP-TRIG/OP-NOTIF (alert-storm suppression)"),
    DeclaredQuery("store_staleness", _store_staleness, _STORE_STALENESS_SQL, "OP-RPT (store freshness / high-water mark)"),
])


def _anomaly_cusum(spark, sf_dir):
    """CUSUM change-point detection per entity: one-sided cumulative
    sum of deviations from the entity baseline, reset-at-zero.  The
    textbook recursive reset S+_n = max(0, S+_{n-1} + dev_n) equals
    the window-expressible cumsum(dev) - running_min(cumsum(dev)) —
    the drawdown identity — so no recursive state is needed: two
    frames over ONE entity sort.  Baseline mean/std come from exact
    decimal partials (cross-engine bit parity); the running double
    sums then accumulate in the identical (ts, event_id) order on
    both engines.  Flags S+ > 5σ."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    s = F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
    sq = F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)")) \
        .cast("double")
    n = F.count("value").cast("double")
    base = (ev.groupBy("user_id")
            .agg(s.alias("s"), sq.alias("sq"), n.alias("n"))
            .select("user_id",
                    (F.col("s") / F.col("n")).alias("mean"),
                    F.sqrt((F.col("sq") - F.col("s") * F.col("s")
                            / F.col("n")) / (F.col("n") - F.lit(1.0)))
                    .alias("std")))
    joined = ev.join(F.broadcast(base), "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # deviations staged in decimal: window SUM association differs
    # across engines (segment tree vs sequential), so the running sum
    # must be exact, not floating
    dev = (F.col("value") - F.col("mean")).cast("decimal(28,10)")
    # narrow the running sum back to (28,10) before subtracting: a
    # (38,10) - (38,10) would overflow precision 38 and Spark trims
    # the SCALE to fit (silent 9-dp truncation)
    cum = F.sum(dev).over(run).cast("decimal(28,10)")
    cusum_pos = (cum - F.min(cum).over(run)).cast("double")
    return joined.select(
        "event_id", "user_id",
        cusum_pos.alias("cusum_pos"),
        (cusum_pos > F.lit(5.0) * F.col("std")).alias("is_shift"))


_ANOMALY_CUSUM_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
           / CAST(COUNT(value) AS DOUBLE) AS mean,
         sqrt((CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE)
               - CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 * CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE)
                 / CAST(COUNT(value) AS DOUBLE))
              / (CAST(COUNT(value) AS DOUBLE) - 1.0)) AS std
  FROM events GROUP BY 1
),
cum AS (
  SELECT e.event_id, e.user_id, e.ts, b.std,
         CAST(SUM(CAST(e.value - b.mean AS DECIMAL(28,10))) OVER w
              AS DECIMAL(28,10)) AS cum
  FROM events e JOIN base b ON e.user_id = b.user_id
  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT event_id, user_id, std,
         CAST(cum - MIN(cum) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)
              AS DOUBLE) AS cusum_pos
  FROM cum
)
SELECT event_id, user_id, cusum_pos, cusum_pos > 5.0 * std AS is_shift
FROM c
"""


def _path_signatures(spark, sf_dir):
    """Top user journeys: the ordered first-5-event-type path per
    entity, counted across entities — the notification-store "what do
    sessions look like" report.  Ordered collect over an explicit
    window frame (groupBy collect_list order is NOT guaranteed —
    the frame-ordered form is), then one small agg on the path
    string."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 5))
    wf = (Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    paths = (firstk
             .withColumn("path", F.array_join(
                 F.collect_list("event_type").over(wf), ">"))
             .select("user_id", "path").distinct())
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_users"))
            .filter(F.col("n_users") >= 2))


_PATH_SIGNATURES_SQL = """
WITH firstk AS (
  SELECT user_id, event_type, ts, event_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
        FROM events) s
  WHERE rn <= 5
),
paths AS (
  SELECT user_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM firstk GROUP BY 1
)
SELECT path, COUNT(*) AS n_users
FROM paths GROUP BY 1 HAVING COUNT(*) >= 2
"""


QUERIES.extend([
    DeclaredQuery("anomaly_cusum", _anomaly_cusum, _ANOMALY_CUSUM_SQL, "OP-TRIG (CUSUM change-point, reset-free form)"),
    DeclaredQuery("path_signatures", _path_signatures, _PATH_SIGNATURES_SQL, "OP-NOTIF (top user journeys)"),
])


def _trend_fit(spark, sf_dir):
    """Per-entity linear trend (OLS closed form): slope per day and
    intercept of value over time — the namesake "trend" estimator a
    capacity planner runs over every counter.  All five sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) are decimal-exact and mergeable
    (one map-side-combinable hash agg; re-aggs across partials like
    any Minerva partial), and the closed-form division is one
    identical double expression in both engines.  x is measured in
    days since 2024-01-01 so slope reads as value/day (and the
    intercept as the fitted value at that origin)."""
    ev = t(spark, sf_dir, "events")
    # x centered at 2024-01-01: with raw epoch days (~2e4) the
    # denominator n*Sxx - Sx**2 is a catastrophic cancellation and a
    # single-ulp cross-engine cast difference explodes; centered, the
    # relative error stays ~1e-16 and the 9-dp round is safe
    x = ((F.unix_micros(F.col("ts")) - F.lit(1_704_067_200_000_000))
         .cast("double") / F.lit(86_400_000_000.0))
    y = F.col("value")
    n = F.count("*").cast("double")
    sx = F.sum(x.cast("decimal(28,10)")).cast("double")
    sy = F.sum(y.cast("decimal(28,4)")).cast("double")
    sxy = F.sum((x * y).cast("decimal(28,6)")).cast("double")
    sxx = F.sum((x * x).cast("decimal(28,6)")).cast("double")
    agg = ev.groupBy("user_id").agg(
        n.alias("n"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return agg.select(
        "user_id",
        F.col("n").cast("bigint").alias("samples"),
        F.round(slope, 9).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"))


_TREND_FIT_SQL = """
WITH p AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                             - 1704067200000000 AS DOUBLE)
                       / 86400000000.0
                       AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST((CAST(epoch_us(CAST(ts AS TIMESTAMP))
                             - 1704067200000000 AS DOUBLE)
                        / 86400000000.0)
                       * value AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST((CAST(epoch_us(CAST(ts AS TIMESTAMP))
                             - 1704067200000000 AS DOUBLE)
                        / 86400000000.0)
                       * (CAST(epoch_us(CAST(ts AS TIMESTAMP))
                               - 1704067200000000 AS DOUBLE)
                          / 86400000000.0)
                       AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM events GROUP BY 1
)
SELECT user_id,
       CAST(n AS BIGINT) AS samples,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
         AS slope_per_day,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM p
"""


def _clean_winsorize(spark, sf_dir):
    """Winsorization (outlier clipping for training-data cleaning):
    clip each value to its class's exact [p05, p95] — two-pass: exact
    interpolated percentiles per class (one hash agg), broadcast back,
    scan-local clamp.  Spark's exact percentile and DuckDB's
    quantile_cont share the interpolation formula bit-for-bit (same
    pairing as agg_percentiles)."""
    ev = t(spark, sf_dir, "events")
    lims = (ev.groupBy("event_type")
            .agg(F.expr("percentile(value, 0.05)").alias("lo"),
                 F.expr("percentile(value, 0.95)").alias("hi")))
    return (ev.join(F.broadcast(lims), "event_type")
            .select("event_id", "event_type", "value",
                    F.least(F.greatest(F.col("value"), F.col("lo")),
                            F.col("hi")).alias("value_winsorized"),
                    ((F.col("value") < F.col("lo"))
                     | (F.col("value") > F.col("hi"))).alias("was_clipped")))


_CLEAN_WINSORIZE_SQL = """
WITH lims AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, l.lo), l.hi) AS value_winsorized,
       e.value < l.lo OR e.value > l.hi AS was_clipped
FROM events e JOIN lims l USING (event_type)
"""


QUERIES.extend([
    DeclaredQuery("trend_fit", _trend_fit, _TREND_FIT_SQL, "OP-AGG (per-entity OLS trend, mergeable sufficient stats)"),
    DeclaredQuery("clean_winsorize", _clean_winsorize, _CLEAN_WINSORIZE_SQL, "EXT-TEXT/OP-AGG (winsorized outlier clipping)"),
])


def _rfm_segmentation(spark, sf_dir):
    """RFM segmentation: per-entity Recency (days since last event,
    vs the store high-water mark), Frequency (events), Monetary
    (decimal-exact value sum), each scored into quintiles by ntile
    over a TOTAL order (metric, user_id — ties would otherwise make
    ntile nondeterministic), concatenated to the familiar '5-3-1'
    segment label.  One pass for the per-entity stats, one 150-row
    window pass for the scores — window input is |entities|, not
    |events|."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").alias("frequency"),
        F.sum(F.col("value").cast("decimal(28,4)")).cast("double")
        .alias("monetary"))
    hwm = per.agg(F.max("last_seen").alias("hwm"))
    rec = per.crossJoin(F.broadcast(hwm)).withColumn(
        "recency_days",
        F.floor((F.unix_micros("hwm") - F.unix_micros("last_seen"))
                / F.lit(86_400_000_000)).cast("int"))
    r_w = Window.orderBy(F.col("recency_days").asc(), F.col("user_id"))
    f_w = Window.orderBy(F.col("frequency").desc(), F.col("user_id"))
    m_w = Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
    scored = (rec.withColumn("r_score", F.ntile(5).over(r_w))
              .withColumn("f_score", F.ntile(5).over(f_w))
              .withColumn("m_score", F.ntile(5).over(m_w)))
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary",
        "r_score", "f_score", "m_score",
        F.concat_ws("-", "r_score", "f_score", "m_score").alias("segment"))


_RFM_SEGMENTATION_SQL = """
WITH per AS (
  SELECT user_id,
         MAX(CAST(ts AS TIMESTAMP)) AS last_seen,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS monetary
  FROM events GROUP BY 1
),
h AS (SELECT MAX(last_seen) AS hwm FROM per),
rec AS (
  SELECT per.*, CAST(floor((epoch_us(hwm) - epoch_us(last_seen))
                           / 86400000000) AS INTEGER) AS recency_days
  FROM per, h
),
scored AS (
  SELECT *,
         NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
         NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m_score
  FROM rec
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       concat_ws('-', r_score, f_score, m_score) AS segment
FROM scored
"""


QUERIES.append(
    DeclaredQuery("rfm_segmentation", _rfm_segmentation,
                  _RFM_SEGMENTATION_SQL,
                  "OP-RPT (RFM quintile segmentation)"))


def _agg_autocorr_lag1(spark, sf_dir):
    """Lag-1 autocorrelation per entity — the cheap seasonality /
    trend-persistence detector (near +1: smooth drift, near 0: noise,
    negative: oscillation).  Pairs (x_t, x_{t-1}) come from one lag
    over the entity sort; the Pearson correlation over the pairs is
    then computed from decimal-exact sufficient statistics with one
    identical double formula in both engines (the agg_corr_exact
    pattern, applied to the self-lagged series)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", F.col("value").alias("x"),
                       F.lag("value").over(w).alias("y"))
             .filter(F.col("y").isNotNull()))
    n = F.count("*").cast("double")
    sx = F.sum(F.col("x").cast("decimal(28,4)")).cast("double")
    sy = F.sum(F.col("y").cast("decimal(28,4)")).cast("double")
    sxy = F.sum((F.col("x") * F.col("y")).cast("decimal(38,6)")) \
        .cast("double")
    sxx = F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)")) \
        .cast("double")
    syy = F.sum((F.col("y") * F.col("y")).cast("decimal(38,6)")) \
        .cast("double")
    agg = pairs.groupBy("user_id").agg(
        n.alias("n"), sx.alias("sx"), sy.alias("sy"),
        sxy.alias("sxy"), sxx.alias("sxx"), syy.alias("syy"))
    r = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                  * (F.col("n") * F.col("syy")
                     - F.col("sy") * F.col("sy"))))
    return agg.select(
        "user_id", F.col("n").cast("bigint").alias("n_pairs"),
        F.round(r, 9).alias("autocorr_lag1"))


_AGG_AUTOCORR_LAG1_SQL = """
WITH pairs AS (
  SELECT user_id, value AS x,
         LAG(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS y
  FROM events
),
p AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
  FROM pairs WHERE y IS NOT NULL
  GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9)
         AS autocorr_lag1
FROM p
"""


def _events_burstiness(spark, sf_dir):
    """Burstiness (index of dispersion): variance/mean of the
    per-minute event counts per entity — 1.0 for a Poisson arrival
    process, > 1 bursty, < 1 metronomic.  Two cheap aggs: minute
    counts (one shuffle on entity+minute), then decimal-exact
    mean/variance of those counts per entity.  Minutes with zero
    events are excluded (observed-minute dispersion) — stated in the
    contract so both engines agree."""
    ev = t(spark, sf_dir, "events")
    per_min = (ev.groupBy("user_id",
                          F.date_trunc("minute", "ts").alias("m"))
               .agg(F.count("*").alias("c")))
    n = F.count("*").cast("double")
    s = F.sum(F.col("c").cast("decimal(28,0)")).cast("double")
    sq = F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)")) \
        .cast("double")
    agg = per_min.groupBy("user_id").agg(
        n.alias("n"), s.alias("s"), sq.alias("sq"))
    mean = F.col("s") / F.col("n")
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) \
        / (F.col("n") - F.lit(1.0))
    return agg.select(
        "user_id",
        F.col("n").cast("bigint").alias("active_minutes"),
        F.round(mean, 9).alias("mean_per_minute"),
        F.round(var / mean, 9).alias("dispersion"))


_EVENTS_BURSTINESS_SQL = """
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(c AS DECIMAL(28,0))) AS DOUBLE) AS s,
         CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS sq
  FROM per_min GROUP BY 1
)
SELECT user_id,
       CAST(n AS BIGINT) AS active_minutes,
       ROUND(s / n, 9) AS mean_per_minute,
       ROUND(((sq - s * s / n) / (n - 1.0)) / (s / n), 9) AS dispersion
FROM p
"""


QUERIES.extend([
    DeclaredQuery("agg_autocorr_lag1", _agg_autocorr_lag1, _AGG_AUTOCORR_LAG1_SQL, "OP-AGG (lag-1 autocorrelation, decimal sufficient stats)"),
    DeclaredQuery("events_burstiness", _events_burstiness, _EVENTS_BURSTINESS_SQL, "OP-AGG (arrival burstiness / index of dispersion)"),
])


def _intervals_merge(spark, sf_dir):
    """Interval coalescing (downtime/maintenance-window merging):
    each event opens a 5-minute interval [ts, ts+5m); overlapping or
    touching intervals per entity merge into one row with the merged
    span and the number of source intervals.  Classic islands: a new
    island starts where the interval start exceeds the running max of
    previous ends (decimal-free integer µs — exact), then one hash
    agg per island.  Two frames over one entity sort, linear."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (F.unix_micros(F.col("ts")) + F.lit(300_000_000)).alias("e"),
        "event_id")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1)
        .otherwise(0))
    isl = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (isl.groupBy("user_id", "island")
            .agg(F.min("s").alias("span_start_us"),
                 F.max("e").alias("span_end_us"),
                 F.count("*").alias("n_intervals"))
            .select("user_id",
                    F.col("island").cast("bigint").alias("island"),
                    "span_start_us", "span_end_us", "n_intervals"))


_INTERVALS_MERGE_SQL = """
WITH iv AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e,
         event_id
  FROM events
),
flagged AS (
  SELECT *,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id
                                    ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
isl AS (
  SELECT *, CAST(SUM(new_island)
                 OVER (PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS island
  FROM flagged
)
SELECT user_id, island,
       MIN(s) AS span_start_us, MAX(e) AS span_end_us,
       COUNT(*) AS n_intervals
FROM isl GROUP BY 1, 2
"""


def _peak_concurrency(spark, sf_dir):
    """Per-entity peak concurrency: the maximum number of
    simultaneously-open 5-minute event intervals — the sweep-line
    difference-array again (±1 at open/close, running sum in event
    order, then MAX), but per entity: the running sum partitions by
    user, so the whole op is one entity shuffle + two linear frames
    and a hash agg.  Ends sort before starts at the same instant
    (half-open intervals)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    s_us = F.unix_micros(F.col("ts"))
    opens = ev.select("user_id", s_us.alias("t"), F.lit(1).alias("d"))
    closes = ev.select("user_id", (s_us + F.lit(300_000_000)).alias("t"),
                       F.lit(-1).alias("d"))
    deltas = opens.unionByName(closes)
    w = (Window.partitionBy("user_id").orderBy("t", "d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    running = deltas.withColumn("open_now", F.sum("d").over(w))
    return (running.groupBy("user_id")
            .agg(F.max("open_now").cast("bigint").alias("peak_concurrent"),
                 (F.count("*") / 2).cast("bigint").alias("n_intervals")))


_PEAK_CONCURRENCY_SQL = """
WITH deltas AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, 1 AS d
  FROM events
  UNION ALL
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS t,
         -1 AS d
  FROM events
),
running AS (
  SELECT user_id,
         SUM(d) OVER (PARTITION BY user_id ORDER BY t, d
                      ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS open_now
  FROM deltas
)
SELECT user_id,
       CAST(MAX(open_now) AS BIGINT) AS peak_concurrent,
       CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
FROM running GROUP BY 1
"""


QUERIES.extend([
    DeclaredQuery("intervals_merge", _intervals_merge, _INTERVALS_MERGE_SQL, "OP-WIN (interval coalescing / islands)"),
    DeclaredQuery("peak_concurrency", _peak_concurrency, _PEAK_CONCURRENCY_SQL, "OP-AGG (per-entity sweep-line peak concurrency)"),
])


def _interarrival_percentiles(spark, sf_dir):
    """Inter-arrival gap distribution per entity (p50/p95 seconds
    between consecutive events + coefficient-of-variation-free mean)
    — the capacity/heartbeat metric that sizes watermarks and session
    gaps.  One lag over the entity sort produces integer-µs gaps;
    exact interpolated percentiles per entity reuse the verified
    percentile pairing."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = (ev.select("user_id",
                      (us - F.lag(us).over(w)).alias("gap_us"))
            .filter(F.col("gap_us").isNotNull()))
    g = F.col("gap_us").cast("double")
    return (gaps.groupBy("user_id")
            .agg(F.expr("percentile(CAST(gap_us AS DOUBLE), 0.5)")
                 .alias("p50_gap_us"),
                 F.expr("percentile(CAST(gap_us AS DOUBLE), 0.95)")
                 .alias("p95_gap_us"),
                 F.max(g).alias("max_gap_us"),
                 F.count("*").alias("n_gaps")))


_INTERARRIVAL_PERCENTILES_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP))
           - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       quantile_cont(CAST(gap_us AS DOUBLE), 0.5) AS p50_gap_us,
       quantile_cont(CAST(gap_us AS DOUBLE), 0.95) AS p95_gap_us,
       MAX(CAST(gap_us AS DOUBLE)) AS max_gap_us,
       COUNT(*) AS n_gaps
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY 1
"""


QUERIES.append(
    DeclaredQuery("interarrival_percentiles", _interarrival_percentiles,
                  _INTERARRIVAL_PERCENTILES_SQL,
                  "OP-WIN/OP-AGG (inter-arrival gap distribution)"))


def _report_week_movers(spark, sf_dir):
    """Week-over-week movers: entities ranked by absolute change in
    weekly decimal-exact value sum, top 10 — the "what changed"
    report.  Weekly partials (one hash agg), lag over the per-entity
    week series, then a global top-k that compiles to
    TakeOrderedAndProject (never a full sort)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    weekly = (ev.groupBy("user_id",
                         F.date_trunc("week", "ts").alias("week"))
              .agg(F.sum(F.col("value").cast("decimal(28,4)"))
                   .alias("wsum")))
    w = Window.partitionBy("user_id").orderBy("week")
    delta = (weekly
             .withColumn("prev", F.lag("wsum").over(w))
             .filter(F.col("prev").isNotNull())
             .select("user_id", "week",
                     F.col("wsum").cast("double").alias("this_week"),
                     F.col("prev").cast("double").alias("prev_week"),
                     (F.col("wsum") - F.col("prev")).cast("double")
                     .alias("delta")))
    return (delta.orderBy(F.abs(F.col("delta")).desc(),
                          "user_id", "week")
            .limit(10))


_REPORT_WEEK_MOVERS_SQL = """
WITH weekly AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         SUM(CAST(value AS DECIMAL(28,4))) AS wsum
  FROM events GROUP BY 1, 2
),
delta AS (
  SELECT user_id, week,
         CAST(wsum AS DOUBLE) AS this_week,
         CAST(LAG(wsum) OVER w AS DOUBLE) AS prev_week,
         CAST(wsum - LAG(wsum) OVER w AS DOUBLE) AS delta
  FROM weekly
  WINDOW w AS (PARTITION BY user_id ORDER BY week)
)
SELECT user_id, week, this_week, prev_week, delta
FROM delta WHERE prev_week IS NOT NULL
ORDER BY abs(delta) DESC, user_id, week
LIMIT 10
"""


QUERIES.append(
    DeclaredQuery("report_week_movers", _report_week_movers,
                  _REPORT_WEEK_MOVERS_SQL,
                  "OP-RPT/OP-WIN (week-over-week top movers)"))
