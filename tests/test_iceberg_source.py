"""The registered `minerva_iceberg` Python data source: batch parity
with read_iceberg (snapshot/ref time travel, delete-file refusal) and
the streaming source whose offsets are snapshot ids (incremental
append scan semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from python_minerva_etl_spark.storage.iceberg import (IcebergTable,
                                                      read_iceberg)
from python_minerva_etl_spark.storage.iceberg_write import (
    delete_iceberg, tag_iceberg, write_iceberg)
from python_minerva_etl_spark.streaming.iceberg_source import (
    register_iceberg_source)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def ice_spark(spark):
    register_iceberg_source(spark)
    return spark


def test_batch_read_parity(ice_spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"), p)
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(3, "c")], "id long, v string"), p)
    got = ice_spark.read.format("minerva_iceberg").load(p)
    assert _rows(got) == _rows(read_iceberg(ice_spark, p))
    assert got.schema == read_iceberg(ice_spark, p).schema


def test_batch_snapshot_and_ref_time_travel(ice_spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(2).toDF("id"), p)
    sid = IcebergTable(p).metadata()["current-snapshot-id"]
    tag_iceberg(p, "first")
    write_iceberg(ice_spark, ice_spark.range(2, 4).toDF("id"), p)
    by_id = (ice_spark.read.format("minerva_iceberg")
             .option("snapshotId", sid).load(p))
    by_ref = (ice_spark.read.format("minerva_iceberg")
              .option("ref", "first").load(p))
    assert _rows(by_id) == [(0,), (1,)]
    assert _rows(by_ref) == [(0,), (1,)]


def test_batch_applies_position_deletes(ice_spark, tmp_path):
    """Merge-on-read POSITION deletes apply executor-side (per-file
    0-based row-ordinal masks) — DML-produced tables read correctly
    through the registered source; equality deletes still refuse."""
    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(4).toDF("id"), p)
    delete_iceberg(ice_spark, p, [("id", "=", 2)])
    got = ice_spark.read.format("minerva_iceberg").load(p)
    assert _rows(got) == [(0,), (1,), (3,)]
    # parity with the engine read after an UPDATE too
    from python_minerva_etl_spark.storage.iceberg_write import (
        update_iceberg)

    update_iceberg(ice_spark, p, {"id": "id + 100"},
                   [("id", "=", 0)])
    got = ice_spark.read.format("minerva_iceberg").load(p)
    assert _rows(got) == _rows(read_iceberg(ice_spark, p)) == [
        (1,), (3,), (100,)]


def test_stream_available_now_all_appends(ice_spark, tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p)
    write_iceberg(ice_spark, ice_spark.range(3, 6).toDF("id"), p)
    q = (ice_spark.readStream.format("minerva_iceberg").load(p)
         .writeStream.format("memory").queryName("ice_all")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _rows(ice_spark.sql("SELECT * FROM ice_all")) == [
        (i,) for i in range(6)]


def test_stream_from_snapshot_skips_prior_and_deletes(ice_spark,
                                                      tmp_path):
    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p)
    s1 = IcebergTable(p).metadata()["current-snapshot-id"]
    write_iceberg(ice_spark, ice_spark.range(3, 6).toDF("id"), p)
    delete_iceberg(ice_spark, p, [("id", "=", 4)])
    q = (ice_spark.readStream.format("minerva_iceberg")
         .option("fromSnapshotId", s1).load(p)
         .writeStream.format("memory").queryName("ice_inc")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # appends after s1 stream; the delete snapshot emits nothing
    assert _rows(ice_spark.sql("SELECT * FROM ice_inc")) == [
        (3,), (4,), (5,)]


def test_stream_fails_on_replace_snapshot(ice_spark, tmp_path):
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException)

    from python_minerva_etl_spark.storage.iceberg_write import (
        compact_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p)
    delete_iceberg(ice_spark, p, [("id", "=", 1)])
    compact_iceberg(ice_spark, p)
    q = (ice_spark.readStream.format("minerva_iceberg").load(p)
         .writeStream.format("memory").queryName("ice_rep")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException,
                       match="double-count"):
        q.awaitTermination(120)


# ------------------------------------------------------------ writer

def test_writer_create_append_roundtrip(ice_spark, tmp_path):
    p = str(tmp_path / "w")
    (ice_spark.createDataFrame([(1, "a"), (2, "b")],
                               "id long, v string")
     .write.format("minerva_iceberg").mode("append").save(p))
    (ice_spark.createDataFrame([(3, "c")], "id long, v string")
     .write.format("minerva_iceberg").mode("append").save(p))
    got = read_iceberg(ice_spark, p)
    assert _rows(got) == [(1, "a"), (2, "b"), (3, "c")]
    md = IcebergTable(p).metadata()
    assert len(md["snapshots"]) == 2
    # bounds recorded: a pruned read never opens the excluded file
    pruned = read_iceberg(ice_spark, p, where=[("id", ">=", 3)])
    assert _rows(pruned) == [(3, "c")]


def test_writer_partitioned_append(ice_spark, tmp_path):
    p = str(tmp_path / "w")
    (ice_spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "x", 3.0)],
        "id long, grp string, value double")
     .write.format("minerva_iceberg").option("partitionBy", "grp")
     .mode("append").save(p))
    got = read_iceberg(ice_spark, p)
    assert len(_rows(got)) == 3
    import os
    assert os.path.isdir(os.path.join(p, "data", "grp=x"))
    # files keep EVERY column (the Iceberg rule)
    import pyarrow.parquet as pq
    d = os.path.join(p, "data", "grp=x")
    f = [n for n in os.listdir(d) if n.endswith(".parquet")][0]
    assert "grp" in pq.ParquetFile(
        os.path.join(d, f)).schema_arrow.names


def test_writer_overwrite_refuses(ice_spark, tmp_path):
    p = str(tmp_path / "w")
    df = ice_spark.createDataFrame([(1,)], "id long")
    with pytest.raises(Exception, match="append-only"):
        (df.write.format("minerva_iceberg").mode("overwrite")
         .save(p))


def test_writer_schema_mismatch_fails_at_planning(ice_spark,
                                                  tmp_path):
    p = str(tmp_path / "w")
    (ice_spark.createDataFrame([(1, "a")], "id long, v string")
     .write.format("minerva_iceberg").mode("append").save(p))
    with pytest.raises(Exception, match="does not match table"):
        (ice_spark.createDataFrame([(1.5,)], "id double")
         .write.format("minerva_iceberg").mode("append").save(p))
    assert len(IcebergTable(p).metadata()["snapshots"]) == 1


def test_writer_read_back_through_own_source(ice_spark, tmp_path):
    p = str(tmp_path / "w")
    (ice_spark.range(5).toDF("id")
     .write.format("minerva_iceberg").mode("append").save(p))
    got = ice_spark.read.format("minerva_iceberg").load(p)
    assert _rows(got) == [(i,) for i in range(5)]


def test_batch_as_of_timestamp(ice_spark, tmp_path):
    """The upstream Spark-Iceberg `as-of-timestamp` option (epoch ms)
    resolves to the latest snapshot at or before the target."""
    import time

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(2).toDF("id"), p)
    mid = int(time.time() * 1000)
    time.sleep(0.05)
    write_iceberg(ice_spark, ice_spark.range(2, 4).toDF("id"), p)
    got = (ice_spark.read.format("minerva_iceberg")
           .option("as-of-timestamp", mid).load(p))
    assert _rows(got) == [(0,), (1,)]
    with pytest.raises(Exception, match="only one of"):
        (ice_spark.read.format("minerva_iceberg")
         .option("as-of-timestamp", mid)
         .option("snapshotId", 1).load(p).collect())


def test_stream_skip_overwrite_and_strict_delete_options(ice_spark,
                                                         tmp_path):
    """streaming-skip-overwrite-snapshots=true streams PAST a
    row-level DML (overwrite) snapshot instead of failing; with
    streaming-skip-delete-snapshots=false a delete snapshot fails the
    stream instead of silently skipping."""
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException)

    from python_minerva_etl_spark.storage.iceberg_write import (
        update_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p)
    update_iceberg(ice_spark, p, {"id": "id + 10"}, [("id", "=", 1)])
    write_iceberg(ice_spark, ice_spark.range(3, 5).toDF("id"), p)
    # default: overwrite snapshot fails the stream
    q = (ice_spark.readStream.format("minerva_iceberg").load(p)
         .writeStream.format("memory").queryName("ice_ow0")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="overwrite"):
        q.awaitTermination(120)
    # opt-in skip: the overwrite's adds are skipped, appends stream
    q = (ice_spark.readStream.format("minerva_iceberg")
         .option("streaming-skip-overwrite-snapshots", "true").load(p)
         .writeStream.format("memory").queryName("ice_ow1")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _rows(ice_spark.sql("SELECT * FROM ice_ow1")) == [
        (0,), (1,), (2,), (3,), (4,)]
    # strict delete mode
    p2 = str(tmp_path / "t2")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p2)
    delete_iceberg(ice_spark, p2, [("id", "=", 1)])
    q = (ice_spark.readStream.format("minerva_iceberg")
         .option("streaming-skip-delete-snapshots", "false").load(p2)
         .writeStream.format("memory").queryName("ice_dl0")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException,
                       match="skip-delete-snapshots"):
        q.awaitTermination(120)


def test_batch_filter_pushdown_prunes_files(ice_spark, tmp_path):
    """pushFilters plans the scan (manifest + file-bound pruning)
    while Spark re-applies every filter post-scan: a pruned file is
    provably never opened (corrupted on disk), and the unfiltered
    read fails loudly on it."""
    import glob
    import os

    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(i, "x") for i in range(10)],
        "id long, v string").coalesce(1), p)
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(i, "y") for i in range(100, 110)],
        "id long, v string").coalesce(1), p)
    for f in glob.glob(os.path.join(p, "data", "*.parquet")):
        if pq.read_table(f).column("id")[0].as_py() < 50:
            open(f, "wb").write(b"garbage")
    got = (ice_spark.read.format("minerva_iceberg").load(p)
           .filter("id >= 100"))
    assert sorted(r.id for r in got.collect()) == \
        list(range(100, 110))
    # exactness: the residual filter still applies inside kept files
    got = (ice_spark.read.format("minerva_iceberg").load(p)
           .filter("id = 105"))
    assert [r.id for r in got.collect()] == [105]
    with pytest.raises(Exception):
        ice_spark.read.format("minerva_iceberg").load(p).collect()


def test_stream_sink_exactly_once(ice_spark, tmp_path):
    """The Iceberg streaming sink commits one append snapshot per
    micro-batch with a (txnAppId, batchId) ledger in the snapshot
    summary (the Flink max-committed-checkpoint pattern): restart
    with the same checkpoint emits only new source rows, and a
    replayed batchId commits nothing."""
    import os

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    cp = str(tmp_path / "cp")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), src)

    def run():
        q = (ice_spark.readStream.format("minerva_iceberg").load(src)
             .writeStream.format("minerva_iceberg")
             .option("path", dst).option("checkpointLocation", cp)
             .option("txnAppId", "demo")
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    assert _rows(read_iceberg(ice_spark, dst)) == [(0,), (1,), (2,)]
    write_iceberg(ice_spark, ice_spark.range(3, 6).toDF("id"), src)
    run()
    assert _rows(read_iceberg(ice_spark, dst)) == [
        (i,) for i in range(6)]
    # the ledger lives in snapshot summaries
    md = IcebergTable(dst).metadata()
    batches = sorted(
        int(s["summary"]["minerva-txn-batch-id"])
        for s in md["snapshots"]
        if s["summary"].get("minerva-txn-app-id") == "demo")
    assert batches and batches == sorted(set(batches))
    # a replayed batchId is a commit-free no-op
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceStreamWriter)

    w = _IceStreamWriter({"path": dst, "txnappid": "demo"},
                         IcebergTable(dst).schema(), False)
    n_before = len(IcebergTable(dst).metadata()["snapshots"])
    w.commit([], batches[0])
    assert len(IcebergTable(dst).metadata()["snapshots"]) == n_before
    # a FRESH batchId commits (even empty — the ledger stays
    # monotone across idle triggers)
    w.commit([], batches[-1] + 7)
    md = IcebergTable(dst).metadata()
    assert len(md["snapshots"]) == n_before + 1
    assert _rows(read_iceberg(ice_spark, dst)) == [
        (i,) for i in range(6)]


def test_writer_transform_partitioned_append(ice_spark, tmp_path):
    """Round-6 verdict item 7: the registered writer supports the
    same partition transforms write_iceberg does — days(ts) here —
    with manifest pruning proven on the result."""
    import datetime as _dt
    import os

    p = str(tmp_path / "w")
    rows = [(i, _dt.datetime(2024, 3, 1 + i % 3, 10 + i % 5, 0, 0))
            for i in range(12)]
    (ice_spark.createDataFrame(rows, "id long, ts timestamp")
     .write.format("minerva_iceberg").option("partitionBy", "days(ts)")
     .mode("append").save(p))
    got = read_iceberg(ice_spark, p)
    assert got.count() == 12
    # the Hive dirs carry the TRANSFORMED (days-since-epoch) values,
    # identical to what write_iceberg's Spark path stages
    days = {e.name for e in os.scandir(os.path.join(p, "data"))
            if e.is_dir()}
    base = (_dt.date(2024, 3, 1) - _dt.date(1970, 1, 1)).days
    assert days == {f"ts_day={base + k}" for k in range(3)}
    # reader prunes in the transformed domain: corrupt the other
    # days' files — the single-day read must never open them
    keep = f"ts_day={base}"
    for d in days - {keep}:
        for n in os.listdir(os.path.join(p, "data", d)):
            with open(os.path.join(p, "data", d, n), "wb") as fh:
                fh.write(b"garbage")
    got = read_iceberg(
        ice_spark, p,
        where=[("ts", ">=", _dt.datetime(2024, 3, 1)),
               ("ts", "<", _dt.datetime(2024, 3, 2))])
    assert got.count() == 4


def test_writer_transform_parity_with_spark_path(ice_spark, tmp_path):
    """bucket(id, 4) through the Arrow writer must land every row in
    the SAME bucket dir the Spark path (write_iceberg) chooses, and
    both halves must read back as one consistent table."""
    import os

    p = str(tmp_path / "w")
    write_iceberg(ice_spark,
                  ice_spark.range(0, 50).toDF("id"), p,
                  partition_by="bucket(id, 4)")
    (ice_spark.range(50, 100).toDF("id")
     .write.format("minerva_iceberg")
     .option("partitionBy", "bucket(id, 4)")
     .mode("append").save(p))
    got = read_iceberg(ice_spark, p)
    assert got.count() == 100
    from python_minerva_etl_spark.storage.iceberg_write import (
        _murmur3_long)
    import pyarrow.parquet as pq
    data = os.path.join(p, "data")
    for d in os.scandir(data):
        if not d.is_dir():
            continue
        b = int(d.name.split("=")[1])
        for n in os.listdir(d.path):
            ids = pq.read_table(os.path.join(d.path, n),
                                columns=["id"])["id"].to_pylist()
            assert all((_murmur3_long(i) & 0x7FFFFFFF) % 4 == b
                       for i in ids), (d.name, n)


def test_writer_truncate_string_and_multi_field_refusal(ice_spark,
                                                        tmp_path):
    import os

    p = str(tmp_path / "w")
    (ice_spark.createDataFrame(
        [(1, "alpha"), (2, "alps"), (3, "beta")], "id long, w string")
     .write.format("minerva_iceberg")
     .option("partitionBy", "truncate(w, 3)")
     .mode("append").save(p))
    dirs = {e.name for e in os.scandir(os.path.join(p, "data"))
            if e.is_dir()}
    assert dirs == {"w_trunc=alp", "w_trunc=bet"}
    with pytest.raises(Exception, match="one partition field"):
        (ice_spark.createDataFrame([(1, "a")], "id long, w string")
         .write.format("minerva_iceberg")
         .option("partitionBy", "id, w")
         .mode("append").save(str(tmp_path / "w2")))


def test_batch_reader_applies_equality_deletes(ice_spark, tmp_path):
    """The registered source now applies equality deletes
    executor-side with sequence ordering: deleted keys vanish, a
    LATER re-insert of a deleted key survives, null keys match
    IS NULL — parity with read_iceberg on the same table."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")],
        "id long, name string"), p)
    equality_delete_iceberg(
        ice_spark, p, ice_spark.createDataFrame([(1,), (3,)],
                                                "id long"))
    equality_delete_iceberg(
        ice_spark, p, ice_spark.createDataFrame([(None,)],
                                                "name string"))
    # re-insert id=1 AFTER the delete: must survive
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(1, "back")], "id long, name string"), p)
    got = ice_spark.read.format("minerva_iceberg").load(p)
    assert _rows(got) == [(1, "back"), (4, "d")]
    assert _rows(got) == _rows(read_iceberg(ice_spark, p))


# ------------------------------------------------ changelog stream


def _changelog(ice_spark, p, qname, **opts):
    r = ice_spark.readStream.format("minerva_iceberg") \
        .option("changelog", "true")
    for k, v in opts.items():
        r = r.option(k, v)
    q = (r.load(p).writeStream.format("memory").queryName(qname)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return ice_spark.sql(f"SELECT * FROM {qname}")


def test_changelog_upsert_feed_and_net_state(ice_spark, tmp_path):
    """The retraction feed over a Flink/Paimon-style upsert table:
    appends emit inserts, an equality-delete snapshot emits the full
    PRE-IMAGES of the killed rows, a later re-insert survives, a
    position-delete snapshot emits its pre-images — and the SIGNED
    sum of the feed reconstructs the batch read exactly."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(10)],
        "id long, grp string, v double"), p)
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(2,), (5,), (8,)], "id long"))
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(5, "u9", 55.0), (20, "u9", 20.0)],
        "id long, grp string, v double"), p)
    delete_iceberg(ice_spark, p, [("grp", "=", "u1")])

    feed = _changelog(ice_spark, p, "cl_net")
    assert sorted(feed.columns) == sorted(
        ["id", "grp", "v", "_change_type", "_change_ordinal",
         "_commit_snapshot_id"])
    # eq-delete pre-images carry the ORIGINAL row values
    dels2 = _rows(feed.filter("_change_ordinal = 2")
                  .select("id", "grp", "v", "_change_type"))
    assert dels2 == [(2, "u2", 2.0, "delete"),
                     (5, "u2", 5.0, "delete"),
                     (8, "u2", 8.0, "delete")]
    # position-delete pre-images: the grp=u1 rows live at that point
    dels4 = _rows(feed.filter("_change_ordinal = 4")
                  .select("id", "grp", "v", "_change_type"))
    assert dels4 == [(1, "u1", 1.0, "delete"),
                     (4, "u1", 4.0, "delete"),
                     (7, "u1", 7.0, "delete")]
    net = (feed.withColumn(
        "sgn", F.when(F.col("_change_type") == "insert", 1)
        .otherwise(-1))
        .groupBy("id", "grp", "v").agg(F.sum("sgn").alias("s"))
        .filter("s <> 0"))
    assert net.filter("s <> 1").count() == 0
    assert _rows(net.select("id", "grp", "v")) == \
        _rows(read_iceberg(ice_spark, p))


def test_changelog_maintained_aggregate_parity(ice_spark, tmp_path):
    """cdc_incremental_agg's shape from an Iceberg upsert table: a
    per-group SUM/COUNT maintained by signed re-aggregation of the
    changelog equals the from-scratch aggregate of the final
    snapshot."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(i, f"g{i % 4}", float(i * 3 % 17)) for i in range(40)],
        "id long, grp string, v double"), p)
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(i,) for i in range(0, 40, 5)], "id long"))
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(100 + i, f"g{i % 4}", 9.0) for i in range(6)],
        "id long, grp string, v double"), p)

    feed = _changelog(ice_spark, p, "cl_agg")
    sgn = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    maintained = (feed.groupBy("grp").agg(
        F.sum(sgn * F.col("v")).alias("sum_v"),
        F.sum(sgn).alias("n")))
    fresh = (read_iceberg(ice_spark, p).groupBy("grp").agg(
        F.sum("v").alias("sum_v"),
        F.count("*").cast("long").alias("n")))
    assert _rows(maintained) == _rows(fresh)


def test_changelog_compaction_emits_nothing(ice_spark, tmp_path):
    """A replace (compaction) snapshot is row-set-neutral: the feed
    must not re-emit rewritten rows."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        compact_iceberg, equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(6).toDF("id"), p)
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(1,), (4,)], "id long"))
    compact_iceberg(ice_spark, p)
    feed = _changelog(ice_spark, p, "cl_comp")
    assert feed.count() == 6 + 2  # 6 inserts + 2 deletes, no re-emit
    # and post-compaction appends still stream
    write_iceberg(ice_spark, ice_spark.range(10, 12).toDF("id"), p)
    feed = _changelog(ice_spark, p, "cl_comp2")
    assert feed.count() == 10


def test_changelog_from_snapshot_and_skip_option(ice_spark,
                                                 tmp_path):
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(4).toDF("id"), p)
    s1 = IcebergTable(p).metadata()["current-snapshot-id"]
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(0,)], "id long"))
    write_iceberg(ice_spark, ice_spark.range(7, 9).toDF("id"), p)
    feed = _changelog(ice_spark, p, "cl_from", fromSnapshotId=s1)
    assert _rows(feed.select("id", "_change_type")) == [
        (0, "delete"), (7, "insert"), (8, "insert")]
    # explicit skip-delete opt-out still works in changelog mode
    feed = _changelog(ice_spark, p, "cl_skip", fromSnapshotId=s1,
                      **{"streaming-skip-delete-snapshots": "true"})
    assert _rows(feed.select("id", "_change_type")) == [
        (7, "insert"), (8, "insert")]


def test_changelog_overwrite_refuses(ice_spark, tmp_path):
    """An overwrite snapshot's row-level delta is not derivable —
    the changelog stream must fail loudly, not guess."""
    import json
    import os

    from pyspark.errors.exceptions.captured import (
        StreamingQueryException)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(3).toDF("id"), p)
    # hand-stamp the snapshot summary to an overwrite operation
    mdir = os.path.join(p, "metadata")
    mfile = sorted(f for f in os.listdir(mdir)
                   if f.endswith(".metadata.json"))[-1]
    fp = os.path.join(mdir, mfile)
    md = json.load(open(fp))
    md["snapshots"][-1]["summary"]["operation"] = "overwrite"
    json.dump(md, open(fp, "w"))
    with pytest.raises(StreamingQueryException,
                       match="not derivable|overwrite"):
        q = (ice_spark.readStream.format("minerva_iceberg")
             .option("changelog", "true").load(p)
             .writeStream.format("memory").queryName("cl_ow")
             .outputMode("append").trigger(availableNow=True)
             .start())
        q.awaitTermination(120)


def test_changelog_batch_view(ice_spark, tmp_path):
    """The BATCH changelog view (option changelog=true on
    spark.read): full history by default; fromSnapshotId scopes it;
    rows match the streaming feed."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id long, v double"), p)
    s1 = IcebergTable(p).metadata()["current-snapshot-id"]
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(2,), (5,)], "id long"))
    write_iceberg(ice_spark, ice_spark.createDataFrame(
        [(20, 20.0)], "id long, v double"), p)

    full = (ice_spark.read.format("minerva_iceberg")
            .option("changelog", "true").load(p))
    assert _rows(full.select("id", "_change_type")) == sorted(
        [(i, "insert") for i in range(8)]
        + [(2, "delete"), (5, "delete"), (20, "insert")])
    # scoped: changes strictly after s1
    scoped = (ice_spark.read.format("minerva_iceberg")
              .option("changelog", "true")
              .option("fromSnapshotId", s1).load(p))
    assert _rows(scoped.select("id", "_change_type")) == [
        (2, "delete"), (5, "delete"), (20, "insert")]
    # parity with the streaming feed
    feed = _changelog(ice_spark, p, "cl_batch_par")
    assert _rows(full.select("id", "v", "_change_type",
                             "_change_ordinal")) == \
        _rows(feed.select("id", "v", "_change_type",
                          "_change_ordinal"))


def test_changelog_delete_epochs_prune_by_manifest_bounds(
        ice_spark, tmp_path):
    """r8 verdict #3: a delete snapshot's pre-image scan plans
    partitions ONLY for parent data files the new delete files can
    touch, decided from manifest bounds alone — an equality delete
    of one key plans one file, a position delete plans only the
    files it references, and the feed's values are unchanged."""
    from python_minerva_etl_spark.storage.iceberg_write import (
        equality_delete_iceberg)
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceChangelogBatchReader)

    p = str(tmp_path / "t")
    for lo in (0, 100, 200):  # three files, disjoint id ranges
        write_iceberg(ice_spark, ice_spark.createDataFrame(
            [(lo + i, float(lo + i)) for i in range(10)],
            "id long, v double").coalesce(1), p)
    # eq-delete one key living in the MIDDLE file only
    equality_delete_iceberg(ice_spark, p, ice_spark.createDataFrame(
        [(105,)], "id long"))
    # position-delete one row of the LAST file only
    delete_iceberg(ice_spark, p, [("id", "=", 205)])

    parts = _IceChangelogBatchReader({"path": p}).partitions()
    by_kind: dict = {}
    for q in parts:
        by_kind.setdefault(q.kind, []).append(q)
    assert len(by_kind["insert"]) == 3
    # 2 delete epochs x (3 or 2 candidate parents) -> exactly 1 each
    dels = by_kind["delete"]
    assert len(dels) == 2, [q.fp.orig_path for q in dels]
    # and the feed's pre-images are intact under pruning
    feed = _changelog(ice_spark, p, "cl_prune")
    pre = _rows(feed.filter("_change_type = 'delete'")
                .select("id", "v"))
    assert pre == [(105, 105.0), (205, 205.0)]
    # signed net == final state
    net = (feed.withColumn(
        "sgn", F.when(F.col("_change_type") == "insert", 1)
        .otherwise(-1))
        .groupBy("id", "v").agg(F.sum("sgn").alias("s"))
        .filter("s <> 0"))
    assert net.count() == 28
    # per-file ATTACH pruning on the registered batch reader: each
    # data-file task carries only the delete files whose bounds can
    # touch it — the eq delete (key 105) attaches to the middle
    # file only, the pos delete (row of 205) to the last file only
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceBatchReader)
    dparts = sorted(_IceBatchReader({"path": p}).partitions(),
                    key=lambda q: q.orig_path)
    assert len(dparts) == 3
    n_eq = [len(q.eq_deletes) for q in dparts]
    n_pos = [len(q.delete_paths) for q in dparts]
    assert sum(n_eq) == 1 and sum(n_pos) == 1
    # batch read still exact under attach pruning
    got = sorted(r.id for r in ice_spark.read
                 .format("minerva_iceberg").load(p).collect())
    assert len(got) == 28 and 105 not in got and 205 not in got


def test_max_files_per_micro_batch_offset_walk(ice_spark, tmp_path):
    """Admission control at the offset level: after the blind first
    offset, each latestOffset advances whole snapshots along the
    parent chain while their cumulative summary file count stays
    within streaming-max-files-per-micro-batch (upstream Iceberg's
    option name) — always at least one snapshot."""
    from python_minerva_etl_spark.streaming.iceberg_source import (
        _IceStreamReader)

    p = str(tmp_path / "t")
    write_iceberg(ice_spark, ice_spark.range(4).toDF("id")
                  .coalesce(1), p)
    ids = [IcebergTable(p).metadata()["current-snapshot-id"]]

    r = _IceStreamReader(
        {"path": p, "streaming-max-files-per-micro-batch": "2"})
    # blind first call: uncapped
    assert r.latestOffset() == {"snapshot": ids[0]}
    # four more single-file appends against the live stream
    for i in range(1, 5):
        write_iceberg(ice_spark,
                      ice_spark.range(i * 10, i * 10 + 2)
                      .toDF("id").coalesce(1), p)
        ids.append(IcebergTable(p).metadata()["current-snapshot-id"])
    assert r.latestOffset() == {"snapshot": ids[2]}  # two snaps
    assert r.latestOffset() == {"snapshot": ids[4]}
    assert r.latestOffset() == {"snapshot": ids[4]}  # drained

    # a snapshot BIGGER than the cap still goes through alone
    write_iceberg(ice_spark, ice_spark.range(100, 112).toDF("id")
                  .repartition(4), p)
    ids.append(IcebergTable(p).metadata()["current-snapshot-id"])
    assert r.latestOffset() == {"snapshot": ids[5]}

    # restart replaying an uncommitted batch primes via partitions
    r2 = _IceStreamReader(
        {"path": p, "streaming-max-files-per-micro-batch": "1"})
    r2.partitions({"snapshot": ids[2]}, {"snapshot": ids[3]})
    assert r2.latestOffset() == {"snapshot": ids[4]}
    assert r2.latestOffset() == {"snapshot": ids[5]}

    # fromSnapshotId + initialOffset-first order (future-proof)
    r3 = _IceStreamReader(
        {"path": p, "streaming-max-files-per-micro-batch": "1",
         "fromSnapshotId": str(ids[2])})
    r3.initialOffset()
    assert r3.latestOffset() == {"snapshot": ids[3]}

    with pytest.raises(ValueError, match="micro-batch"):
        _IceStreamReader(
            {"path": p,
             "streaming-max-files-per-micro-batch": "0"})


def test_batch_refuses_file_lacking_required_column(ice_spark, tmp_path):
    """The registered source runs read_iceberg's footer guard on the
    footer its executor-side reader opens: a data file lacking a
    REQUIRED column (the rename case name-based resolution cannot
    follow) refuses with the reader's error instead of null-filling a
    non-nullable column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_iceberg import _build_table

    root = str(tmp_path / "ice")
    _build_table(root)
    pq.write_table(pa.table({"id_old": pa.array([2], pa.int64()),
                             "v": pa.array(["b"], pa.string())}),
                   os.path.join(root, "data", "f2.parquet"))
    with pytest.raises(Exception, match="renamed or schema-evolved"):
        (ice_spark.read.format("minerva_iceberg")
         .option("snapshotId", 1).load(root).collect())


def test_changelog_pre_image_refuses_file_lacking_required_column(
        ice_spark, tmp_path):
    """A delete snapshot's pre-images read the parent's data files
    through the same reader and footer guard as the batch source."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    df = ice_spark.createDataFrame(
        [(i, f"v{i}") for i in range(4)],
        T.StructType([T.StructField("id", T.LongType(), False),
                      T.StructField("v", T.StringType())])).coalesce(1)
    write_iceberg(ice_spark, df, p)
    s1 = IcebergTable(p).metadata()["current-snapshot-id"]
    delete_iceberg(ice_spark, p, [("id", "=", 2)])
    data, = [f for f in glob.glob(os.path.join(p, "data", "*.parquet"))
             if "del-" not in os.path.basename(f)]
    pq.write_table(pa.table({"id_old": pa.array(range(4), pa.int64()),
                             "v": pa.array([f"v{i}" for i in range(4)])}),
                   data)
    with pytest.raises(Exception, match="renamed or schema-evolved"):
        (ice_spark.read.format("minerva_iceberg")
         .option("changelog", "true").option("fromSnapshotId", s1)
         .load(p).collect())
