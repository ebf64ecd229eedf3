"""Snapshot-committed table format (storage/snaptable.py).

Covers the Delta/Iceberg-shaped guarantees the plain-parquet upsert
cannot give: atomic versioned commits, file-pruned MERGE, optimistic
concurrency with conflict detection, time travel, and vacuum of
crash orphans.
"""

from __future__ import annotations

import datetime
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from python_minerva_etl_spark.operators.upsert import dedup_last_wins
from python_minerva_etl_spark.storage.snaptable import (CommitConflict,
                                                        SnapTable)

KEY = ["entity_id", "bucket"]


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "entity_id long, bucket string, seq long, value double")


def _sorted_rows(df):
    return [tuple(r) for r in
            df.select("entity_id", "bucket", "seq", "value")
            .orderBy("entity_id", "bucket").collect()]


def test_append_read_roundtrip(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(spark, _mk(spark, [(1, "a", 1, 1.0), (2, "a", 2, 2.0)]), KEY)
    v2 = tbl.append(spark, _mk(spark, [(3, "b", 3, 3.0)]), KEY)
    assert v2 == 2
    assert tbl.read(spark).count() == 3
    assert [h["op"] for h in tbl.history()] == ["append", "append"]


def test_merge_last_wins_parity(spark, tmp_path):
    """Snapshot MERGE result == dedup_last_wins over the same stream of
    batches (batch2's seqs outrank batch1's for every shared key)."""
    tbl = SnapTable(str(tmp_path / "t"))
    b1 = _mk(spark, [(e, "a", e, float(e)) for e in range(20)]
             + [(e, "b", 100 + e, float(e)) for e in range(10)])
    b2 = _mk(spark, [(e, "a", 1000 + e, 99.0) for e in range(5, 15)])
    tbl.merge(spark, b1, KEY, "seq")
    tbl.merge(spark, b2, KEY, "seq")
    expect = dedup_last_wins(b1.unionByName(b2), KEY, "seq")
    assert _sorted_rows(tbl.read(spark)) == _sorted_rows(expect)


def test_write_caps_records_per_file_from_stats(spark, tmp_path,
                                                monkeypatch):
    """r13 (guide §6): once footer stats exist, a rewrite caps
    maxRecordsPerFile at TARGET_FILE_BYTES/bytes-per-row, so a skewed
    single partition cannot produce one unbounded file.  The first
    write (no stats yet) is uncapped; the result data is unchanged."""
    from python_minerva_etl_spark.storage import snaptable

    tbl = SnapTable(str(tmp_path / "t"))
    rows = [(e, "a", e, float(e)) for e in range(400)]
    tbl.append(spark, _mk(spark, rows).coalesce(1), KEY)
    v1_files = len(tbl.files(tbl.latest_version()))
    assert v1_files == 1                     # uncapped first write
    bpr = sum(e["bytes"] for e in tbl.files(1)) / 400
    monkeypatch.setattr(snaptable, "TARGET_FILE_BYTES",
                        int(bpr * 100))      # ~100 rows per file
    more = [(1000 + e, "b", e, float(e)) for e in range(400)]
    tbl.append(spark, _mk(spark, more).coalesce(1), KEY)
    new = [f for f in tbl.files(tbl.latest_version())
           if f not in tbl.files(1)]
    assert len(new) >= 3                     # split despite 1 partition
    assert sum(f["rows"] for f in new) == 400
    assert tbl.read(spark).count() == 800


def test_merge_batch_outranks_stored(spark, tmp_path):
    """Replaying a batch with LOWER seqs still replaces stored rows —
    the reference's ON CONFLICT DO UPDATE, not a seq comparison."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, _mk(spark, [(1, "a", 100, 1.0)]), KEY, "seq")
    tbl.merge(spark, _mk(spark, [(1, "a", 5, 42.0)]), KEY, "seq")
    assert _sorted_rows(tbl.read(spark)) == [(1, "a", 5, 42.0)]


def test_merge_prunes_disjoint_files(spark, tmp_path):
    """Files whose key-range stats do not overlap the batch envelope
    are carried into the new snapshot by reference, never rewritten;
    files containing the merge key are replaced."""
    from python_minerva_etl_spark.storage.snaptable import _overlaps

    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(spark, _mk(spark, [(e, "a", e, 0.0) for e in range(100)]),
               KEY)
    tbl.append(spark,
               _mk(spark, [(e, "a", e, 0.0) for e in range(1000, 1100)]),
               KEY)
    env = {"entity_id": [1050, 1050], "bucket": ["a", "a"]}
    before = tbl.files()
    hit = {e["path"] for e in before if _overlaps(e["stats"], env)}
    carry = {e["path"] for e in before} - hit
    assert hit and carry, "fixture must produce both kinds of file"

    tbl.merge(spark, _mk(spark, [(1050, "a", 9999, 7.0)]), KEY, "seq")
    after = {e["path"] for e in tbl.files()}
    assert carry <= after, "disjoint files must be carried by reference"
    assert not (hit & after), "overlapping files must be rewritten"
    got = tbl.read(spark).filter(F.col("entity_id") == 1050).collect()
    assert [(r.seq, r.value) for r in got] == [(9999, 7.0)]
    assert tbl.read(spark).count() == 200


def test_merge_prunes_on_timestamp_key(spark, tmp_path):
    """Timestamp keys prune via epoch-micros canonical stats — immune
    to the process-local timezone."""
    tbl = SnapTable(str(tmp_path / "t"))

    def mk_ts(day_lo, day_hi, seq0):
        rows = [(e, datetime.datetime(2024, 1, d, 12, 0), seq0 + e, 1.0)
                for e in range(10) for d in range(day_lo, day_hi)]
        return spark.createDataFrame(
            rows, "entity_id long, ts timestamp, seq long, value double")

    key = ["entity_id", "ts"]
    tbl.append(spark, mk_ts(1, 5, 0), key)
    early = {e["path"] for e in tbl.files()}
    tbl.append(spark, mk_ts(20, 25, 1000), key)

    tbl.merge(spark, mk_ts(21, 22, 5000), key, "seq")
    after = {e["path"] for e in tbl.files()}
    assert early <= after, "files outside the ts envelope must be carried"
    assert tbl.read(spark).count() == 90
    hit = tbl.read(spark).filter(
        F.col("ts") == datetime.datetime(2024, 1, 21, 12, 0))
    assert all(r.seq >= 5000 for r in hit.collect())


def test_time_travel_and_history(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    v1 = tbl.append(spark, _mk(spark, [(1, "a", 1, 1.0)]), KEY)
    tbl.merge(spark, _mk(spark, [(1, "a", 2, 2.0)]), KEY, "seq")
    assert _sorted_rows(tbl.read(spark, version=v1)) == [(1, "a", 1, 1.0)]
    assert _sorted_rows(tbl.read(spark)) == [(1, "a", 2, 2.0)]


def test_crash_orphan_invisible_and_vacuumed(spark, tmp_path):
    """A data dir without a manifest (crashed writer) is invisible to
    readers and removed by vacuum; retained snapshots are untouched."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(spark, _mk(spark, [(1, "a", 1, 1.0)]), KEY)
    tbl.merge(spark, _mk(spark, [(1, "a", 2, 2.0)]), KEY, "seq")

    orphan = tmp_path / "t" / "data" / "c-deadbeef0000"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").write_bytes(b"not a real file")

    assert _sorted_rows(tbl.read(spark)) == [(1, "a", 2, 2.0)]
    removed = tbl.vacuum(keep_versions=1)
    assert any("deadbeef" in p for p in removed)
    assert tbl.versions() == [tbl.latest_version()]
    assert _sorted_rows(tbl.read(spark)) == [(1, "a", 2, 2.0)]
    # every surviving data file is referenced by the kept manifest
    on_disk = {os.path.relpath(p, tbl.path) for p in glob.glob(
        os.path.join(tbl.path, "data", "c-*", "*.parquet"))}
    assert on_disk == {e["path"] for e in tbl.files()}


def test_concurrent_append_during_merge_is_detected(spark, tmp_path):
    """A commit that lands mid-merge and overlaps the merge key range
    raises CommitConflict; a disjoint one is absorbed transparently."""
    path = str(tmp_path / "t")
    tbl = SnapTable(path)
    tbl.append(spark, _mk(spark, [(e, "a", e, 0.0) for e in range(10)]),
               KEY)

    def racy_publish(make_racer):
        orig = SnapTable._publish
        state = {"fired": False}

        def hook(self, manifest, version):
            if not state["fired"] and manifest["op"] == "merge":
                state["fired"] = True
                make_racer()
            return orig(self, manifest, version)

        return hook

    # overlapping racer → conflict
    def overlap_racer():
        SnapTable(path).append(
            spark, _mk(spark, [(5, "a", 777, 7.0)]), KEY)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SnapTable, "_publish", racy_publish(overlap_racer))
        with pytest.raises(CommitConflict):
            tbl.merge(spark, _mk(spark, [(5, "a", 888, 8.0)]), KEY, "seq")

    # disjoint racer → merge retries onto the new snapshot and keeps it
    def disjoint_racer():
        SnapTable(path).append(
            spark, _mk(spark, [(500, "z", 1, 1.0)]), KEY)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(SnapTable, "_publish", racy_publish(disjoint_racer))
        tbl.merge(spark, _mk(spark, [(3, "a", 999, 9.0)]), KEY, "seq")
    rows = {tuple(r) for r in _sorted_rows(tbl.read(spark))}
    assert (3, "a", 999, 9.0) in rows and (500, "z", 1, 1.0) in rows


def test_manifest_is_full_snapshot(spark, tmp_path):
    """Each manifest lists the complete file set (no log replay needed
    to read) and survives a JSON round-trip."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(spark, _mk(spark, [(1, "a", 1, 1.0)]), KEY)
    tbl.append(spark, _mk(spark, [(2, "a", 2, 2.0)]), KEY)
    with open(os.path.join(
            tbl.path, "_manifests",
            f"v{tbl.latest_version():08d}.json")) as f:
        m = json.load(f)
    assert m["n_files"] == len(m["files"]) >= 2
    for e in m["files"]:
        assert os.path.exists(os.path.join(tbl.path, e["path"]))
        assert "entity_id" in e["stats"]


def test_merge_txn_idempotent_redelivery(spark, tmp_path):
    """The txn ledger: re-delivering a committed (app, batch_id) is a
    no-op; the next batch id commits normally."""
    tbl = SnapTable(str(tmp_path / "t"))
    b0 = _mk(spark, [(1, "a", 1, 1.0), (2, "a", 1, 2.0)])
    v1 = tbl.merge(spark, b0, KEY, "seq", txn=("q", 0))
    v_again = tbl.merge(spark, b0, KEY, "seq", txn=("q", 0))
    assert v_again == v1, "re-delivered batch must not commit"
    assert tbl.read(spark).count() == 2
    b1 = _mk(spark, [(1, "a", 2, 9.0)])
    v2 = tbl.merge(spark, b1, KEY, "seq", txn=("q", 1))
    assert v2 == v1 + 1
    got = {(r.entity_id): r.value for r in tbl.read(spark).collect()}
    assert got == {1: 9.0, 2: 2.0}
    # ledger carries forward and tracks per-app ids independently
    assert tbl.txns() == {"q": 1}
    tbl.append(spark, _mk(spark, [(3, "b", 1, 3.0)]), KEY, txn=("other", 7))
    assert tbl.txns() == {"q": 1, "other": 7}


def test_stream_merge_sink_exactly_once(spark, tmp_path):
    """End-to-end: file stream -> foreachBatch MERGE -> snapshot table
    equals the batch last-wins resolution; restarting the finished
    stream from its checkpoint re-delivers nothing new."""
    from python_minerva_etl_spark.registry import load_table
    from python_minerva_etl_spark.streaming.sink import merge_stream
    from python_minerva_etl_spark.streaming.tumble import read_events_stream

    sf = "/root/testdata/sf0.001"
    stream = read_events_stream(spark, sf).select(
        "event_id", "ts", "user_id", "value",
        F.lit(1).alias("seq"))
    path = str(tmp_path / "stream_tbl")
    ckpt = str(tmp_path / "ckpt")
    q = merge_stream(stream, path, ["event_id"], "seq",
                     "stream_merge_test", ckpt)
    q.awaitTermination()

    tbl = SnapTable(path)
    got = tbl.read(spark).count()
    want = load_table(spark, sf, "events").count()
    assert got == want
    v = tbl.latest_version()

    # restart from the same checkpoint: no new input -> no new commits
    q2 = merge_stream(read_events_stream(spark, sf).select(
        "event_id", "ts", "user_id", "value", F.lit(1).alias("seq")),
        path, ["event_id"], "seq", "stream_merge_test", ckpt)
    q2.awaitTermination()
    assert tbl.latest_version() == v
    assert tbl.read(spark).count() == want


def test_changes_tags_insert_update_and_drops_equal(spark, tmp_path):
    """The change feed between two merge snapshots: new keys are
    inserts, replaced keys yield pre+post images, and rows rewritten
    with identical values (same-file collateral) disappear."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long"), ["k"], "v")
    tbl.merge(spark, spark.createDataFrame(
        [(2, "b", 99), (3, "c", 30), (4, "d", 40)],
        "k long, s string, v long"), ["k"], "v")
    got = {(r.k, r.v, r._change_type)
           for r in tbl.changes(spark, 1, 2).collect()}
    assert got == {(2, 20, "update_preimage"), (2, 99, "update_postimage"),
                   (4, 40, "insert")}


def test_changes_key_defaults_from_manifest(spark, tmp_path):
    """merge() records its key in the manifest; changes() picks it up
    without the caller restating it (asserted by the test above calling
    changes() with no key)."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, spark.createDataFrame([(1, 10)], "k long, v long"),
              ["k"], "v")
    assert tbl._manifest(tbl.latest_version())["key"] == ["k"]


def test_changes_pure_append_is_all_inserts(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.append(spark, spark.createDataFrame([(1, 10)], "k long, v long"),
               key=["k"])
    tbl.append(spark, spark.createDataFrame([(2, 20)], "k long, v long"),
               key=["k"])
    got = {(r.k, r.v, r._change_type)
           for r in tbl.changes(spark, 1, 2).collect()}
    assert got == {(2, 20, "insert")}


def test_changes_same_version_is_empty(spark, tmp_path):
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, spark.createDataFrame([(1, 10)], "k long, v long"),
              ["k"], "v")
    ch = tbl.changes(spark, 1, 1)
    assert ch.count() == 0
    assert "_change_type" in ch.columns


def test_delete_removes_keys_and_feeds_changes(spark, tmp_path):
    """Keyed DELETE rewrites only overlapping files; removed rows show
    up as `delete` in the change feed, and the delete is idempotent
    under txn re-delivery."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, s string, v long"), ["k"], "v")
    v = tbl.delete(spark, spark.createDataFrame([(2,)], "k long"), ["k"],
                   txn=("eraser", 1))
    assert v == 2
    assert ({(r.k, r.v) for r in tbl.read(spark).collect()}
            == {(1, 10), (3, 30)})
    got = {(r.k, r.v, r._change_type)
           for r in tbl.changes(spark, 1, 2).collect()}
    assert got == {(2, 20, "delete")}
    # re-delivered batch: no new version
    assert tbl.delete(spark, spark.createDataFrame([(2,)], "k long"),
                      ["k"], txn=("eraser", 1)) == 2
    assert tbl.latest_version() == 2


def test_delete_prunes_disjoint_files(spark, tmp_path):
    """A delete whose key envelope misses a file's [min,max] carries
    that file by reference (same path string, no rewrite)."""
    tbl = SnapTable(str(tmp_path / "t"))
    low = spark.range(0, 100).select(F.col("id").alias("k"),
                                     F.lit(1).alias("v")).coalesce(1)
    high = spark.range(10_000, 10_100).select(F.col("id").alias("k"),
                                              F.lit(2).alias("v")).coalesce(1)
    tbl.merge(spark, low, ["k"], "v")
    tbl.merge(spark, high, ["k"], "v")
    before = {e["path"] for e in tbl.files()}
    tbl.delete(spark, spark.createDataFrame([(10_050,)], "k long"), ["k"])
    after = {e["path"] for e in tbl.files()}
    # the low file survived untouched; something in the high range was rewritten
    assert any(p in after for p in before)
    assert tbl.read(spark).filter(F.col("k") == 10_050).count() == 0
    assert tbl.read(spark).count() == 199


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """A batch carrying a new column merges cleanly: stored rows get
    NULL for it (unionByName allowMissingColumns + mergeSchema reads),
    and later reads see the widened schema."""
    tbl = SnapTable(str(tmp_path / "t"))
    tbl.merge(spark, spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"), ["k"], "v")
    tbl.merge(spark, spark.createDataFrame(
        [(2, 99, "new"), (3, 30, "col")],
        "k long, v long, extra string"), ["k"], "v")
    rows = {r.k: (r.v, r.extra) for r in tbl.read(spark).collect()}
    assert rows == {1: (10, None), 2: (99, "new"), 3: (30, "col")}


def test_optimize_packs_small_files_and_is_cdc_invisible(spark, tmp_path):
    """OPTIMIZE bin-packs fragmented commits into fewer files without
    changing a single row: reads agree before/after, the change feed
    across the optimize version is EMPTY, and time travel still reads
    the pre-optimize snapshot."""
    tbl = SnapTable(str(tmp_path / "t"))
    # three tiny commits -> three+ small files
    for lo in (0, 100, 200):
        tbl.merge(spark, spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
            .coalesce(1), ["k"], "v")
    before = {(r.k, r.v) for r in tbl.read(spark).collect()}
    n_before = len(tbl.files())
    v = tbl.optimize(spark, small_file_bytes=32 << 20,
                     target_file_bytes=128 << 20)
    assert v == 4
    assert len(tbl.files()) < n_before
    assert {(r.k, r.v) for r in tbl.read(spark).collect()} == before
    assert tbl.changes(spark, 3, 4).count() == 0
    assert {(r.k, r.v) for r in tbl.read(spark, version=3).collect()} \
        == before
    # nothing further to pack: a second optimize is a no-op
    assert tbl.optimize(spark) is None or len(tbl.files()) == 1


def test_cdc_maintained_agg_equals_recompute_random(spark, tmp_path):
    """Randomized end-to-end CDC invariant: across random MERGE and
    DELETE sequences, an aggregate maintained purely from each
    version's change feed equals a from-scratch recompute of that
    version — the self-maintaining-view contract under arbitrary
    interleavings."""
    import random

    from python_minerva_etl_spark.operators.materialization import (
        apply_changes_to_agg)

    rng = random.Random(7)
    tbl = SnapTable(str(tmp_path / "t"))

    def recompute(version):
        return {(r.g, r.samples, float(r.sum_value)) for r in (
            tbl.read(spark, version).groupBy("g")
            .agg(F.count("*").alias("samples"),
                 F.sum(F.col("v").cast("decimal(28,4)")).cast("double")
                 .alias("sum_value"))).collect()}

    # seed state
    rows = [(k, f"g{k % 3}", float(rng.randint(0, 50)), 0)
            for k in range(12)]
    tbl.merge(spark, spark.createDataFrame(
        rows, "k long, g string, v double, seq long"), ["k"], "seq")
    maintained = (tbl.read(spark, 1).groupBy("g")
                  .agg(F.count("*").alias("samples"),
                       F.sum(F.col("v").cast("decimal(28,4)"))
                       .cast("decimal(28,4)").alias("sum_value")))

    for step in range(1, 5):
        if step % 2 == 1:   # merge: mix of updates and new keys
            batch = [(rng.randint(0, 19), f"g{rng.randint(0, 2)}",
                      float(rng.randint(0, 50)), step)
                     for _ in range(rng.randint(2, 6))]
            # one row per key (last wins within batch by seq anyway)
            batch = list({b[0]: b for b in batch}.values())
            tbl.merge(spark, spark.createDataFrame(
                batch, "k long, g string, v double, seq long"),
                ["k"], "seq")
        else:               # delete some existing keys
            keys = [r.k for r in tbl.read(spark).select("k").collect()]
            doomed = rng.sample(keys, min(2, len(keys)))
            tbl.delete(spark, spark.createDataFrame(
                [(k,) for k in doomed], "k long"), ["k"])
        v = tbl.latest_version()
        feed = tbl.changes(spark, v - 1, v)
        maintained = apply_changes_to_agg(maintained, feed, ["g"], "v")
        got = {(r.g, r.samples, float(r.sum_value))
               for r in maintained.select(
                   "g", "samples",
                   F.col("sum_value").cast("double").alias("sum_value"))
               .collect()}
        assert got == recompute(v), f"divergence at version {v}"
        # re-anchor maintained as a concrete frame for the next round
        maintained = spark.createDataFrame(
            [(g, n, s) for g, n, s in sorted(got)],
            "g string, samples long, sum_value double").select(
            "g", "samples",
            F.col("sum_value").cast("decimal(28,4)").alias("sum_value"))


def test_schema_drift_across_versions(spark, tmp_path):
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    t = SnapTable(str(tmp_path / "drift"))
    b1 = spark.createDataFrame([(1, 10, 1)], "k long, v int, seq int")
    t.merge(spark, b1, key=["k"], seq_col="seq")
    b2 = spark.createDataFrame([(2, 20, "x", 2)],
                               "k long, v int, tag string, seq int")
    t.merge(spark, b2, key=["k"], seq_col="seq")
    rep = {r["column"]: r for r in
           t.schema_drift(spark, from_version=1, to_version=2)}
    assert rep["tag"]["change"] == "added"
    assert "k" not in rep and "v" not in rep


def test_read_stats_pruning_skips_disjoint_files(spark, tmp_path):
    """Point/range reads skip files whose manifest min/max cannot
    match — without losing any qualifying row, and falling back to
    read-everything when stats are absent for the column."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    t = SnapTable(str(tmp_path / "pruned"))
    # three appends -> three disjoint key-range files
    for lo in (0, 100, 200):
        batch = spark.createDataFrame(
            [(k, f"v{k}") for k in range(lo, lo + 50)],
            "k long, payload string")
        t.append(spark, batch, key=["k"])
    kept, total = t.pruned_file_count({"k": (120, 130)})
    assert total >= 3 and kept < total
    got = t.read(spark, where={"k": (120, 130)}).filter(
        "k BETWEEN 120 AND 130")
    assert got.count() == 11
    # full read unaffected
    assert t.read(spark).count() == 150
    # unknown column: conservative, nothing pruned
    kept2, total2 = t.pruned_file_count({"nope": (1, 2)})
    assert kept2 == total2
    # empty result keeps the schema
    empty = t.read(spark, where={"k": (9999, 99999)})
    assert empty.count() == 0 and set(empty.columns) == {"k", "payload"}


def test_apply_changes_replicates_upstream(spark, tmp_path):
    """A replica fed only the upstream CDC feed converges to the
    upstream table through merge, update, and delete — and a
    re-delivered feed is a no-op (txn ledger)."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    up = SnapTable(str(tmp_path / "up"))
    rep = SnapTable(str(tmp_path / "rep"))
    b1 = spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1), (3, 30.0, 1)],
        "k long, v double, seq int")
    up.merge(spark, b1, key=["k"], seq_col="seq")
    # seed the replica: initial state as a pure-insert feed
    seed = b1.withColumn("_change_type", F.lit("insert"))
    rep.apply_changes(spark, seed, key=["k"], seq_col="seq",
                      txn=("cdc", 1))

    # upstream: update k=2, delete k=3
    b2 = spark.createDataFrame([(2, 99.0, 2)], "k long, v double, seq int")
    up.merge(spark, b2, key=["k"], seq_col="seq")
    up.delete(spark, spark.createDataFrame([(3,)], "k long"), key=["k"])
    feed = up.changes(spark, 1, 3)
    rep.apply_changes(spark, feed, key=["k"], seq_col="seq",
                      txn=("cdc", 3))

    def rows(t):
        return {(r.k, r.v) for r in
                t.read(spark).select("k", "v").collect()}
    assert rows(rep) == rows(up) == {(1, 10.0), (2, 99.0)}

    # re-delivery of the same feed version: exactly-once, no new data
    v_before = rep.latest_version()
    rep.apply_changes(spark, feed, key=["k"], seq_col="seq",
                      txn=("cdc", 3))
    assert rep.latest_version() == v_before
    assert rows(rep) == {(1, 10.0), (2, 99.0)}


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """RESTORE re-publishes an old snapshot as a new version: data
    matches the restored version, history keeps the undone commits,
    and the CDC feed across the restore names the rolled-back rows."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    t = SnapTable(str(tmp_path / "restore"))
    t.merge(spark, spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1)], "k long, v double, seq int"),
        key=["k"], seq_col="seq", txn=("app", 1))       # v1
    t.merge(spark, spark.createDataFrame(
        [(2, 99.0, 2), (3, 30.0, 2)], "k long, v double, seq int"),
        key=["k"], seq_col="seq", txn=("app", 2))       # v2
    ledger = t.txns()
    v3 = t.restore(1)
    assert v3 == 3 and t.versions() == [1, 2, 3]
    # the exactly-once ledger is not rolled back with the data
    assert t.txns() == ledger == {"app": 2}
    assert [h["version"] for h in t.history()] == [1, 2, 3]
    assert t.history()[-1]["op"] == "restore"
    got = {(r.k, r.v) for r in t.read(spark).select("k", "v").collect()}
    assert got == {(1, 10.0), (2, 20.0)}
    # time travel still reaches the undone version
    v2_rows = {(r.k, r.v)
               for r in t.read(spark, 2).select("k", "v").collect()}
    assert v2_rows == {(1, 10.0), (2, 99.0), (3, 30.0)}
    # CDC across the restore: k=2 reverts, k=3 disappears
    chg = {(r.k, r._change_type)
           for r in t.changes(spark, 2, 3).collect()}
    assert ("3", "delete") in {(str(k), c) for k, c in chg} or \
        (3, "delete") in chg
    assert (2, "update_postimage") in chg
    # restoring to the tip is a no-op
    assert t.restore(3) == 3 and t.latest_version() == 3


def test_sync_from_incremental_replication(spark, tmp_path):
    """sync_from bootstraps a fresh replica, applies only unseen
    upstream versions on later runs (txn-ledger bookmark), and
    converges through updates and deletes."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    up = SnapTable(str(tmp_path / "up"))
    rep = SnapTable(str(tmp_path / "rep"))
    up.merge(spark, spark.createDataFrame(
        [(1, 10.0, 1), (2, 20.0, 1)], "k long, v double, seq int"),
        key=["k"], seq_col="seq")                       # v1
    up.merge(spark, spark.createDataFrame(
        [(2, 99.0, 2)], "k long, v double, seq int"),
        key=["k"], seq_col="seq")                       # v2

    assert rep.sync_from(spark, up, key=["k"], seq_col="seq") == 2

    def rows(t):
        return {(r.k, r.v) for r in t.read(spark).select("k", "v").collect()}
    assert rows(rep) == rows(up) == {(1, 10.0), (2, 99.0)}

    # nothing new -> no versions applied, replica untouched
    v = rep.latest_version()
    assert rep.sync_from(spark, up, key=["k"], seq_col="seq") == 0
    assert rep.latest_version() == v

    # upstream delete -> one more version applied on the next sync
    up.delete(spark, spark.createDataFrame([(1,)], "k long"), key=["k"])
    assert rep.sync_from(spark, up, key=["k"], seq_col="seq") == 1
    assert rows(rep) == rows(up) == {(2, 99.0)}


def test_shallow_clone_zero_copy_and_isolated(spark, tmp_path):
    from python_minerva_etl_spark.storage.snaptable import (SnapTable,
                                                            shallow_clone)

    src = SnapTable(str(tmp_path / "src"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id bigint, k string, v double")
    src.append(spark, base, key=["id"])

    clone = shallow_clone(src, str(tmp_path / "clone"))
    # zero copy: no data files under the clone yet
    import glob as g
    assert not g.glob(str(tmp_path / "clone" / "data" / "*"))
    assert {r.id for r in clone.read(spark).collect()} == {1, 2, 3}

    # mutating the clone: new files land under the clone, source
    # snapshot unchanged
    clone.merge(spark, spark.createDataFrame(
        [(2, "b", 99.0), (4, "d", 40.0)],
        "id bigint, k string, v double"), key=["id"], seq_col="id")
    assert {(r.id, r.v) for r in clone.read(spark).collect()} == {
        (1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)}
    assert {(r.id, r.v) for r in src.read(spark).collect()} == {
        (1, 10.0), (2, 20.0), (3, 30.0)}

    # clone vacuum never touches source files
    clone.vacuum(keep_versions=1)
    assert {r.id for r in src.read(spark).collect()} == {1, 2, 3}
    # double-clone into the same target refuses
    import pytest as _pytest
    with _pytest.raises(FileExistsError):
        shallow_clone(src, str(tmp_path / "clone"))


def test_bloom_prunes_point_lookups_where_stats_cannot(spark, tmp_path):
    """Interleaved key ranges defeat min/max pruning; the per-file
    bloom still skips files for point lookups."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    t = SnapTable(str(tmp_path / "t"))
    # two commits -> separate files with overlapping id ranges
    t.append(spark, spark.createDataFrame(
        [(1, "x"), (100, "x")], "id bigint, v string").coalesce(1),
        key=["id"])
    t.append(spark, spark.createDataFrame(
        [(2, "y"), (200, "y")], "id bigint, v string").coalesce(1),
        key=["id"])

    # range overlap keeps both files...
    kept, total = t.pruned_file_count({"id": (2, 2)})
    assert total == 2
    # ...but the bloom excludes the file without id=2
    assert kept == 1
    # correctness: the pruned read still returns the row
    got = t.read(spark, where={"id": (2, 2)}).filter("id = 2").collect()
    assert [(r.id, r.v) for r in got] == [(2, "y")]
    # absent key: every file pruned, schema preserved
    kept0, _ = t.pruned_file_count({"id": (57, 57)})
    assert kept0 == 0
    assert t.read(spark, where={"id": (57, 57)}).count() == 0
    # range lookups never consult the bloom (conservative)
    keptr, _ = t.pruned_file_count({"id": (1, 300)})
    assert keptr == 2


def test_bloom_probe_is_type_insensitive(spark, tmp_path):
    """Probing a DOUBLE key with a Python int must not false-negative
    (build hashes 2.0, probe passes 2) — and a NULL probe never
    consults the bloom."""
    from python_minerva_etl_spark.storage.snaptable import SnapTable

    t = SnapTable(str(tmp_path / "t"))
    t.append(spark, spark.createDataFrame(
        [(2.0, "a"), (9.5, "b"), (None, "n")], "k double, v string")
        .coalesce(1), key=["k"])
    kept, total = t.pruned_file_count({"k": (2, 2)})
    assert (kept, total) == (1, 1)
    assert t.read(spark, where={"k": (2, 2)}).filter("k = 2").count() == 1
    # fractional probe for a value not present: bloom may prune
    assert t.read(spark, where={"k": (9.5, 9.5)}) \
        .filter("k = 9.5").count() == 1
    # NULL probe stays conservative (file holds a NULL-key row)
    keptn, _ = t.pruned_file_count({"k": (None, None)})
    assert keptn == 1
    assert t.read(spark, where={"k": (None, None)}) \
        .filter("k is null").count() == 1


def test_bloom_probe_signed_zero_and_bool(spark, tmp_path):
    """-0.0 and 0 are SQL-equal and must share a bloom key (a file
    holding -0.0 may never be pruned for a 0 point probe); bools fold
    into the numeric space so stored TRUE matches an int probe 1."""
    from python_minerva_etl_spark.storage.snaptable import (
        SnapTable, _bloom_key)

    assert _bloom_key(-0.0) == _bloom_key(0) == _bloom_key(0.0)
    assert _bloom_key(True) == _bloom_key(1)
    assert _bloom_key(False) == _bloom_key(0)

    t = SnapTable(str(tmp_path / "t"))
    t.append(spark, spark.createDataFrame(
        [(-0.0, "z"), (9.5, "b")], "k double, v string").coalesce(1),
        key=["k"])
    # int-0 probe against a file containing -0.0: must NOT prune
    kept, total = t.pruned_file_count({"k": (0, 0)})
    assert (kept, total) == (1, 1)
    assert t.read(spark, where={"k": (0, 0)}).filter("k = 0").count() == 1

    b = SnapTable(str(tmp_path / "b"))
    b.append(spark, spark.createDataFrame(
        [(True, "t"), (False, "f")], "k boolean, v string").coalesce(1),
        key=["k"])
    keptb, _ = b.pruned_file_count({"k": (1, 1)})
    assert keptb == 1


def test_broken_plugin_warns_not_swallows(caplog):
    """A broken entry-point plugin is logged at WARNING, and good
    plugins after it still load (discovery continues)."""
    import logging
    from unittest import mock

    from python_minerva_etl_spark.sources import plugins as P

    class _BadEP:
        name, value = "bad", "pkg:attr"

        def load(self):
            raise ImportError("boom")

    class _GoodEP:
        name, value = "good_test_plugin", "pkg:ok"

        def load(self):
            return lambda spark, path, config=None: None

    with mock.patch("importlib.metadata.entry_points",
                    return_value=[_BadEP(), _GoodEP()]):
        with caplog.at_level(logging.WARNING):
            P.entry_points_plugins()
    assert any("bad" in r.message for r in caplog.records)
    assert "good_test_plugin" in P._REGISTRY
    del P._REGISTRY["good_test_plugin"]


def _reference_entry(path: str, rel: str, key: list[str]) -> dict:
    """A manifest entry computed the slow, obvious way: row count and
    per-column min/max from the footer's row groups, and a bloom that
    ORs the md5 probes of every non-null value, dropped past 8,192
    distinct keys."""
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.snaptable import (
        _bloom_key, _bloom_positions, _canon)

    pf = pq.ParquetFile(path)
    md = pf.metadata
    stats, bloom = {}, {}
    for c in key:
        ci = pf.schema_arrow.names.index(c)
        sts = [md.row_group(rg).column(ci).statistics
               for rg in range(md.num_row_groups)]
        if all(st is not None and st.has_min_max for st in sts):
            stats[c] = [_canon(min(st.min for st in sts)),
                        _canon(max(st.max for st in sts))]
        vals = [v for v in pf.read(columns=[c]).column(c).to_pylist()
                if v is not None]
        if len({_bloom_key(v) for v in vals}) <= 8192:
            bits = 0
            for v in vals:
                for pos in _bloom_positions(v):
                    bits |= 1 << pos
            bloom[c] = f"{bits:x}"
    entry = {"path": rel, "bytes": os.path.getsize(path),
             "rows": md.num_rows, "stats": stats}
    if bloom:
        entry["bloom"] = bloom
    return entry


_META_KEY = ["k8192", "k8193", "dbl", "ts", "nul"]
_META_SQL = [
    "id % 8192 AS k8192", "id AS k8193",
    # 8,193 distinct doubles but 8,192 bloom keys: -0.0 and 0.0 share
    # one, so this bloom is kept
    "CASE id WHEN 0 THEN CAST('-0.0' AS DOUBLE) WHEN 1 THEN 0.0D "
    "WHEN 2 THEN CAST('NaN' AS DOUBLE) ELSE id + 0.5D END AS dbl",
    "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,id % 500) AS ts",
    "CAST(NULL AS BIGINT) AS nul", "id AS v"]


def test_manifest_entries_match_bruteforce_reference(spark, tmp_path):
    """Every manifest entry a commit writes equals the brute-force
    reference — the same keys in the same order: footer stats, and
    blooms exactly at the 8,192-key bound (8,192 kept, 8,193 dropped,
    ±0.0 folded), for a timestamp column and an all-NULL one."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage.snaptable import _file_entry

    t = SnapTable(str(tmp_path / "t"))
    df = spark.range(0, 8193).selectExpr(*_META_SQL)
    t.append(spark, df.coalesce(1), _META_KEY)
    t.append(spark, df.repartition(3, "v"), _META_KEY)
    entries = t.files()
    assert len(entries) == 4
    for e in entries:
        ref = _reference_entry(os.path.join(t.path, e["path"]),
                               e["path"], _META_KEY)
        assert json.dumps(e) == json.dumps(ref), e["path"]
    one = entries[0]
    # an all-NULL column has no bounds and an empty bloom
    assert set(one["bloom"]) == {"k8192", "dbl", "ts", "nul"}
    assert one["bloom"]["nul"] == "0"
    assert set(one["stats"]) == {"k8192", "k8193", "dbl", "ts"}

    # many row groups: distinct values union across them
    path = str(tmp_path / "rg.parquet")
    pq.write_table(df.toArrow(), path, row_group_size=1000)
    assert pq.ParquetFile(path).metadata.num_row_groups == 9
    # -0.0 and 0.0 are two distinct values to Arrow
    assert len(pc.unique(pq.read_table(path).column("dbl"))) == 8193
    assert json.dumps(_file_entry(path, "rg.parquet", _META_KEY)) == \
        json.dumps(_reference_entry(path, "rg.parquet", _META_KEY))


def test_saturated_bloom_stops_hashing_at_bound(tmp_path, monkeypatch):
    """Key columns with 20,000 distinct values get no bloom.  Building
    the entry computes no bloom key for the int column, whose distinct
    count is its key count, and at most 8,193 for the double column,
    whose values could share keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from python_minerva_etl_spark.storage import snaptable

    path = str(tmp_path / "wide.parquet")
    pq.write_table(pa.table({
        "k": pa.array(range(20_000), pa.int64()),
        "f": pa.array([i / 3 for i in range(20_000)], pa.float64())}),
        path, row_group_size=7_000)
    calls = []
    real = snaptable._bloom_key
    monkeypatch.setattr(snaptable, "_bloom_key",
                        lambda v: calls.append(v) or real(v))
    entry = snaptable._file_entry(path, "wide.parquet", ["k", "f"])
    assert "bloom" not in entry
    assert entry["stats"]["k"] == [0, 19_999]
    assert len(calls) == 8_193
    assert all(isinstance(v, float) for v in calls)


def _racing(make_racer, op):
    """A ``_publish`` that runs ``make_racer`` once, just before the
    first publish of an ``op`` commit."""
    orig = SnapTable._publish
    fired = []

    def hook(self, manifest, version):
        if not fired and manifest["op"] == op:
            fired.append(version)
            make_racer()
        return orig(self, manifest, version)

    return hook


def test_commit_during_optimize_raises_conflict(spark, tmp_path,
                                                monkeypatch):
    """OPTIMIZE conflicts with any commit it missed: packing a stale
    file set could resurrect rows that commit replaced."""
    path = str(tmp_path / "t")
    t = SnapTable(path)
    for lo in (0, 100):
        t.append(spark, spark.range(lo, lo + 10).selectExpr(
            "id AS k", "id AS v").coalesce(1), ["k"])
    monkeypatch.setattr(SnapTable, "_publish", _racing(
        lambda: SnapTable(path).append(spark, spark.range(500, 501)
                                       .selectExpr("id AS k", "id AS v"),
                                       ["k"]), "optimize"))
    with pytest.raises(CommitConflict):
        t.optimize(spark)
    assert [h["op"] for h in t.history()] == ["append"] * 3
    assert t.read(spark).count() == 21


def test_append_racing_append_lands_on_top(spark, tmp_path, monkeypatch):
    """Appends have no conflict rule: an append that loses the version
    race to another append commits on top of it, keeping both."""
    path = str(tmp_path / "t")
    t = SnapTable(path)
    t.append(spark, _mk(spark, [(1, "a", 1, 1.0)]), KEY)
    monkeypatch.setattr(SnapTable, "_publish", _racing(
        lambda: SnapTable(path).append(
            spark, _mk(spark, [(2, "b", 2, 2.0)]), KEY), "append"))
    v = t.append(spark, _mk(spark, [(3, "c", 3, 3.0)]), KEY)
    assert v == 3 and t.versions() == [1, 2, 3]
    assert _sorted_rows(t.read(spark)) == [
        (1, "a", 1, 1.0), (2, "b", 2, 2.0), (3, "c", 3, 3.0)]
    assert t.files(3)[:len(t.files(2))] == t.files(2)


@pytest.mark.parametrize("dtype", ["decimal(9,2)", "decimal(10,2)",
                                   "decimal(28,4)"])
def test_decimal_key_append_merge_read(spark, tmp_path, dtype):
    """A DECIMAL merge key — INT32, INT64 or fixed-length storage —
    commits, merges and reads back; its footer bounds count as
    unbounded, so every file stays a MERGE candidate."""
    import decimal

    def frame(rows):
        return spark.createDataFrame(rows, "d string, seq long, v long") \
            .selectExpr(f"CAST(d AS {dtype}) AS d", "seq", "v")

    t = SnapTable(str(tmp_path / "t"))
    t.append(spark, frame([("1.50", 1, 10), ("2.25", 1, 20)]), ["d"])
    t.merge(spark, frame([("2.25", 2, 21), ("-3.10", 2, 30)]), ["d"],
            "seq")
    got = {r.d: r.v for r in t.read(spark).collect()}
    D = decimal.Decimal
    assert got == {D("1.50"): 10, D("2.25"): 21, D("-3.10"): 30}
    assert all("d" not in e["stats"] for e in t.files())
    kept, _ = t.pruned_file_count({"d": (D("2.25"), D("2.25"))})
    assert kept >= 1
