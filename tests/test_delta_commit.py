"""The Delta commit (``storage/delta.py:DeltaTable._commit``): the log
every writer produces, pinned against a recorded shape; one race test
per conflict rule, each landing a racer's commit right after an
attempt listed the log's versions; and the files a refused or
exhausted commit leaves behind (none)."""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pytest

from python_minerva_etl_spark.storage import commit as commit_mod
from python_minerva_etl_spark.storage.delta import (DeltaConcurrentCommit,
                                                    DeltaTable, read_delta,
                                                    write_delta)
from python_minerva_etl_spark.storage.delta_dv import _dv_file_path

# recorded by running this module: python -m tests.test_delta_commit
SHAPE = os.path.join(os.path.dirname(__file__), "data",
                     "delta_commit_shape.json")

_UUID = re.compile(r"[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}"
                   r"-?[0-9a-f]{12}")
_TIME_KEYS = ("timestamp", "deletionTimestamp", "modificationTime",
              "createdTime", "lastUpdated")
_LOG = "_delta_log"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _norm(value, root: str):
    """``value`` with the table root, uuids, timestamps and DV names
    replaced by placeholders, and each file size that equals the size
    of the file it describes replaced by ``"=file"``."""
    if isinstance(value, str):
        return _UUID.sub("<uuid>", value.replace(root, "<root>"))
    if isinstance(value, list):
        return [_norm(v, root) for v in value]
    if not isinstance(value, dict):
        return value
    out = {}
    for k, v in value.items():
        if k in _TIME_KEYS:
            out[k] = "<ts>"
        elif k == "pathOrInlineDv" and value.get("storageType") == "u":
            out[k] = "<dv>"
        elif k == "size" and "path" in value and os.path.getsize(
                os.path.join(root, value["path"])) == v:
            out[k] = "=file"
        else:
            out[k] = _norm(v, root)
    return out


def _commit_shape(actions: list[dict], root: str) -> list:
    """One commit's actions, normalized.  Actions group by kind in the
    order each kind first appears; within a kind they are sorted (file
    names are random, so the order of file actions is not stable)."""
    kinds: dict[str, list] = {}
    for a in actions:
        (kind, body), = a.items()
        kinds.setdefault(kind, []).append({kind: _norm(body, root)})
    return [a for group in kinds.values()
            for a in sorted(group, key=lambda a: json.dumps(
                a, sort_keys=True))]


def table_shape(root: str) -> dict:
    """Every commit of the table at ``root``, normalized, and the names
    of the log's other files (checkpoints and their hint)."""
    log = os.path.join(root, _LOG)
    commits, others = [], []
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            others.append(name)
            continue
        with open(os.path.join(log, name)) as fh:
            commits.append(_commit_shape(
                [json.loads(line) for line in fh if line.strip()], root))
    return {"commits": commits, "log_files": others}


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.int64()), pa.array(cols[1], pa.string()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.int64())],
        names=["id", "v", "grp", "extra"])


def build_shape_table(spark, root: str) -> None:
    """The fixed commit sequence the recorded shape describes: every
    writer, each input one Spark partition so the file layout does not
    depend on the core count."""
    from python_minerva_etl_spark.streaming.delta_source import (
        _DeltaStreamWriter, _DeltaWriter)

    def df(rows, schema="id long, v string, grp string"):
        return spark.createDataFrame(rows, schema).coalesce(1)

    wide = "id long, v string, grp string, extra long"
    dt = DeltaTable(root)
    dt.write(spark, df([(1, "a", "x"), (2, "b", "y"), (3, "c", "x")]),
             partition_by=["grp"])                                  # 0
    dt.write(spark, df([(4, "d", "y"), (5, "e", "x")]))             # 1
    dt.write(spark, df([(6, "f", "x", 60), (7, "g", "z", 70)], wide),
             merge_schema=True)                                     # 2
    dt.write(spark, df([(11, "k", "x", 110), (12, "l", "z", 120),
                        (13, "n", "x", 130), (14, "o", "y", 140)], wide),
             mode="overwrite", partition_by=["grp"])                # 3
    dt.delete(spark, "id = 12")                                     # 4
    dt.set_properties({"delta.enableChangeDataFeed": "true"})       # 5
    dt.update(spark, {"v": "'u'"}, where="id = 11")                 # 6
    dt.merge(spark, df([(13, "m", "x", 131), (15, "p", "y", 150)],
                       wide), "t.id = s.id",
             when_matched_update={"v": "s.v", "extra": "s.extra"})  # 7
    dt.replace_where(spark, df([(16, "q", "z", 160)], wide),
                     "grp = 'z'")                                   # 8
    dt.add_constraint(spark, "positive", "extra > 0")               # 9
    dt.drop_constraint("positive")                                  # 10
    dt.optimize(spark)                                              # 11
    dt.optimize(spark, zorder_by=["id", "extra"])                   # 12
    dt.write(spark, df([(17, "r", "x", 170)], wide))                # 13
    dt.optimize(spark, zorder_by=["id", "extra"], incremental=True)  # 14
    dt.restore(spark, 8)                                            # 15
    w = _DeltaWriter({"path": root}, dt.schema(), False)
    w.commit([w.write(iter([_batch([(18, "s", "y", 180)])]))])      # 16
    s = _DeltaStreamWriter({"path": root, "txnAppId": "shape"},
                           dt.schema(), False)
    s.commit([s.write(iter([_batch([(19, "t", "x", 190)])]))], 0)   # 17
    s.commit([s.write(iter([_batch([(20, "u", "z", 200),
                                    (21, "w", "z", 210)])]))], 1)   # 18
    s.commit([s.write(iter([_batch([(22, "y", "y", 220)])]))], 1)


def test_commit_log_shape_is_unchanged(spark, tmp_path):
    """Every writer's commit decodes to the recorded actions: protocol
    upgrades, metaData restatements, remove/add pairs with their DVs,
    cdc files, txn ledger entries, commitInfo and checkpoints."""
    root = str(tmp_path / "t")
    build_shape_table(spark, root)
    with open(SHAPE) as fh:
        want = json.load(fh)
    got = json.loads(json.dumps(table_shape(root)))
    assert len(got["commits"]) == len(want["commits"])
    for v, (g, w) in enumerate(zip(got["commits"], want["commits"])):
        assert g == w, f"commit {v}"
    assert got["log_files"] == want["log_files"]
    assert _rows(read_delta(spark, root)) == [
        (11, "u", "x", 110), (13, "m", "x", 131), (14, "o", "y", 140),
        (15, "p", "y", 150),
        (16, "q", "z", 160), (18, "s", "y", 180), (19, "t", "x", 190),
        (20, "u", "z", 200), (21, "w", "z", 210)]
    assert not _orphans(root)


# ------------------------------------------------------------ races


def _race_after(monkeypatch, step: str | None, racer) -> None:
    """Once ``DeltaTable.<step>`` has returned (at once when ``step``
    is None), run ``racer`` right after the next listing of the log's
    versions: the commit attempt that listed them loses its version to
    the racer."""
    versions = DeltaTable.versions
    armed = [step is None]

    def list_then_race(self):
        out = versions(self)
        if armed[0]:
            monkeypatch.setattr(DeltaTable, "versions", versions)
            racer()
        return out

    if step is not None:
        done = getattr(DeltaTable, step)

        def arm(self, *args, **kwargs):
            out = done(self, *args, **kwargs)
            monkeypatch.setattr(DeltaTable, step, done)
            armed[0] = True
            return out

        monkeypatch.setattr(DeltaTable, step, arm)
    monkeypatch.setattr(DeltaTable, "versions", list_then_race)


def _files(root: str) -> set[str]:
    return {os.path.relpath(os.path.join(d, n), root)
            for d, _, names in os.walk(root) for n in names}


def _orphans(root: str) -> set[str]:
    """Files under ``root`` outside the log that no commit names: data
    and cdc files of add/remove/cdc actions, and their DV files."""
    log = os.path.join(root, _LOG)
    named = set()
    for name in os.listdir(log):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                (_, body), = json.loads(line).items()
                if not isinstance(body, dict) or "path" not in body:
                    continue
                named.add(os.path.normpath(body["path"]))
                dv = body.get("deletionVector")
                if dv and dv["storageType"] == "u":
                    named.add(os.path.relpath(_dv_file_path(
                        root, dv["pathOrInlineDv"]), root))
    return {f for f in _files(root)
            if not f.startswith(_LOG + os.sep)} - named


def _table(spark, p: str, rows, schema="id long, v string") -> DeltaTable:
    write_delta(spark, spark.createDataFrame(rows, schema).coalesce(1), p)
    return DeltaTable(p)


def test_delete_racing_a_delete_of_the_same_file_refuses(
        spark, tmp_path, monkeypatch):
    """Two DELETEs mask rows of one file.  The loser's attempt listed
    version 1 before the racer took it: it must re-check its file
    against the racer's commit and refuse.  Replaying the snapshot
    before listing the version let the loser commit at version 2 with
    a stale DV, and the log then held two active adds of the file."""
    p = str(tmp_path / "t")
    _table(spark, p, [(1, "a"), (2, "b"), (3, "c")])
    _race_after(monkeypatch, "_write_dvs",
                lambda: DeltaTable(p).delete(spark, "id = 3"))
    with pytest.raises(DeltaConcurrentCommit, match="changed"):
        DeltaTable(p).delete(spark, "id = 2")
    assert DeltaTable(p).versions() == [0, 1]
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b")]
    assert not _orphans(p)


def test_add_constraint_racing_a_violating_append_refuses(
        spark, tmp_path, monkeypatch):
    """The constraint scan reads the snapshot the commit builds on: an
    append that takes the attempt's version is scanned on the retry,
    so the constraint is never committed over its rows."""
    p = str(tmp_path / "t")
    dt = _table(spark, p, [(1, 10)], "id long, val long")
    _race_after(monkeypatch, None, lambda: DeltaTable(p).write(
        spark, spark.createDataFrame([(2, -5)], "id long, val long")))
    with pytest.raises(ValueError, match="existing rows violate"):
        dt.add_constraint(spark, "positive", "val > 0")
    conf = dt._replay()["metaData"].get("configuration") or {}
    assert "delta.constraints.positive" not in conf
    assert _rows(read_delta(spark, p)) == [(1, 10), (2, -5)]


def test_optimize_racing_a_delete_refuses(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    dt = _table(spark, p, [(1, "a")])
    dt.write(spark, spark.createDataFrame([(2, "b")], "id long, v string"))
    _race_after(monkeypatch, "_stage_data_files",
                lambda: DeltaTable(p).delete(spark, "id = 1"))
    with pytest.raises(DeltaConcurrentCommit, match="changed"):
        dt.optimize(spark)
    assert dt.versions() == [0, 1, 2]
    assert _rows(read_delta(spark, p)) == [(2, "b")]
    assert not _orphans(p)


def test_append_race_retries_and_keeps_both(spark, tmp_path,
                                            monkeypatch):
    p = str(tmp_path / "t")
    dt = _table(spark, p, [(1, "a")])
    _race_after(monkeypatch, "_stage_data_files",
                lambda: DeltaTable(p).write(spark, spark.createDataFrame(
                    [(2, "b")], "id long, v string")))
    assert dt.write(spark, spark.createDataFrame(
        [(3, "c")], "id long, v string")) == 2
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b"), (3, "c")]
    assert not _orphans(p)


def test_exhausted_append_removes_its_files(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "t")
    dt = _table(spark, p, [(1, "a")])
    monkeypatch.setattr(commit_mod, "COMMIT_ATTEMPTS", 1)
    _race_after(monkeypatch, "_stage_data_files",
                lambda: DeltaTable(p).write(spark, spark.createDataFrame(
                    [(2, "b")], "id long, v string")))
    with pytest.raises(DeltaConcurrentCommit, match="lost the commit"):
        dt.write(spark, spark.createDataFrame([(3, "c")],
                                              "id long, v string"))
    assert _rows(read_delta(spark, p)) == [(1, "a"), (2, "b")]
    assert not _orphans(p)


def test_mismatched_append_refuses_before_staging(spark, tmp_path):
    p = str(tmp_path / "t")
    dt = _table(spark, p, [(1,)], "id long")
    before = _files(p)
    with pytest.raises(ValueError, match="schema mismatch"):
        dt.write(spark, spark.createDataFrame([("x",)], "s string"))
    assert _files(p) == before
    assert dt.versions() == [0]


def test_write_continues_a_fully_checkpointed_log(spark, tmp_path):
    """Log cleanup may expire every JSON commit a checkpoint covers.
    The next commit follows the checkpoint: at version 0 it restarted
    the log below the checkpoint, where no reader looks, and the
    appended row was lost."""
    p = str(tmp_path / "t")
    for i in range(11):
        write_delta(spark, spark.createDataFrame([(i,)], "id long"), p)
    for v in range(11):
        os.remove(os.path.join(p, _LOG, f"{v:020d}.json"))
    assert write_delta(spark, spark.createDataFrame(
        [(99,)], "id long"), p) == 11
    assert _rows(read_delta(spark, p)) == [
        (i,) for i in [*range(11), 99]]


if __name__ == "__main__":
    import tempfile

    from python_minerva_etl_spark.session import get_spark

    session = get_spark(app_name="delta-commit-shape",
                        shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as d:
        build_shape_table(session, os.path.join(d, "t"))
        with open(SHAPE, "w") as fh:
            json.dump(table_shape(os.path.join(d, "t")), fh,
                      sort_keys=True, separators=(",", ":"))
    session.stop()
