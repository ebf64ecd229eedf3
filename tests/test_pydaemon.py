"""The Python worker daemon's import path (``pydaemon``): the archive
rule on its own, what a worker task sees, and where the rule may live."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap
import zipfile

from python_minerva_etl_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "python_minerva_etl_spark")


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _tree(root, files: dict[str, bytes]) -> str:
    for name, data in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    return str(root)


PKG_FILES = {"pkg/__init__.py": b"X = 1\n", "pkg/sub/__init__.py": b"",
             "pkg/sub/mod.py": b"def f():\n    return 2\n"}


# ------------------------------------------------------- the path rule


def test_archive_without_python_is_dropped(tmp_path):
    jar = _zip(tmp_path / "core.jar", {"org/a/B.class": b"\xca\xfe",
                                       "META-INF/MANIFEST.MF": b"x"})
    other = str(tmp_path)
    assert pydaemon.lean_path([other, jar]) == [other]


def test_archive_shadowed_byte_for_byte_is_dropped(tmp_path):
    # the archive also holds files the directory lacks (a test suite)
    arc = _zip(tmp_path / "pkg.zip",
               {**PKG_FILES, "pkg/tests/test_x.py": b"assert True\n",
                "pkg/data.json": b"{}"})
    site = _tree(tmp_path / "site", PKG_FILES)
    path = [str(tmp_path / "cwd"), arc, site]
    assert pydaemon.lean_path(path) == [path[0], site]


def test_one_differing_shared_file_keeps_archive(tmp_path):
    arc = _zip(tmp_path / "pkg.zip", PKG_FILES)
    site = _tree(tmp_path / "site",
                 {**PKG_FILES, "pkg/sub/mod.py": b"def f():\n    return 3\n"})
    assert pydaemon.lean_path([arc, site]) == [arc, site]


def test_missing_package_init_keeps_archive(tmp_path):
    arc = _zip(tmp_path / "pkg.zip", PKG_FILES)
    site = _tree(tmp_path / "site", {k: v for k, v in PKG_FILES.items()
                                     if k != "pkg/__init__.py"})
    assert pydaemon.lean_path([arc, site]) == [arc, site]


def test_first_provider_decides(tmp_path):
    """The directory compared is the one that would serve the import
    once the archive is gone: an earlier, different copy keeps it."""
    arc = _zip(tmp_path / "pkg.zip", PKG_FILES)
    stale = _tree(tmp_path / "stale", {**PKG_FILES, "pkg/__init__.py": b""})
    site = _tree(tmp_path / "site", PKG_FILES)
    assert pydaemon.lean_path([arc, stale, site]) == [arc, stale, site]
    assert pydaemon.lean_path([arc, site, stale]) == [site, stale]


def test_corrupt_archive_is_kept(tmp_path):
    bad = tmp_path / "broken.zip"
    bad.write_bytes(b"PK\x03\x04 not really a zip")
    site = _tree(tmp_path / "site", PKG_FILES)
    assert pydaemon.lean_path([str(bad), site]) == [str(bad), site]


def test_prune_evicts_removed_entries_from_importer_cache(tmp_path):
    jar = _zip(tmp_path / "core.jar", {"org/a/B.class": b"\xca\xfe"})
    arc = _zip(tmp_path / "pkg.zip", PKG_FILES)
    site = _tree(tmp_path / "site", PKG_FILES)
    path = [arc, jar, site]
    cache = {arc: 1, arc + os.sep + "pkg": 2, jar: 3,
             jar + os.sep + "org": 4, site: 5, arc + "x": 6}
    assert pydaemon.prune(path, cache) == [arc, jar]
    assert path == [site]
    assert cache == {site: 5, arc + "x": 6}


def test_error_in_check_leaves_path_unchanged(tmp_path, monkeypatch):
    jar = _zip(tmp_path / "core.jar", {"org/a/B.class": b"\xca\xfe"})
    path, cache = [jar, str(tmp_path)], {jar: 1}

    def boom(*_a):
        raise RuntimeError("boom")

    monkeypatch.setattr(pydaemon, "_redundant", boom)
    assert pydaemon.prune(path, cache) == []
    assert path == [jar, str(tmp_path)] and cache == {jar: 1}


# ---------------------------------------------------- inside a worker


def test_worker_imports_pyspark_from_a_directory(spark):
    def probe(batches):
        import zipimport

        import pandas as pd
        import pyspark
        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"file": [pyspark.__file__],
                            "zips": [len(zips)]})

    rows = spark.range(2, numPartitions=2).mapInPandas(
        probe, "file string, zips long").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert r.zips == 0


def test_add_py_file_is_importable_in_a_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    mod = tmp_path / "pydaemon_addpyfile_probe.py"
    mod.write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(mod))

    @F.udf("long")
    def plus_one(x):
        import pydaemon_addpyfile_probe
        return pydaemon_addpyfile_probe.VALUE + x

    got = spark.range(1, 3).select(plus_one("id").alias("v")).collect()
    assert sorted(r.v for r in got) == [42, 43]


def test_driver_outside_the_repo_launches_workers(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from python_minerva_etl_spark.session import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        n = spark.range(3).mapInPandas(lambda it: it, "id long").count()
        spark.stop()
        print("rows", n)
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 3" in out.stdout


# ------------------------------------------------------------ tooling


def _package_trees():
    for dirpath, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), ast.parse(fh.read(), path)


_SYS_PATHS = ("path", "path_importer_cache")
_MUTATORS = {"insert", "append", "extend", "remove", "pop", "clear",
             "update", "setdefault", "popitem", "__setitem__",
             "__delitem__"}


def _is_sys_path(node) -> bool:
    while isinstance(node, ast.Subscript):
        node = node.value
    return (isinstance(node, ast.Attribute) and node.attr in _SYS_PATHS
            and isinstance(node.value, ast.Name) and node.value.id == "sys")


def _sys_path_writes(tree) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Assign, ast.Delete)):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr in _MUTATORS):
            targets = [node.func.value]
        else:
            continue
        if any(_is_sys_path(t) for t in targets):
            lines.append(node.lineno)
    return lines


def test_sys_path_write_detector():
    src = ("import sys\nsys.path[:] = []\ndel sys.path_importer_cache['x']\n"
           "sys.path.insert(0, 'y')\nsys.path_importer_cache.clear()\n"
           "n = len(sys.path)\nprint(sys.path[0])\n")
    assert _sys_path_writes(ast.parse(src)) == [2, 3, 4, 5]


def test_daemon_path_rule_lives_in_one_place():
    """Only session.py names the daemon module conf, and only pydaemon
    writes ``sys.path`` or ``sys.path_importer_cache``."""
    conf, writes = [], []
    for rel, tree in _package_trees():
        conf += [f"{rel}:{n.lineno}" for n in ast.walk(tree)
                 if isinstance(n, ast.Constant)
                 and n.value == "spark.python.daemon.module"]
        if rel != "pydaemon.py":
            writes += [f"{rel}:{ln}" for ln in _sys_path_writes(tree)]
    assert [c.split(":")[0] for c in conf] == ["session.py"], conf
    assert not writes, writes
