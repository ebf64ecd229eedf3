"""Spark's Python worker daemon, started on an import path with no
shadowed archives.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so the JVM starts the daemon as ``python -m
python_minerva_etl_spark.pydaemon``.  Before it imports ``pyspark.daemon``
the module drops from ``sys.path`` every archive that is dead weight:

- an archive that holds no ``.py`` file (the ``spark-core`` jar Spark
  puts on the worker path), or
- an archive whose top-level packages would all be served, once it is
  gone, by a directory on the path holding them as regular packages
  with a byte-identical copy of every ``.py`` file the two share (the
  ``pyspark.zip`` and py4j zip of a distribution whose pyspark is also
  pip-installed; the files only the zip holds are pyspark's own test
  suites).

Everything else stays, in its original order: an archive that differs
in one shared file, whose package directory is missing, or that cannot
be read.  Any other error leaves ``sys.path`` as it was.

Why: pyspark's worker calls ``importlib.invalidate_caches()`` on every
task (``worker_util.setup_spark_files``), and every zipimporter in
``sys.path_importer_cache`` re-reads its archive's directory on that
call -- one per imported subpackage of the zip, 16 in all, about 0.2 CPU
s per task (PERF.md "The Python-task floor, removed").  Workers fork
from the daemon, so the check runs once per session.  The removed
entries are also evicted from ``sys.path_importer_cache``: locating
this module created importers for them, and ``invalidate_caches`` walks
the whole cache, not only ``sys.path``.
"""

from __future__ import annotations

import os
import sys
import traceback
import zipfile


def _top(name: str) -> str:
    return name.split("/", 1)[0]


def _provider(top: str, dirs: list[str]) -> str | None:
    """The first directory that would serve ``import top`` once the
    archives are gone, if it serves it as a regular package."""
    for d in dirs:
        if os.path.isfile(os.path.join(d, top, "__init__.py")):
            return d
        if os.path.isfile(os.path.join(d, top + ".py")):
            return None
    return None


def _redundant(archive: str, dirs: list[str]) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            py = [i for i in zf.infolist() if i.filename.endswith(".py")]
            if not py:
                return True
            providers = {t: _provider(t, dirs)
                         for t in {_top(i.filename) for i in py}}
            if None in providers.values():
                return False
            for info in py:
                path = os.path.join(providers[_top(info.filename)],
                                    info.filename)
                if not os.path.isfile(path):
                    continue
                if os.path.getsize(path) != info.file_size:
                    return False
                with open(path, "rb") as fh:
                    if fh.read() != zf.read(info):
                        return False
            return True
    except (OSError, zipfile.BadZipFile):
        return False


def lean_path(path: list[str]) -> list[str]:
    """``path`` without the archives whose Python a directory entry
    already provides byte-for-byte, or that hold no Python at all."""
    dirs = [p for p in path if os.path.isdir(p)]
    return [p for p in path
            if not (os.path.isfile(p) and _redundant(p, dirs))]


def prune(path: list[str], importer_cache: dict) -> list[str]:
    """Drop the redundant archives from ``path`` in place and evict them
    (and their subdirectory entries) from ``importer_cache``; returns
    the removed entries.  On any error nothing changes: the daemon
    must start, so the error is reported on stderr (the executor log;
    stdout carries the daemon's port) and the path is left whole."""
    try:
        kept = lean_path(path)
    except Exception:
        traceback.print_exc()
        return []
    removed = [p for p in path if p not in kept]
    path[:] = kept
    for key in list(importer_cache):
        if any(key == r or key.startswith(r + os.sep) for r in removed):
            del importer_cache[key]
    return removed


if __name__ == "__main__":
    prune(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
