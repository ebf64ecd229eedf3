#!/usr/bin/env python
"""Scale probe for the splittable Avro source (round-8 verdict #1).

Synthesizes ONE ~1 GiB Avro object-container file (256 x 4 MiB
blocks — a 4 MiB record-template body encoded once, each block's
first record patched with a fixed-width block id so any lost or
duplicated block shifts sum(bid)), then proves the three scale
claims:

1. PARALLELISM — the same single file reads as 1 task (whole-file
   split) and as N tasks (64 MiB splits) with identical count and
   sum(bid); wall-clock speedup is reported.
2. FLAT MEMORY — a subprocess decodes one 64 MiB byte range via
   ``_split_blocks`` and reports ru_maxrss: bounded by one block +
   interpreter overhead, nowhere near the 1 GiB file.
3. NO DRIVER BYTES — the read plans from (path, start, end) triples
   only; this script never ships file bytes through the driver.

Prints one JSON line; paste the figures into PERF.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BLOCK_RECS = 260_000          # ~4 MiB of {bid,i,v} varint records
N_BLOCKS = 256                # -> ~1 GiB file
BID_BASE = 1 << 27            # zigzag(2^27 + k) is 4 bytes for k<2^26

PATH = "/tmp/avro_split_probe/big.avro"
SCHEMA = {"type": "record", "name": "probe", "fields": [
    {"name": "bid", "type": "long"},
    {"name": "i", "type": "long"},
    {"name": "v", "type": "long"}]}


def _build_file() -> None:
    from python_minerva_etl_spark.storage.avro_file import (
        _zigzag, write_container)

    os.makedirs(os.path.dirname(PATH), exist_ok=True)
    body = bytearray()
    for i in range(BLOCK_RECS):
        body += _zigzag(BID_BASE) + _zigzag(i) + _zigzag(i * 7 % 97)
    body = bytes(body)
    patch = {k: _zigzag(BID_BASE + k) for k in range(N_BLOCKS)}
    assert all(len(p) == len(patch[0]) for p in patch.values())
    w = len(patch[0])

    head = write_container(SCHEMA, [])  # magic, metadata map, sync
    sync = head[-16:]
    frame = _zigzag(BLOCK_RECS) + _zigzag(len(body))
    with open(PATH, "wb") as fh:
        fh.write(head)
        for k in range(N_BLOCKS):
            fh.write(frame)
            fh.write(patch[k] + body[w:])
            fh.write(sync)


def _measure(spark, split_bytes: int) -> tuple[float, int, int, int]:
    from pyspark.sql import functions as F

    from python_minerva_etl_spark.sources.avro import read_avro

    t0 = time.perf_counter()
    df = read_avro(spark, PATH, split_bytes=split_bytes)
    ntasks = df.rdd.getNumPartitions()
    agg = df.agg(F.count("*").alias("n"),
                 F.sum("bid").alias("sb")).collect()[0]
    return time.perf_counter() - t0, ntasks, agg["n"], agg["sb"]


_CHILD = r"""
import resource, sys, time
sys.path.insert(0, %(repo)r)
from python_minerva_etl_spark.storage.avro_file import (
    _Cursor, _decode, _read_header, _split_blocks)
import json as _json
start, end = int(sys.argv[1]), int(sys.argv[2])
with open(%(path)r, "rb") as fh:
    meta, sync, hend = _read_header(fh)
    schema = _json.loads(meta["avro.schema"].decode())
    size = fh.seek(0, 2)
    rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    n_rows = blocks = 0
    for n, body in _split_blocks(fh, sync, "null", start, end,
                                 hend, size):
        cur = _Cursor(body); names = {}
        for _ in range(n):
            _decode(cur, schema, names)
        n_rows += n; blocks += 1
    rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
print(_json.dumps({"blocks": blocks, "rows": n_rows,
                   "maxrss_mb": round(rss1 / 1024, 1),
                   "rss0_mb": round(rss0 / 1024, 1)}))
"""


def main() -> None:
    if not os.path.exists(PATH):
        t0 = time.perf_counter()
        _build_file()
        build_s = round(time.perf_counter() - t0, 1)
    else:
        build_s = 0.0
    size = os.path.getsize(PATH)

    # flat-memory subprocess FIRST (no Spark in that process)
    child = subprocess.run(
        [sys.executable, "-c",
         _CHILD % {"repo": REPO, "path": PATH},
         str(256 << 20), str((256 + 64) << 20)],
        capture_output=True, text=True, check=True)
    mem = json.loads(child.stdout)

    from python_minerva_etl_spark.session import get_spark
    spark = get_spark(app_name="avro-split-probe")
    spark.sparkContext.setLogLevel("ERROR")

    want_n = BLOCK_RECS * N_BLOCKS
    want_sb = (BID_BASE * BLOCK_RECS * N_BLOCKS
               + sum(range(N_BLOCKS)))
    results = {}
    for label, sb in [("tasks_16", 64 << 20), ("tasks_1", 2 << 30)]:
        # warm page cache pass then measured pass
        _measure(spark, sb)
        sec, ntasks, n, sbid = _measure(spark, sb)
        assert n == want_n, (n, want_n)
        assert sbid == want_sb, (sbid, want_sb)
        results[label] = {"sec": round(sec, 2), "tasks": ntasks,
                          "MBps": round(size / 2**20 / sec, 1)}
    print(json.dumps({
        "file_GiB": round(size / 2**30, 2),
        "build_sec": build_s,
        "rows": want_n,
        "split": results,
        "speedup": round(results["tasks_1"]["sec"]
                         / results["tasks_16"]["sec"], 2),
        "one_split_decode_maxrss_mb": mem["maxrss_mb"],
        "split_range_mb": 64,
        "parity": "count+sum(bid) exact at both split sizes",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
