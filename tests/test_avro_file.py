"""The one Avro object-container module (``storage/avro_file.py``):
every Avro 1.11 codec round-trips through its writer and reader, and
no other package module keeps its own copy of the format."""

from __future__ import annotations

import os
import re

import pytest

import python_minerva_etl_spark
from python_minerva_etl_spark.storage.avro_file import (CODECS,
                                                        _avro_encode,
                                                        avro_read,
                                                        write_container)

_SCHEMA = {"type": "record", "name": "r", "fields": [
    {"name": "i", "type": "long"},
    {"name": "s", "type": ["null", "string"]},
    {"name": "b", "type": "bytes"},
    {"name": "f", "type": "double"},
    {"name": "a", "type": {"type": "array", "items": "int"}},
]}

_RECS = [{"i": -(2**63), "s": None, "b": b"", "f": 0.5, "a": []},
         {"i": 7, "s": "é中x" * 50, "b": b"\x00\xff" * 40, "f": -1e300,
          "a": [1, -2, 3]},
         {"i": 2**63 - 1, "s": "", "b": b"z", "f": 3.0, "a": [0] * 9}]


def test_codec_set_is_avro_1_11():
    assert set(CODECS) == {"null", "deflate", "snappy", "zstandard",
                           "bzip2", "xz"}
    with pytest.raises(ValueError, match="unsupported codec 'zstd'"):
        write_container(_SCHEMA, [], "zstd")


@pytest.mark.parametrize("codec", CODECS)
def test_avro_read_roundtrips_every_codec(codec):
    """Multi-block containers in each codec, and a container with one
    empty block, decode to the records written."""
    blocks = [(2, b"".join(_avro_encode(r, _SCHEMA) for r in _RECS[:2])),
              (1, _avro_encode(_RECS[2], _SCHEMA))]
    meta, got = avro_read(write_container(_SCHEMA, blocks, codec))
    assert meta["avro.codec"] == codec.encode()
    assert got == _RECS
    assert avro_read(write_container(_SCHEMA, [(0, b"")], codec))[1] == []


def test_avro_format_lives_in_one_module():
    """The container magic, a zstandard codec branch and a zigzag
    encoder appear only in ``storage/avro_file.py``, and the Avro
    source keeps one vectorized plan and block decoder."""
    from python_minerva_etl_spark.sources import avro as avro_src

    pkg = os.path.dirname(python_minerva_etl_spark.__file__)
    home = os.path.join(pkg, "storage", "avro_file.py")
    markers = {
        "magic": re.compile(r'b"Obj\\x01"'),
        "zstandard branch": re.compile(
            r'==\s*"zstandard"|"zstandard"\s*:'),
        "zigzag encoder": re.compile(r"<<\s*1\)\s*\^"),
    }
    found = {k: [] for k in markers}
    for root, _dirs, names in os.walk(pkg):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            for k, rx in markers.items():
                if rx.search(text):
                    found[k].append(path)
    assert found == {k: [home] for k in markers}
    for name in ("_vector_plan", "_decode_block_vectorized",
                 "_VARINT_ZIGZAG"):
        assert not hasattr(avro_src, name), name
