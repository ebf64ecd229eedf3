"""Apache Avro 1.11 object-container files: the one implementation.

Iceberg manifests and manifest lists (``iceberg.py`` reads them,
``iceberg_write.py`` writes them), the Avro source and the Avro sink
(``sources/avro.py``) all go through this module, stdlib + pyarrow
only:

- **datum codec**: :func:`_decode` (writer-schema driven: zigzag
  varints, blocked arrays/maps, unions, named types, nested records)
  and :func:`_avro_encode`;
- **header**: :func:`_read_header` — magic ``Obj\\x01``, the metadata
  map and the 16-byte sync marker, read with a doubling probe, never
  the whole file;
- **blocks**: :func:`_split_blocks` streams the blocks a byte range
  OWNS (see its docstring), checking each trailing sync marker;
  :func:`avro_blocks` / :func:`avro_read` are that iterator over a
  whole in-memory payload;
- **codecs**: one table per direction over the complete Avro 1.11
  set — null, deflate (raw zlib), snappy (raw snappy + big-endian
  CRC32 of the uncompressed data), zstandard (a bare zstd frame),
  bzip2, xz;
- **writer**: :func:`write_container` frames ``(count, body)`` blocks
  under one header and a random sync marker.

Malformed input raises ``ValueError`` — a truncated buffer, a sync
mismatch, an unknown codec, an enum or union index outside its
schema — never a silently misread value.
"""

from __future__ import annotations

import bz2
import io
import json
import lzma
import struct
import uuid
import zlib

_MAGIC = b"Obj\x01"
_META_SCHEMA = {"type": "map", "values": "bytes"}


# ----------------------------------------------------------- datum codec

class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("avro: truncated input")
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag varint (Avro spec 'Binary encoding / primitives')."""
        shift = acc = 0
        while True:
            (b,) = self.read(1)
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)


def _index(cur: _Cursor, n: int, what: str) -> int:
    """An enum symbol or union branch index, checked against the
    ``n`` the schema declares (a negative index must not wrap)."""
    i = cur.read_long()
    if not 0 <= i < n:
        raise ValueError(f"avro: {what} index out of range")
    return i


def _decode(cur: _Cursor, schema, names: dict):
    """Decode one datum per the writer schema (Avro 1.11 binary
    encoding).  ``names`` carries previously defined named types so
    references decode correctly."""
    if isinstance(schema, str) and schema in names:
        schema = names[schema]
    if isinstance(schema, list):  # union: branch index then value
        return _decode(cur, schema[_index(cur, len(schema), "union")],
                       names)
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return cur.read(1) != b"\x00"
        if t in ("int", "long"):
            return cur.read_long()
        if t == "float":
            return struct.unpack("<f", cur.read(4))[0]
        if t == "double":
            return struct.unpack("<d", cur.read(8))[0]
        if t == "bytes":
            return cur.read(cur.read_long())
        if t == "string":
            return cur.read(cur.read_long()).decode("utf-8")
        raise ValueError(f"avro: unknown primitive {t!r}")
    t = schema["type"]
    if t in ("record", "enum", "fixed") and schema.get("name"):
        names[schema["name"]] = schema
    if t == "record":
        return {f["name"]: _decode(cur, f["type"], names)
                for f in schema["fields"]}
    if t == "enum":
        symbols = schema["symbols"]
        return symbols[_index(cur, len(symbols), "enum")]
    if t == "fixed":
        return cur.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                cur.read_long()
            for _ in range(n):
                out.append(_decode(cur, schema["items"], names))
    if t == "map":
        out = {}
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:
                n = -n
                cur.read_long()
            for _ in range(n):
                k = cur.read(cur.read_long()).decode("utf-8")
                out[k] = _decode(cur, schema["values"], names)
    if t in ("null", "boolean", "int", "long", "float", "double",
             "bytes", "string"):
        return _decode(cur, t, names)  # {"type": "long"} wrapper form
    raise ValueError(f"avro: unsupported schema {t!r}")


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_encode(value, schema) -> bytes:
    if isinstance(schema, list):  # union — null first per our schemas
        if value is None:
            return _zigzag(schema.index("null"))
        idx = next(i for i, s in enumerate(schema) if s != "null")
        return _zigzag(idx) + _avro_encode(value, schema[idx])
    if isinstance(schema, str):
        if schema == "null":
            return b""
        if schema == "boolean":
            return b"\x01" if value else b"\x00"
        if schema in ("int", "long"):
            return _zigzag(int(value))
        if schema == "float":
            return struct.pack("<f", value)
        if schema == "double":
            return struct.pack("<d", value)
        if schema == "bytes":
            return _zigzag(len(value)) + bytes(value)
        if schema == "string":
            b = value.encode("utf-8")
            return _zigzag(len(b)) + b
        raise ValueError(f"avro encode: unsupported type {schema!r}")
    t = schema["type"]
    if t == "record":
        return b"".join(_avro_encode(value.get(f["name"]), f["type"])
                        for f in schema["fields"])
    if t == "array":
        if not value:
            return _zigzag(0)
        return (_zigzag(len(value))
                + b"".join(_avro_encode(v, schema["items"])
                           for v in value)
                + _zigzag(0))
    if t == "map":
        if not value:
            return _zigzag(0)
        body = b"".join(_avro_encode(k, "string")
                        + _avro_encode(v, schema["values"])
                        for k, v in value.items())
        return _zigzag(len(value)) + body + _zigzag(0)
    raise ValueError(f"avro encode: unsupported type {t!r}")


# ---------------------------------------------------------------- codecs

def _snappy(block: bytes) -> bytes:
    """Avro-snappy blocks: raw snappy body + big-endian CRC32 of the
    UNCOMPRESSED data.  Raw snappy's leading varint is the
    uncompressed length, which pyarrow's decompressor needs."""
    import pyarrow as pa

    body, crc = block[:-4], block[-4:]
    size = shift = i = 0
    while True:
        b = body[i]
        size |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            break
        shift += 7
    data = pa.Codec("snappy").decompress(body, size, asbytes=True)
    if struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF) != crc:
        raise ValueError("avro: snappy block CRC mismatch")
    return data


def _snappy_compress(body: bytes) -> bytes:
    import pyarrow as pa

    return (pa.Codec("snappy").compress(body, asbytes=True)
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))


def _zstd_frame_size(body: bytes):
    """Frame_Content_Size of a zstd frame (RFC 8878 §3.1.1.1), or
    None when the header omits it.  Parsed so pyarrow's zstd
    decompressor (which requires the exact output size) can run
    without the optional ``zstandard`` package; every whole-buffer
    zstd writer (fastavro via zstandard.compress, Java avro, pyarrow)
    records the size because it is known at compress time."""
    if len(body) < 6 or body[:4] != b"\x28\xb5\x2f\xfd":
        return None  # not a (single, non-skippable) zstd frame
    fhd = body[4]
    fcs_flag = fhd >> 6
    single = (fhd >> 5) & 1
    pos = 5 + (0 if single else 1)          # window descriptor
    pos += (0, 1, 2, 4)[fhd & 3]            # dictionary id
    if fcs_flag == 0:
        return body[pos] if single else None
    if fcs_flag == 1:
        return int.from_bytes(body[pos:pos + 2], "little") + 256
    if fcs_flag == 2:
        return int.from_bytes(body[pos:pos + 4], "little")
    return int.from_bytes(body[pos:pos + 8], "little")


def _zstd(body: bytes) -> bytes:
    """Decompress one Avro-zstandard block (a bare zstd frame, no
    checksum suffix — Avro 1.11 "Required Codecs... zstandard")."""
    import pyarrow as pa

    size = _zstd_frame_size(body)
    if size is None:
        raise ValueError(
            "avro: zstandard block's frame header carries no "
            "content size — streaming-compressed frames are not "
            "supported (re-encode with whole-block compression)")
    return pa.Codec("zstd").decompress(body, size, asbytes=True)


def _zstd_compress(body: bytes) -> bytes:
    import pyarrow as pa

    comp = pa.Codec("zstd").compress(body, asbytes=True)
    if _zstd_frame_size(comp) != len(body):
        raise ValueError("avro sink: zstd frame lost its content size")
    return comp


def _deflate(body: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    return co.compress(body) + co.flush()


_DECOMPRESS = {
    "null": lambda b: b,
    "deflate": lambda b: zlib.decompress(b, -15),
    "snappy": _snappy,
    "zstandard": _zstd,
    "bzip2": bz2.decompress,
    "xz": lambda b: lzma.decompress(b, format=lzma.FORMAT_XZ),
}

_COMPRESS = {
    "null": lambda b: b,
    "deflate": _deflate,
    "snappy": _snappy_compress,
    "zstandard": _zstd_compress,
    "bzip2": bz2.compress,
    "xz": lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
}

CODECS = tuple(_COMPRESS)


def _codec(table: dict, name: str):
    try:
        return table[name]
    except KeyError:
        raise ValueError(f"avro: unsupported codec {name!r}") from None


# ---------------------------------------------------- header and blocks
#
# Avro object-container files are splittable by design: every block
# is delimited by the file's random 16-byte sync marker (Avro 1.11
# "Object Container Files").  A byte range [start, end) of a file
# OWNS exactly the blocks whose preceding sync marker begins at an
# offset p with start <= p < end, the header's own trailing sync
# standing in for the first block's delimiter — so every block
# belongs to exactly one range and a file decodes across N tasks
# with no coordination.  Range scans locate the first owned sync by
# pattern search (the spec's sanctioned strategy; a coincidental
# 16-byte match in block data has probability 2^-128 per offset and
# would fail loudly at the next trailing-sync check, never decode
# garbage).  Blocks are STREAMED — a reader holds one compressed
# block, never the file.

def _read_header(fh) -> tuple[dict, bytes, int]:
    """(metadata, sync_marker, header_end_offset) from an open file,
    reading only the header bytes (doubling probe, not the file)."""
    size = 1 << 16
    while True:
        fh.seek(0)
        buf = fh.read(size)
        cur = _Cursor(buf)
        try:
            if cur.read(4) != _MAGIC:
                raise ValueError("not an Avro object-container file")
            meta = _decode(cur, _META_SCHEMA, {})
            sync = cur.read(16)
            return meta, sync, cur.pos
        except ValueError as exc:
            if "truncated" in str(exc) and len(buf) == size:
                size *= 2  # header longer than the probe; widen
                continue
            raise


def _find_sync(fh, sync: bytes, start: int, limit: int):
    """First offset p in [start, limit) where the 16-byte ``sync``
    pattern begins, scanning forward in 1 MiB chunks with a 15-byte
    overlap so straddling matches are found.  None if absent."""
    chunk_size = 1 << 20
    fh.seek(start)
    buf = b""
    base = start  # absolute offset of buf[0]
    while base < limit:
        chunk = fh.read(chunk_size)
        if not chunk:
            return None
        buf += chunk
        i = buf.find(sync)
        if i != -1:
            p = base + i
            return p if p < limit else None
        keep = min(15, len(buf))
        base += len(buf) - keep
        buf = buf[-keep:]
    return None


def _read_varint_stream(fh) -> int:
    """Zigzag varint from a (buffered) file object."""
    shift = acc = 0
    while True:
        b = fh.read(1)
        if not b:
            raise ValueError("avro: truncated input")
        v = b[0]
        acc |= (v & 0x7F) << shift
        if not v & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _split_blocks(fh, sync: bytes, codec: str, start: int, end: int,
                  header_end: int, file_size: int):
    """Yield ``(count, decompressed_bytes)`` for the blocks OWNED by
    byte range [start, end) under the preceding-sync ownership rule.
    Streams: reads each block's two varints, its body, and its
    trailing sync — never the whole file."""
    decompress = _codec(_DECOMPRESS, codec)
    hsync = header_end - 16  # the first block's "preceding sync"
    if hsync >= end:
        return  # range lies entirely inside the header
    if start <= hsync:
        pos = header_end
    else:
        p = _find_sync(fh, sync, start, end)
        if p is None:
            return  # no block starts in this range
        pos = p + 16
    if pos >= file_size:
        return  # range's sync is the file's final one — no block
    fh.seek(pos)
    while True:
        n = _read_varint_stream(fh)
        size = _read_varint_stream(fh)
        body = fh.read(size)
        if len(body) != size:
            raise ValueError("avro: truncated block")
        if fh.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        yield n, decompress(body)
        pos = fh.tell()
        if pos >= file_size or pos - 16 >= end:
            return  # EOF, or the next block's sync is past our range


def _header_codec(meta: dict) -> str:
    return meta.get("avro.codec", b"null").decode("utf-8")


def avro_blocks(payload: bytes) -> tuple[dict, list]:
    """``(header_metadata, [(record_count, decompressed_block), ...])``
    of a whole in-memory container: the block iterator over the range
    [0, len(payload))."""
    fh = io.BytesIO(payload)
    meta, sync, header_end = _read_header(fh)
    return meta, list(_split_blocks(fh, sync, _header_codec(meta), 0,
                                    len(payload), header_end,
                                    len(payload)))


def avro_read(payload: bytes) -> tuple[dict, list]:
    """Decode an Avro object-container file: returns
    (header_metadata, records)."""
    meta, blocks = avro_blocks(payload)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    records = []
    for n, block in blocks:
        bcur = _Cursor(block)
        names: dict = {}
        for _ in range(n):
            records.append(_decode(bcur, schema, names))
    return meta, records


# ---------------------------------------------------------------- writer

def write_container(schema: dict, blocks, codec: str = "null") -> bytes:
    """One object-container file from ``(count, encoded_body)``
    blocks (consumed lazily, compressed one at a time) under a random
    sync marker."""
    compress = _codec(_COMPRESS, codec)
    sync = uuid.uuid4().bytes
    out = bytearray(_MAGIC)
    out += _avro_encode({"avro.schema": json.dumps(schema).encode(),
                         "avro.codec": codec.encode()}, _META_SCHEMA)
    out += sync
    for n, body in blocks:
        body = compress(body)
        out += _zigzag(n) + _zigzag(len(body)) + body + sync
    return bytes(out)


def _avro_file(schema: dict, records: list) -> bytes:
    """``records`` as one null-codec container holding ONE block (an
    empty block when there are no records) — the manifest and
    manifest-list shape."""
    body = b"".join(_avro_encode(r, schema) for r in records)
    return write_container(schema, [(len(records), body)])
