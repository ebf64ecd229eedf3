"""Order-insensitive result hashing and the DuckDB oracle.

A result's check value is ``(row count, column names, digest)``; the
digest is a sha256 over the sorted canonical rows, where every value is
written at full precision (``repr`` of floats), so a last-bit float
difference fails the check.
"""

from __future__ import annotations

import hashlib
import math
import os

REGISTRY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    kind = type(v).__name__
    if isinstance(v, float) or kind in ("float32", "float64"):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, bool) or kind == "bool_":
        return str(bool(v))
    if isinstance(v, int) or kind in ("int8", "int16", "int32", "int64",
                                      "uint8", "uint16", "uint32", "uint64"):
        return str(int(v))
    if kind == "Decimal":
        return repr(float(v))
    if kind in ("Timestamp", "datetime"):
        import pandas as pd
        return "NULL" if v is pd.NaT else pd.Timestamp(v).isoformat()
    if kind == "NaTType":
        return "NULL"
    if isinstance(v, (list, tuple)) or kind == "ndarray":
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    return str(v)


def result_hash(pdf) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, digest) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_canon(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\x1e")
    return len(rows), tuple(cols), h.hexdigest()


def oracle_hash(sql: str, sf_dir: str) -> tuple[int, tuple[str, ...], str]:
    """Run ``sql`` in DuckDB over the parquet tables of ``sf_dir``."""
    import duckdb
    con = duckdb.connect()
    try:
        for name in REGISTRY_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{path}')")
        return result_hash(con.execute(sql).df())
    finally:
        con.close()
