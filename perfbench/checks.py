"""Output checks: order-insensitive fingerprints and DuckDB oracles.

A result is compared as a multiset of rows with columns sorted by name.
Doubles and decimals are rounded to 9 significant digits, so the last-bit
differences between two engines' float sums never count as a mismatch.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

from trisk_spark.catalog import TABLES


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else float(f"{f:.9g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def fingerprint(columns: list[str], rows) -> tuple[list[str], int, str]:
    """(sorted column names, row count, sha256 of the sorted normalized rows)."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    keys = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return sorted(columns), len(keys), digest


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_fingerprint(con, sql: str):
    cur = con.execute(sql)
    return fingerprint([d[0] for d in cur.description], cur.fetchall())
