"""Output checks: row count plus an order-insensitive hash of the rows.

Both engines' results are canonicalised the way ``scripts/driver_sim.py``
does before hashing: columns sorted by name, NULL/NaN/NaT folded to one
sentinel, integral numbers rendered as integers, timestamps as naive UTC,
and every value turned into a string before the rows are sorted.

Other numbers are rounded to 12 significant digits, not rendered with
``repr`` as that script does, because the engines may round the same
exact decimal to neighbouring doubles (a ``CAST(SUM(decimal) AS
DOUBLE)`` differs in the last bit between Spark and DuckDB on some
inputs).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

import duckdb
import pyarrow as pa


def canon(v) -> str:
    if v is None or v != v:  # None, NaN and NaT
        return "<NULL>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        if math.isfinite(v) and v == int(v) and abs(v) < 2**63:
            return str(int(v))
        return format(float(v), ".12g")
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count and order-insensitive hash of rows given in ``columns``
    order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(rows), "hash": h.hexdigest()}


def arrow_digest(table: pa.Table) -> dict:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest(cols, list(zip(*data)) if data else [])


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def duck_tables(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every fixture table loaded into memory.
    A fixture file is one row group, which DuckDB scans on one thread;
    its in-memory tables are split into row groups that it scans in
    parallel."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con
