"""Correctness checks: query results against the DuckDB oracle, and row
counts and order-insensitive digests of the import's Parquet and JDBC
outputs. The import checks run outside Spark, so they add no Spark jobs.

The row normalization follows ``tools/check_oracle.py`` but is kept here, so
the benchmark's verdicts do not change when the program's tools do."""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pandas as pd
import pyarrow.dataset as ds


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        table = name.removesuffix(".parquet")
        path = os.path.join(sf_dir, name)
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if getattr(v, "ndim", 0):  # numpy array cell
        return tuple(_cell(x) for x in v.tolist())
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    item = getattr(v, "item", None)  # numpy scalar
    if item is not None and not isinstance(v, (int, str, bool, bytes)):
        return _cell(item())
    return v


def canonical(pdf) -> tuple[list[str], list[str], list[tuple]]:
    """Columns sorted by name, their dtype kinds, and the rows sorted: two
    frames with the same values in any row order compare equal."""
    cols = sorted(pdf.columns)
    kinds = ["i" if pdf[c].dtype.kind in "iu" else pdf[c].dtype.kind for c in cols]
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return cols, kinds, rows


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def parquet_digest(path: str) -> tuple[int, int]:
    """Row count and the wrapping sum of the rows' 64-bit hashes: equal for
    equal multisets of rows, whatever their order or file layout."""
    df = ds.dataset(path, format="parquet").to_table().to_pandas()
    return len(df), int(pd.util.hash_pandas_object(df, index=False).sum())


def jdbc_rows(jvm, url: str, table: str) -> int:
    """Row count of ``table`` read through a plain JDBC connection."""
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {table}")
        rs.next()
        return int(rs.getLong(1))
    finally:
        conn.close()
