"""Output checks against DuckDB, the reference engine.

Follows the engine's oracle-determinism conventions (operators/spec.py):
results compare as order-insensitive row multisets, column names must
agree, floats compare exactly (the specs emit decimal-exact aggregates
through one final DOUBLE cast), timestamps compare naive.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd


def duckdb_conn(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def _same(x, y) -> bool:
    if x is None or y is None or (isinstance(x, float) and math.isnan(x)):
        return pd.isna(x) and pd.isna(y)
    if isinstance(x, float) or isinstance(y, float):
        return float(x) == float(y)
    return str(x) == str(y)


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the two results hold the same rows, else the first
    difference found."""
    a, e = _canon(actual), _canon(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return f"row count {len(a)} != {len(e)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c], e[c])):
            if not _same(x, y):
                return f"{c}[{i}]: {x!r} != {y!r}"
    return None
