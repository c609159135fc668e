"""Compare a catalog query's Spark result with its DuckDB oracle over
the same parquet files: row count, column names, then values
order-insensitively (floats to a relative 1e-9)."""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pandas as pd


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        if os.path.exists(path) or "*" in path:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm_value(v):
    if pd.isna(v):
        return None
    if isinstance(v, (pd.Timestamp, dt.date, dt.datetime)):
        ts = pd.Timestamp(v)
        return ts.date().isoformat() if ts == ts.normalize() else ts.isoformat()
    return v


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_norm_value)
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def mismatch(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str | None:
    """None when the two results agree, else a one-line reason."""
    if len(spark_df) != len(duck_df):
        return f"row count {len(spark_df)} != oracle {len(duck_df)}"
    s_cols = sorted(c.lower() for c in spark_df.columns)
    d_cols = sorted(c.lower() for c in duck_df.columns)
    if s_cols != d_cols:
        return f"columns {s_cols} != oracle {d_cols}"
    spark_df = spark_df.set_axis([c.lower() for c in spark_df.columns], axis=1)
    duck_df = duck_df.set_axis([c.lower() for c in duck_df.columns], axis=1)
    s, d = _normalize(spark_df), _normalize(duck_df)
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col], d[col])):
            an, bn = pd.isna(a), pd.isna(b)
            if an and bn:
                continue
            if an != bn or not _equal(a, b):
                return f"value mismatch in {col} row {i}: {a!r} != oracle {b!r}"
    return None
