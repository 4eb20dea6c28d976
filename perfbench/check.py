"""Result check: a request's output against its DuckDB oracle.

Both sides are canonicalised (columns by name, rows sorted by every
column, integer and float dtypes widened) and compared cell by cell.
Floats must agree exactly after the rounding both sides already apply;
the only slack is one unit in the 7th decimal, the width of a rounding
tie that summation order can flip.  Requests without an oracle get the
rows-only contract: the result must be non-empty.

On a mismatch the check returns the problems and the first differing
rows of each side, so a failing request explains itself.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

FLOAT_SLACK = 1.01e-7
SHOW_ROWS = 5


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected_frame(key: str, compute, cache_dir: str) -> pd.DataFrame:
    """The expected answer named ``key``, computed once per input
    directory and kept as parquet under ``cache_dir``: the slowest
    oracles (unrolled or recursive CTEs, the stream's batch twin) take
    seconds, and neither the inputs nor the code change within a
    checkout."""
    path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".parquet")
    if os.path.exists(path):
        return pd.read_parquet(path)
    df = compute()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_parquet(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame | None) -> list[str]:
    """Problems found comparing ``got`` with ``want`` (empty list: match)."""
    if want is None:
        return [] if len(got) else ["rows-only check: empty result"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: got {sorted(got.columns)} want {sorted(want.columns)}"]
    a, b = canon(got), canon(want)
    if len(a) != len(b):
        return [f"row count differs: got {len(a)} want {len(b)}"] + _diff_rows(a, b)
    bad = np.zeros(len(a), dtype=bool)
    problems = []
    for c in a.columns:
        x, y = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating) and np.issubdtype(b[c].dtype, np.floating):
            eq = (np.abs(x - y) <= FLOAT_SLACK) | (np.isnan(x) & np.isnan(y))
        else:
            eq = x == y
        if (~eq).any():
            problems.append(f"{int((~eq).sum())} cells differ in column {c!r}")
            bad |= ~eq
    if problems:
        problems += [f"got  {r}" for r in a[bad].head(SHOW_ROWS).to_dict("records")]
        problems += [f"want {r}" for r in b[bad].head(SHOW_ROWS).to_dict("records")]
    return problems


def _diff_rows(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """First rows present on one side only (multiset difference)."""
    m = a.merge(b, how="outer", indicator=True)
    out = [f"got only  {r}" for r in
           m[m["_merge"] == "left_only"].drop(columns="_merge").head(SHOW_ROWS).to_dict("records")]
    out += [f"want only {r}" for r in
            m[m["_merge"] == "right_only"].drop(columns="_merge").head(SHOW_ROWS).to_dict("records")]
    return out
