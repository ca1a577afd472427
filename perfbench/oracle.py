"""Independent result checks.

Roster queries are checked against their registry DuckDB SQL, which
DuckDB evaluates by itself over the same parquet files: row count,
column names and every value must match, in any row order (the same
rule as the repository's own oracle tests, exact on floats).
"""

from __future__ import annotations

import decimal

import duckdb
import numpy as np
import pandas as pd

from .tables import TABLES


def run_duckdb(sql: str, data_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pd.DataFrame(index=pdf.index)
    for col in sorted(pdf.columns):
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype("bool")
        elif s.dtype == object:
            s = s.map(_canon)
        out[col] = s
    if len(out.columns) == 0:
        return out
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when equal as multisets of rows, else a short reason."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns differ: got {list(got.columns)} want {list(want.columns)}"
    if len(got) != len(want):
        return f"row count: got {len(got)} want {len(want)}"
    for col in got.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if np.issubdtype(g.dtype, np.floating) and np.issubdtype(w.dtype, np.floating):
            ok = bool(np.all((g == w) | (np.isnan(g) & np.isnan(w))))
        elif np.issubdtype(g.dtype, np.datetime64):
            ok = g.shape == w.shape and bool(np.all((g == w) | (np.isnat(g) & np.isnat(w))))
        else:
            ok = np.array_equal(g, w)
        if not ok:
            return f"values differ in column {col}"
    return None
