"""Correctness gate: compare a query's Spark result with its DuckDB
oracle over the same input files.

The canonical form and the cell equality are those of the engine's
oracle-parity test suite, copied here so the benchmark does not import
the tests: columns sorted by name, NaN and None are one null, numpy
scalars unwrap to Python values, bytes compare as hex, list cells are
refused, and rows are sorted on every column. Floats must match
exactly, because every oracle-checked query rounds its float output.
"""

from __future__ import annotations

import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``sf_dir``
    (single file, or a directory of part files)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if (hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1) or isinstance(v, (list, tuple)):
        raise TypeError(f"list-valued result cell {v!r}")
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, bytes):
        return v.hex()
    return v


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = pd.DataFrame(index=df.index)
    for c in df.columns:
        col = df[c]
        if col.dtype.kind in "iub":
            out[c] = col  # already exact scalars; _cell would only unwrap them
        elif col.dtype.kind == "f":
            out[c] = col.astype(object).where(col.notna(), None)
        else:
            out[c] = col.map(_cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` in canonical form, else a
    one-line description of the first difference."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    s, d = canon(got), canon(want)
    for c in s.columns:
        sv, dv = s[c].to_numpy(), d[c].to_numpy()
        # Elementwise ==, except that null matches null.
        with np.errstate(invalid="ignore"):
            same = np.asarray(sv == dv, dtype=bool)
        same |= pd.isna(s[c]).to_numpy() & pd.isna(d[c]).to_numpy()
        bad = np.flatnonzero(~same)
        if len(bad):
            i = bad[0]
            return f"{c}: {len(bad)} mismatches, first {sv[i]!r} != {dv[i]!r}"
    return None
