"""DuckDB oracle for the registry workloads' correctness gate.

Each registered query carries DuckDB SQL over the same parquet tables. The
oracle results are computed once per invocation; every Spark result is
compared with its oracle after normalising column order, integer widths and
timestamp units (the engines differ there without differing in value).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from gen import star_sizes

TABLES = tuple(star_sizes(0.0, 0.0))


def normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif dt in ("int32", "int16", "int8", "Int32", "Int16", "Int8"):
            df[c] = df[c].astype("int64")
        elif dt == "float32":
            df[c] = df[c].astype("float64")
        elif dt == "object":
            df[c] = df[c].map(_hashable)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _hashable(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    return v


def same(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = normalise(got), normalise(want)
    if g.equals(w):
        return None
    for c in g.columns:
        a, b = g[c], w[c]
        if a.equals(b):
            continue
        if a.dtype.kind == "f" and b.dtype.kind in "fi":
            if np.allclose(a.to_numpy(float), b.to_numpy(float),
                           rtol=1e-9, atol=0.0, equal_nan=True):
                continue
        if list(a) == list(b):  # object columns of equal values
            continue
        return f"column {c!r} differs"
    return None


class Oracle:
    """One DuckDB connection with the generated tables as views."""

    def __init__(self, sf_dir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        for name in TABLES:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"'{sf_dir}/{name}.parquet'")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()
