"""Result checks against independent DuckDB computations.

Query results are compared with ``Query.oracle_text()`` run by DuckDB
over the same parquet files, canonicalized the way the repository's
oracle-parity tests do it: columns sorted by name, every cell mapped to
an engine-independent string, rows sorted.  Unlike those tests, a
negative zero reads as zero: the values are equal, and which sign a
zero product carries differs between the engines.
"""

from __future__ import annotations

import datetime
import math
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(v) -> str:
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, float):
        # -0.0 == 0.0: both engines may produce either sign for a zero
        return "∅" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, pd.Timestamp):
        # Spark returns a DATE as datetime.date, DuckDB as a midnight
        # Timestamp: both canonicalize to the date form
        return v.date().isoformat() if v == v.normalize() else v.isoformat(sep=" ")
    if isinstance(v, datetime.datetime):
        return _canon(pd.Timestamp(v))
    if isinstance(v, datetime.date):
        return v.isoformat()
    try:
        if pd.isna(v):
            return "∅"
    except (TypeError, ValueError):
        pass
    return repr(v)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(_canon))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(
        drop=True
    )


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two results are equal after canonicalization, else
    a one-line description of the first difference."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    diff = (g != w).any(axis=1)
    if diff.any():
        i = int(diff[diff].index[0])
        return f"{int(diff.sum())}/{len(g)} rows differ; first {g.loc[i].to_dict()} != {w.loc[i].to_dict()}"
    return None
