"""Output checks: DuckDB oracles and order-insensitive value hashes.

Everything here runs outside the timed region.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd


def valhash(pdf: pd.DataFrame) -> tuple[str, int]:
    """Order-insensitive hash of a frame's values, columns sorted by name,
    floats as float64 and timestamps at microseconds."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            pdf[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
    rows = sorted(tuple(repr(v) for v in r) for r in pdf.itertuples(index=False, name=None))
    return hashlib.sha256(repr(rows).encode()).hexdigest(), len(pdf)


def duck_views(tables: dict[str, str]):
    """A DuckDB connection with one view per ``{name: parquet path}``."""
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """The same query with ``names`` marked AS MATERIALIZED: DuckDB would
    otherwise re-run an inlined CTE on every step of a recursive CTE that
    reads it. Results are unchanged."""
    for n in names:
        sql = re.sub(rf"\b{n} AS \(", f"{n} AS MATERIALIZED (", sql, count=1)
    return sql
