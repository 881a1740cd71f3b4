"""Oracle gate: compare an engine result with its DuckDB oracle.

A result passes when its column names match the oracle's (as a set), its
row count matches, and its values match after canonicalization: columns
in name order, each value stringified, rows sorted, so row order does not
matter. One NaN rule: a float NaN reads as NULL on both sides.
"""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings",
)


def connect(data_dir: str, split: tuple[str, ...] = ("orders", "lineitem")) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table (``split``
    tables are directories of parquet parts)."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet" + ("/*.parquet" if t in split else "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    return str(v)


def canon(columns: list[str], rows: list) -> list[tuple[str, ...]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple[str, ...]]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, canon(cols, res.fetchall())


def mismatch(columns: list[str], rows: list, want: tuple[list[str], list]) -> str | None:
    """``None`` when the result matches the oracle, else the reason."""
    want_cols, want_rows = want
    if sorted(columns) != sorted(want_cols):
        return f"columns {sorted(columns)} != oracle {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != oracle {len(want_rows)}"
    got = canon(columns, rows)
    for g, w in zip(got, want_rows):
        if g != w:
            return f"first differing row {g} != oracle {w}"
    return None
