"""Result checks for the query workload: DuckDB oracle comparison, and a
sorted-row digest for queries that have no oracle."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd

from data import TABLES


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return float(v)
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """First difference between two results, order-insensitive; None
    when they agree (doubles to 1e-9 relative, as both sides round)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got), _rows(want))):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a!r} != {b!r}"
    return None


def check_digest(pdf: pd.DataFrame, path: str) -> str | None:
    """Sorted-row digest that must match the one recorded by an earlier
    pass or run over the same inputs; the first sighting records it."""
    digest = hashlib.sha256(repr(_rows(pdf)).encode()).hexdigest()
    if os.path.exists(path):
        with open(path) as f:
            seen = f.read().strip()
        return None if seen == digest else f"digest {digest[:12]} != recorded {seen[:12]}"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(digest)
    return None
