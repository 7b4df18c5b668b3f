"""Output checks: every result is compared, outside the timed region,
with a DuckDB twin computed over the same generated files.

The comparison is the differential harness's rule (row count, column
names, and the full multiset of row values with columns in name order),
done with a ``Counter`` so no sort is needed.  Decimals compare as
floats and zoned timestamps as naive UTC ones, because Spark hands back
UTC-zoned Arrow timestamps where DuckDB returns naive ones.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.compute as pc


def _column(arr: pa.ChunkedArray) -> list:
    """One column as Python values, normalised so Spark's and DuckDB's
    encodings of the same value compare equal."""
    t = arr.type
    if pa.types.is_timestamp(t) and t.tz is not None:
        arr = arr.cast(pa.timestamp(t.unit))  # same UTC instants, naive
    elif pa.types.is_decimal(t):
        arr = arr.cast(pa.float64())
    if pa.types.is_floating(arr.type) and pc.any(pc.is_nan(arr)).as_py():
        return ["NaN" if v != v else v for v in arr.to_pylist()]
    return arr.to_pylist()


def canonical(table: pa.Table) -> tuple[list[str], Counter]:
    """Sorted column names and the multiset of normalised rows."""
    cols = sorted(table.column_names)
    return cols, Counter(zip(*(_column(table.column(c)) for c in cols)))


def mismatch(got: pa.Table, want: tuple[list[str], Counter]) -> str | None:
    """``None`` when ``got`` equals the canonical ``want``; otherwise a
    one-line reason."""
    cols, rows = canonical(got)
    if cols != want[0]:
        return f"columns {cols} != {want[0]}"
    if sum(rows.values()) != sum(want[1].values()):
        return f"rows {sum(rows.values())} != {sum(want[1].values())}"
    if rows != want[1]:
        extra = next(iter(rows - want[1]), None)
        return f"values differ, e.g. {extra!r}"
    return None


def duckdb_over(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, named as
    the registry's oracle SQL expects."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], Counter]:
    return canonical(con.execute(sql).arrow())
