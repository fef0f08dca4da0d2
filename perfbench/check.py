"""Order-insensitive result digests and the DuckDB oracle side.

A step's output (an Arrow table from the Spark sink, or the oracle's
DuckDB result) is reduced to (sorted column names, row count, sha256 of
the sorted canonical rows). Two results match when all three agree:
values compare exactly, as the engine's oracle queries are written to
be bit-identical across engines.
"""

from __future__ import annotations

import hashlib
import math
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0  # -0.0 -> 0.0
    if isinstance(v, Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple((k, _canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def digest(table: pa.Table) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, rows, sha256 of the sorted canonical rows)."""
    cols = tuple(sorted(table.column_names))
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(repr(tuple(_canon(v) for v in r)) for r in zip(*data))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return cols, table.num_rows, h


def oracle_digests(
    sqls: dict[str, str], data_dir: str, tables: list[str]
) -> dict[str, tuple[tuple[str, ...], int, str]]:
    """Run each oracle SQL in DuckDB over the generated parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {name: digest(con.sql(sql).arrow()) for name, sql in sqls.items()}
    finally:
        con.close()
