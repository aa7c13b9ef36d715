"""What "oracle-exact" means, defined once for tests/test_oracle_parity.py,
tools/driver_sim.py and tools/check_one.py: a DuckDB connection over a
scale directory's tables, and the order-insensitive canonical form both
engines' results are compared in."""

from __future__ import annotations

import decimal
import math

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A fresh DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if v is pd.NaT:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Rows with columns in name order and values normalized, sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [
        tuple(norm(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(rows, key=repr)
