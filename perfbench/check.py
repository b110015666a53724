"""Result checks against the registry's DuckDB oracles.

A query result matches its oracle when the row count, the sorted
column names and an order-insensitive digest of the rows agree. Rows
are canonicalized by the engine's parity sweep
(`scripts/parity_sweep.py`), the rule of the engine's oracle-parity checks.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass

import duckdb
import pandas as pd


def _parity_canon():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "parity_sweep.py",
    )
    spec = importlib.util.spec_from_file_location("parity_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


canon_rows = _parity_canon()


@dataclass(frozen=True)
class Expected:
    rows: int
    columns: tuple[str, ...]
    digest: str


def expected_of(pdf: pd.DataFrame) -> Expected:
    rows = canon_rows(pdf)
    return Expected(
        rows=len(rows),
        columns=tuple(sorted(pdf.columns)),
        digest=hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    )


def oracle_expectations(data_dir: str, tables, sql: dict[str, str]) -> dict[str, Expected]:
    """Each query's expected result, computed by DuckDB over the
    generated tables."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {name: expected_of(con.execute(q).df()) for name, q in sql.items()}
    finally:
        con.close()


def matches(got: pd.DataFrame, want: Expected) -> bool:
    """Row count, sorted column names and row digest all agree."""
    return expected_of(got) == want
