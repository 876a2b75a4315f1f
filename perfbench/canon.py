"""Order-insensitive comparison of a Spark result with a DuckDB result.

Rows are compared as multisets over the sorted column names. Floats compare
equal within a relative 1e-9 (the queries round their outputs; summation
order may still differ in the last bits), timestamps and dates by ISO text,
arrays element-wise.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

_REL_TOL = 1e-9


def fixture_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table of ``sf_dir``."""
    con = duckdb.connect()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(x):
    if x is None or x is pd.NaT:
        return None
    if isinstance(x, (np.generic,)):
        x = x.item()
    if isinstance(x, decimal.Decimal):
        x = float(x)
    if isinstance(x, float):
        return None if math.isnan(x) else x
    if isinstance(x, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(x).isoformat()
    if isinstance(x, (np.ndarray, list, tuple)):
        return tuple(_cell(v) for v in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _cell(v)) for k, v in x.items()))
    return x


def _column(s: pd.Series) -> list:
    if s.dtype.kind in "iub":
        return s.tolist()
    if s.dtype.kind == "f":
        return [None if v != v else v for v in s.tolist()]
    return [_cell(v) for v in s.tolist()]


def _sort_key(row: tuple) -> tuple:
    return tuple((v is None, 0 if v is None else v) for v in row)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = [_column(pdf[c]) for c in sorted(pdf.columns)]
    rows = list(zip(*cols))
    if any(None in col for col in cols):
        return sorted(rows, key=_sort_key)
    return sorted(rows)


def _same_cell(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=_REL_TOL, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same_cell(x, y) for x, y in zip(a, b))
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(canon_rows(got), canon_rows(want))):
        if a != b and not all(_same_cell(x, y) for x, y in zip(a, b)):
            return f"sorted row {i}: {a} != {b}"
    return None
