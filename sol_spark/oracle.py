"""DuckDB oracle harness — mirrors the driver's correctness gate: run the
Spark query and the oracle SQL on the same parquet tables, then compare
row count, schema shape, and order-insensitive values (column-name sorted),
floats by repr.
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from sol_spark.tables import TABLE_NAMES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame, exact: bool = False) -> list[list[Any]]:
    """Sort columns by name, canonicalize cell values, sort rows.

    ``exact=True`` keeps the full float value (no 6-decimal rounding), so
    the row-sort key and the subsequent compare see exactly what the
    driver's value hash sees.
    """
    df = df[sorted(df.columns)]
    rows: list[list[Any]] = []
    for row in df.itertuples(index=False):
        out = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                out.append(None)
            elif isinstance(v, (bool,)):
                out.append(bool(v))
            elif isinstance(v, float):
                out.append(float(v) if exact else round(v, 6))
            elif isinstance(v, pd.Timestamp):
                out.append(v.tz_localize(None) if v.tzinfo else v)
            else:
                out.append(v)
        rows.append(out)
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def _dtype_token(s: pd.Series) -> str:
    """Coarse type-CLASS token per column so int-vs-float drift is caught
    locally (the driver's value hash is class-sensitive — fn_math /
    fn_higher_order failed r1 on int-vs-float — but NOT width-sensitive:
    int32-vs-int64 rows like win_rank_topk passed the r1 driver hash)."""
    dt = s.dtype
    kind = getattr(dt, "kind", "O")
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "timestamp"
    for v in s:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, (bool, np.bool_)):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating, decimal.Decimal)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, (bytes, bytearray)):
            return "bytes"
        if isinstance(v, (pd.Timestamp, datetime.datetime)):
            return "timestamp"
        if isinstance(v, datetime.date):
            return "date"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "list"
        if isinstance(v, dict):
            return "map"
        return type(v).__name__
    return "empty"


def _values_close(a: Any, b: Any, rtol: float = 1e-6, exact: bool = False) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        if exact:
            # The driver hashes the decimal string of each cell, so strict
            # mode compares reprs: catches 1-ulp last-digit ties that
            # rel_tol swallows AND the -0.0 vs 0.0 sign split (Python's
            # ``-0.0 == 0.0`` is True but the hashed strings differ).
            return repr(fa) == repr(fb)
        return math.isclose(fa, fb, rel_tol=rtol, abs_tol=1e-6)
    if isinstance(a, (int,)) and isinstance(b, (int,)):
        return a == b
    return str(a) == str(b)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    """Returns (ok, message). Row-order and column-order insensitive.

    Tolerance-free, like the external correctness check's value hash:
    floats must agree to the last decimal digit (repr equality) — the
    comparison that would have caught tpcds_q47/q57 locally before round 6
    shipped them red.
    """
    sp = spark_df.toPandas()
    con = duck_connection(sf_dir)
    try:
        du = con.execute(oracle_sql).df()
    finally:
        con.close()
    if len(sp) != len(du):
        return False, f"row count: spark={len(sp)} oracle={len(du)}"
    if sorted(map(str.lower, sp.columns)) != sorted(map(str.lower, du.columns)):
        return False, f"columns: spark={sorted(sp.columns)} oracle={sorted(du.columns)}"
    sp.columns = [c.lower() for c in sp.columns]
    du.columns = [c.lower() for c in du.columns]
    for c in sorted(sp.columns):
        ta, tb = _dtype_token(sp[c]), _dtype_token(du[c])
        if ta != tb and "empty" not in (ta, tb):
            return False, f"dtype drift in col {c}: spark={ta} oracle={tb}"
    a_rows, b_rows = _normalize(sp, exact=True), _normalize(du, exact=True)
    for i, (ra, rb) in enumerate(zip(a_rows, b_rows)):
        for j, (va, vb) in enumerate(zip(ra, rb)):
            if not _values_close(va, vb, exact=True):
                return False, f"value mismatch at sorted-row {i}, col {sorted(sp.columns)[j]}: spark={va!r} oracle={vb!r}"
    return True, f"ok ({len(sp)} rows)"
