"""Strict correctness checks, run outside every timed region.

Batch operations are compared with the semantics of
``sol_spark.oracle.compare(..., exact=True)``: same row count, same column
names, same coarse column types, and every cell equal to the last digit of
its float repr. The DuckDB reference is computed once per input directory
with ``SET threads=1`` (a multi-threaded DuckDB changes the last digit of
float sums from run to run) and cached next to the input.
"""

from __future__ import annotations

import os
import pickle
import sys

import pandas as pd


def _reference_path(name: str, data_dir: str) -> str:
    return os.path.join(data_dir, "_ref", f"{name}.pkl")


def reference(spec, data_dir: str) -> pd.DataFrame:
    """The cached DuckDB result of ``spec.oracle`` over ``data_dir``."""
    with open(_reference_path(spec.name, data_dir), "rb") as f:
        return pickle.load(f)


def write_reference(spec, data_dir: str) -> None:
    """Compute and cache the DuckDB result of ``spec.oracle`` over ``data_dir``.
    Called only in the child process of ``__main__``."""
    import duckdb

    from sol_spark.tables import TABLE_NAMES

    path = _reference_path(spec.name, data_dir)
    if os.path.exists(path):
        return
    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        for name in TABLE_NAMES:
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        ref = con.execute(spec.oracle).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(ref, f)
    os.replace(tmp, path)


def frame_diff(sp: pd.DataFrame, du: pd.DataFrame) -> str | None:
    """None when the two frames are equal under the strict oracle compare,
    else a message naming the first differing cell."""
    from sol_spark import oracle

    if len(sp) != len(du):
        return f"row count: spark={len(sp)} oracle={len(du)}"
    if sorted(map(str.lower, sp.columns)) != sorted(map(str.lower, du.columns)):
        return f"columns: spark={sorted(sp.columns)} oracle={sorted(du.columns)}"
    sp = sp.rename(columns=str.lower)
    du = du.rename(columns=str.lower)
    cols = sorted(sp.columns)
    for c in cols:
        ta, tb = oracle._dtype_token(sp[c]), oracle._dtype_token(du[c])
        if ta != tb and "empty" not in (ta, tb):
            return f"dtype drift in col {c}: spark={ta} oracle={tb}"
    a_rows = oracle._normalize(sp, exact=True)
    b_rows = oracle._normalize(du, exact=True)
    for i, (ra, rb) in enumerate(zip(a_rows, b_rows)):
        for j, (va, vb) in enumerate(zip(ra, rb)):
            if not oracle._values_close(va, vb, exact=True):
                return f"sorted-row {i}, col {cols[j]}: spark={va!r} oracle={vb!r}"
    return None


def rows_diff(got: list[tuple], want: list[tuple]) -> str | None:
    """Exact multiset equality of two row lists (floats compared by repr)."""
    def key(r: tuple) -> tuple:
        return tuple(repr(v) for v in r)

    a, b = sorted(got, key=key), sorted(want, key=key)
    if len(a) != len(b):
        return f"row count: stream={len(a)} batch={len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        if key(ra) != key(rb):
            return f"sorted-row {i}: stream={ra!r} batch={rb!r}"
    return None


if __name__ == "__main__":
    # python3 check.py <data_dir> <op>...: fill the reference cache of the
    # named operations. DuckDB is loaded only in this process of its own, so
    # it never shares memory or time with the benchmark's client.
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sol_spark.registry import all_queries

    specs = all_queries()
    for op in sys.argv[2:]:
        if op in specs and specs[op].oracle is not None:
            write_reference(specs[op], sys.argv[1])
