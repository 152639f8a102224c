"""Driver-held rows enter plans only through ``tables.local_frame``.

``createDataFrame(<python list>, ddl)`` plans a pickled ``parallelize`` RDD
that every job reading the frame re-runs through a Python worker.
``local_frame`` builds the same rows as a ``pyarrow.Table``, which plans as a
``LocalRelation``. These tests pin both halves: the helper is a drop-in for
the list path (same rows, same schema), and no other ``createDataFrame``
call exists in the package.
"""

from __future__ import annotations

import ast
import os

import pytest

from sol_spark.tables import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sol_spark")

# One case per row shape the call sites use, plus NULLs and the empty frame.
CASES = [
    ([(1, "a"), (2, "b")], "step INT, pa STRING"),
    ([(3, 2**40), (-1, 0)], "bucket BIGINT, w BIGINT"),
    ([(1, 0.5, True), (2, -0.0, False)], "k BIGINT, weight DOUBLE, is_best BOOLEAN"),
    ([(None, None, None, None, None), (7, 8, "x", 1.25, True)], "a INT, b BIGINT, c STRING, d DOUBLE, e BOOLEAN"),
    ([(0, [1.0, 2.5]), (1, []), (2, None)], "cent_id INT, cente ARRAY<DOUBLE>"),
    ([], "round long, n_vertices long, n_edges long, density_ppm long, is_best boolean"),
]


def _leaf(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("arrow", ["true", "false"])
@pytest.mark.parametrize("rows,ddl", CASES, ids=[c[1].split(",")[0] + f"-{len(c[0])}" for c in CASES])
def test_local_frame_matches_list_path(spark, rows, ddl, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        got = local_frame(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _leaf(got) == "LocalRelation"
    finally:
        spark.conf.set(key, old)


def _create_dataframe_calls(path: str) -> list[str]:
    """``file:line`` of every ``<x>.createDataFrame(...)`` call outside a
    function named ``local_frame``."""
    tree = ast.parse(open(path).read(), path)
    allowed: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
            allowed.update(id(n) for n in ast.walk(node))
    return [
        f"{os.path.relpath(path, PKG)}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_no_create_dataframe_outside_local_frame():
    found = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                found += _create_dataframe_calls(os.path.join(root, f))
    assert not found, f"createDataFrame outside tables.local_frame: {found}"


def test_scan_sees_a_create_dataframe_call(tmp_path):
    """The scan is not vacuous: a stray call is reported, the helper's own
    call is not."""
    p = tmp_path / "m.py"
    p.write_text(
        "def local_frame(spark, rows, ddl):\n"
        "    return spark.createDataFrame(rows, ddl)\n"
        "def stray(spark):\n"
        "    return spark.createDataFrame([(1,)], 'a int')\n"
    )
    assert [c.rsplit(":", 1)[1] for c in _create_dataframe_calls(str(p))] == ["4"]
