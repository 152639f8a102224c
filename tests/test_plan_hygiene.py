"""Corpus-wide plan-hygiene gate: EVERY registered query's physical plan is
scanned for the two classic 100 TB scale-killers —

  * CartesianProduct: O(n x m) row pairing. Any query that needs a cross
    join must either broadcast (BroadcastNestedLoopJoin over a bounded side)
    or be explicitly registered as a cartesian operator.
  * BatchEvalPython: row-at-a-time Python UDF (pickle per row). The Arrow
    paths (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas /
    PythonUDTF) are the sanctioned Python escapes.

This is the sweep version of the per-query plan tests in test_plans.py: a
new operator cannot regress into a cartesian or row-Python plan without
failing CI. Both gates read the ``built_query`` fixture (conftest.py): one
build per registered query, shared with the oracle test, with the plan and
schema taken before anything executes the frame. For the operators whose
construction runs jobs (checkpoint/iterate loops) that is the FINAL plan;
the plans of the jobs run inside fn() are not gated here.
"""

from __future__ import annotations

# Registered cartesian-by-design operators (bounded or demonstration ops).
CARTESIAN_OK = {"cross_join_dims"}


def test_no_cartesian_no_row_python(built_query):
    name, plan = built_query.name, built_query.plan
    if name not in CARTESIAN_OK:
        assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"
    # Row-at-a-time Python. Arrow nodes contain 'ArrowEvalPython' /
    # 'MapInPandas' / 'FlatMapGroupsInPandas' / 'BatchEvalPythonUDTF' —
    # match the exact row-UDF node only.
    for line in plan.splitlines():
        node = line.strip(" +-*")
        assert not node.startswith("BatchEvalPython ") and not node.startswith(
            "BatchEvalPython("
        ), f"{name}: row-at-a-time Python UDF in plan: {node[:80]}"


def test_no_complex_types_in_output(built_query):
    """Corpus-wide output-schema gate: no array/map/struct column may leave
    a registered query. toPandas yields Python lists WITHOUT Arrow but
    numpy arrays WITH it, so the oracle compare's string fallback sees
    '[1, 2]' vs '[1 2]' — a mismatch that appears ONLY under a vanilla
    session (no Arrow config). Emit array_join(...)/to_json(...) strings
    instead."""
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    name = built_query.name
    for f in built_query.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}: complex-typed output column {f.name}: {f.dataType.simpleString()}"
        )
        # DecimalType is equally hazardous: Spark's SQL parser types literals
        # like 1000000.0 as DECIMAL, and a long/DECIMAL division yields
        # DECIMAL(30,9) whose Arrow decimal->double conversion multiplies the
        # unscaled value by 1e-9 — NOT the double the oracle computes
        # (events_holt_winters 'seasonal', round-7 strict sweep). Divide by
        # cast(... as double) instead.
        assert not isinstance(f.dataType, DecimalType), (
            f"{name}: DECIMAL output column {f.name}: {f.dataType.simpleString()}"
            " — use cast(... as double) divisors (see _r6 in events_analytics)"
        )
