"""Query registry: the single source of truth binding each implemented
operator/query to (a) its PySpark implementation and (b) its DuckDB oracle
SQL. ``__spark_entry__.py`` and the pytest oracle-parity suite both consume
this registry, so "declared in SURVEY §2" == "registered here" == "tested".
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import every query-defining module, then return the registry in
    registration order."""
    # Imports are deferred so `import sol_spark` stays cheap.
    from sol_spark.operators import dedup, geo, governance, layout, multimodal, similarity, skew, text  # noqa: F401
    from sol_spark.queries import tpch  # noqa: F401
    from sol_spark.queries import relational, sqltests, sqltests_subquery, ssb, tpcds, tpcds_modified  # noqa: F401
    from sol_spark.queries import (  # noqa: F401
        event_windows,
        events_analytics,
        functions_coverage,
        generators,
        pandas_ops,
    )

    return dict(_REGISTRY)
