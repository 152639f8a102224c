"""The correctness gate, mirrored locally: every registered query
hash-matches its DuckDB oracle under the strict (tolerance-free) compare.
Mirrors the reference's golden-file strategy
(/root/reference/sql/core/src/test/scala/org/apache/spark/sql/SQLQueryTestSuite.scala)
with DuckDB as the golden-result generator. The query is built once by the
``built_query`` fixture (conftest.py), which the plan gates share.
"""

from __future__ import annotations

from sol_spark.oracle import compare
from sol_spark.registry import all_queries


def test_query_matches_oracle(built_query, sf_dir: str) -> None:
    ok, msg = compare(built_query.df, all_queries()[built_query.name].oracle, sf_dir)
    assert ok, f"{built_query.name}: {msg}"
