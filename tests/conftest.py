from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sol_spark.plans import explain_formatted
from sol_spark.registry import all_queries
from sol_spark.session import get_session

SF_DIR = os.environ.get("SOLSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session("solspark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class BuiltQuery(NamedTuple):
    name: str
    df: DataFrame  # what fn() returned, not yet executed by any test
    plan: str  # formatted physical plan, taken before any execution
    schema: StructType


@pytest.fixture(scope="session", params=sorted(all_queries()))
def built_query(request, spark, sf_dir) -> BuiltQuery:
    """Each registered query's fn(), called ONCE per run: the oracle test
    (test_oracle_parity.py) and the plan gates (test_plan_hygiene.py) all
    read this one build. Session scope makes pytest run every test that
    takes it back to back per name, so only one build is alive at a time."""
    df = all_queries()[request.param].fn(spark, sf_dir)
    return BuiltQuery(request.param, df, explain_formatted(df), df.schema)
