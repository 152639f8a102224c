"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Mirrors the reference's ``HadoopFsRelation`` scan path
(/root/reference/sql/core/.../DataSourceScanExec.scala:157): vectorized
parquet scan with predicate pushdown and column pruning — all free via
``spark.read.parquet``. At 100 TB the same call reads a partitioned
directory tree; partition pruning happens in Catalyst.
"""

from __future__ import annotations

import functools
import os
import weakref
from typing import Any, Callable, Sequence, TypeVar

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor we target.
BROADCAST_DIMS = ("region", "nation", "supplier", "part", "customer")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

T = TypeVar("T")


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Read one fixture parquet. The driver-generated ``events`` table has a
    nanosecond-precision timestamp column, which Spark's parquet reader
    rejects (vectorized reader supports micros at most). We read nanos as
    long (``spark.sql.legacy.parquet.nanosAsLong``, runtime-settable) and
    rebuild the timestamp at microsecond precision — lossless here (fixture
    values are micro-aligned) and a narrow projection, so scan pushdown for
    all other columns is unaffected."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        df = spark.read.parquet(path)
    except Exception:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    # Known timestamp columns read as long (nanos) when nanosAsLong is active
    # (possibly set by an earlier read in the same session) → timestamp_ntz.
    for field in df.schema.fields:
        if field.name in ("ts",) and isinstance(field.dataType, LongType):
            # Integer division: epoch-nanos exceeds double's exact range.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"{field.name} div 1000")).cast("timestamp_ntz"),
            )
    return df


_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[Callable, str], Any]]" = (
    weakref.WeakKeyDictionary()
)
# Temp views are session-global: track which sf_dir's views a session holds
# and re-register when it switches (SQL-text queries resolve via views).
_VIEWS_FOR_SESSION: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()


def per_session_plan(fn: Callable[[SparkSession, str], T]) -> Callable[[SparkSession, str], T]:
    """Memoize a PURE-LAZY plan function ``fn(spark, sf_dir)`` per session
    and ``(fn, abspath(sf_dir))``: the fixture catalog, the derived TPC-DS/SSB
    stars and the shared dedup feeder pairs are re-derived by every query
    that reads them, and that construction is pure py4j/analysis latency
    (q67's build: 1.21 s -> 0.25 s).

    ONLY for functions with NO action, checkpoint or collect inside (the
    catalog's parquet footer reads are the one exception: they read
    metadata, not rows). The cached value is an immutable lazy plan, or a
    dict of them that callers must not mutate, so every action still
    recomputes from the parquet inputs: nothing is materialized and no
    result is stored. A function that checkpoints must never be wrapped,
    since memoizing materialized state would be cross-run result caching
    AND a released-storage bug. ``tests/test_per_session_plan.py`` runs
    every use and fails on any job it starts.

    Weakly keyed on the session OBJECT, not id(): id() values are reused
    after GC, which could hand a new session plans bound to a dead JVM.
    Entries die with their session."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> T:
        per_session = _PLANS.setdefault(spark, {})
        key = (fn, os.path.abspath(sf_dir))
        if key not in per_session:
            per_session[key] = fn(spark, sf_dir)
        return per_session[key]

    return wrapped


@per_session_plan
def _catalog(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {
        name: _read(spark, path)
        for name in TABLE_NAMES
        if os.path.exists(path := os.path.join(sf_dir, f"{name}.parquet"))
    }


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every fixture table from ``sf_dir`` and (optionally) register
    each as a temp view so both the DataFrame and SQL surfaces see them.
    The returned dict is shared by every caller in the session: read it,
    never rebind its entries."""
    tables = _catalog(spark, sf_dir)
    sf_abs = os.path.abspath(sf_dir)
    if register_views and _VIEWS_FOR_SESSION.get(spark) != sf_abs:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        _VIEWS_FOR_SESSION[spark] = sf_abs
    return tables


def local_frame(spark: SparkSession, rows: Sequence[Sequence[Any]], ddl: str) -> DataFrame:
    """The one way rows held on the driver enter a plan (model syncs, merge
    tables, small constant grids): ``rows`` are tuples in the column order of
    ``ddl`` (``"a INT, b ARRAY<DOUBLE>"``).

    The rows are built into a ``pyarrow.Table`` column by column and handed
    to ``createDataFrame`` with the parsed schema, so the optimized plan's
    leaf is a ``LocalRelation``: no pickled ``parallelize`` RDD, and no
    Python-worker pass each time a job reads the frame. This holds with
    ``spark.sql.execution.arrow.pyspark.enabled=false`` too."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    struct = DataType.fromDDL(ddl)
    schema = to_arrow_schema(struct)
    columns = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(schema)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=schema), struct)
