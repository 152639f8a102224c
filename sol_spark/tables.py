"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Mirrors the reference's ``HadoopFsRelation`` scan path
(/root/reference/sql/core/.../DataSourceScanExec.scala:157): vectorized
parquet scan with predicate pushdown and column pruning — all free via
``spark.read.parquet``. At 100 TB the same call reads a partitioned
directory tree; partition pruning happens in Catalyst.
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Sequence

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


# Per-(session, sf_dir) catalog cache: every registered query calls
# load_tables, and re-building 10 DataFrames + temp views per query is pure
# py4j overhead (~0.3s/query measured at sf0.1). DataFrames are immutable
# lazy plans, so sharing them across queries is safe. Temp views are
# session-global, so track which sf_dir's views a session currently holds
# and re-register when it switches (SQL-text queries resolve via views).
# WeakKeyDictionary keyed on the session OBJECT, not id(): id() values are
# reused after GC, which could hand a new session DataFrames bound to a dead
# JVM (r1 ADVICE). Entries die with their session.
_CATALOG_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict[str, DataFrame]]]" = (
    weakref.WeakKeyDictionary()
)
_VIEWS_FOR_SESSION: "weakref.WeakKeyDictionary[SparkSession, str]" = weakref.WeakKeyDictionary()


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load every fixture table from ``sf_dir`` and (optionally) register
    each as a temp view so both the DataFrame and SQL surfaces see them."""
    sf_abs = os.path.abspath(sf_dir)
    per_session = _CATALOG_CACHE.setdefault(spark, {})
    cached = per_session.get(sf_abs)
    if cached is not None and not register_views:
        return dict(cached)
    if cached is not None and _VIEWS_FOR_SESSION.get(spark) == sf_abs:
        return dict(cached)
    tables: dict[str, DataFrame] = cached or {}
    if not tables:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            tables[name] = _read(spark, path)
        per_session[sf_abs] = dict(tables)
    if register_views:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
        _VIEWS_FOR_SESSION[spark] = sf_abs
    return dict(tables)


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
