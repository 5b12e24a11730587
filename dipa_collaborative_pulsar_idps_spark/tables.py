"""Canonical loaders for the driver's relational test tables.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet per table under an
``sf_dir`` like ``/root/testdata/sf0.01``.

The only special case is ``events``: its ``ts`` column is parquet
TIMESTAMP(NANOS), which Spark cannot read natively. We read it as raw
nanos (``nanosAsLong``) and truncate to µs as ``timestamp_ntz`` — matching
DuckDB's ``TIMESTAMP_NS → TIMESTAMP`` cast semantics so oracle comparisons
line up.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .memo import memo
from .session import ensure_runtime_confs

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Inferred parquet schema per absolute file path. Spark runs a ~0.1 s
#: footer-read JOB for every schema-less `spark.read.parquet`; with 182
#: declared queries each re-reading 2-4 tables, those inference jobs were
#: ~40% of the whole bench's driver-build time. The test tables are
#: immutable for a run, so the schema is inferred ONCE per path and every
#: later read is schema-pinned (zero jobs). Plain Python objects —
#: session-independent, no executor memory.
_SCHEMA_CACHE: dict[str, StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table, normalizing types for engine use. The frame
    is memoized per (session, sf_dir, name): it holds only a logical
    plan, and reusing it skips the read setup on every query build."""
    return memo(
        spark, ("table", os.path.abspath(sf_dir), name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMA_CACHE.get(os.path.abspath(path))
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[os.path.abspath(path)] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns → µs truncation, same as DuckDB TIMESTAMP_NS::TIMESTAMP.
        # Integer DIV — float division loses ulps at 1e18 ns magnitudes.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql query bodies)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


class Tables:
    """Lazy attribute-style access: ``t = Tables(spark, sf_dir); t.lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]
