"""Catalog: map the testdata parquet tables to DataFrames / temp views.

Reference counterpart: TytoDB's `Database` holds a directory with one
fixed-width binary file per container (reference src/database.rs:99-108);
here a "database" is a directory of Parquet tables. Reads go through
`spark.read.parquet` so Catalyst gets predicate pushdown + column pruning
on every query (the reference's chunked scan + hand-rolled first-column
index, src/query.rs:234-370, are subsumed by Parquet row-group stats).
"""

from __future__ import annotations

import os
from functools import lru_cache
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

from tytodb_spark.session import tune

TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


class _Layout(NamedTuple):
    schema: StructType  # as Spark infers it from the file
    nanos: tuple[str, ...]  # parquet TIMESTAMP(NANOS), read as long
    ntz: tuple[str, ...]  # read as TIMESTAMP_NTZ


@lru_cache(maxsize=256)
def _layout(spark: SparkSession, path: str, mtime_ns: int, size: int) -> _Layout:
    """Infer the file's layout once (one Spark job). The stat fields are in
    the key so that a rewritten file is a miss and is inferred again."""
    schema = spark.read.parquet(path).schema
    return _Layout(
        schema,
        tuple(f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"),
        tuple(f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)),
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A new DataFrame over ``<sf_dir>/<name>.parquet`` on every call (so a
    self-join of two calls keeps distinct attribute ids).

    The file's schema is inferred by one Spark job the first time it is
    seen; later calls pass the remembered schema to the reader, which then
    launches no job. Parquet TIMESTAMP(NANOS) columns, which Spark reads as
    long (spark.sql.legacy.parquet.nanosAsLong, set by ``tune``), become
    microsecond timestamps by truncation, matching DuckDB's ns→µs cast.
    Micros-precision timestamps, which Spark reads as TIMESTAMP_NTZ, become
    TIMESTAMP: unix_micros()/withWatermark() reject NTZ, and with the
    session tz at UTC (session.py) reinterpreting NTZ wall-clock as
    instants matches DuckDB's epoch_us on the same files.
    """
    tune(spark)
    path = table_path(sf_dir, name)
    st = os.stat(path)
    layout = _layout(spark, path, st.st_mtime_ns, st.st_size)
    df = spark.read.schema(layout.schema).parquet(path)
    for c in layout.nanos:
        # integer `div`, not `/`: double division of ~1.7e18 ns loses the
        # low bits (53-bit mantissa) and can round the microsecond up
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    for c in layout.ntz:
        df = df.withColumn(c, F.to_timestamp(F.col(c)))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table present under ``sf_dir``."""
    return {
        name: table(spark, sf_dir, name)
        for name in TABLES
        if os.path.exists(table_path(sf_dir, name))
    }


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(prefix + name)
    return dfs
