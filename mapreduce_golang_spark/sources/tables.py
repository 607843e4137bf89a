"""Parquet table sources for the driver fixture schema (FIXTURES.md §B).

The reference's only source is whole local text files
(/root/reference/src/mr/worker.go:60-70); our primary source is
columnar Parquet so Catalyst gets predicate pushdown + column pruning
for free. Whole-text-file ingestion lives in ``sources.text``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Every table the driver generates under /root/testdata/sf*/ .
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

#: Tables that are the SAME size at every SF (region 5 rows, nation 25)
#: — the only ones a forced `F.broadcast` hint is safe on. customer/
#: supplier/part scale linearly with SF (measured across the fixtures),
#: so their join strategy is left to size stats + AQE.
BROADCAST_TABLES = frozenset({"region", "nation"})


#: Raw parquet file schemas, one per (session, file version). Without a
#: schema, ``spark.read.parquet`` launches a one-task Spark job only to
#: read the file footer, so a query that loads three tables would pay
#: three such jobs before doing any work. Keyed like ``_PAIR_GRAPH_CACHE`` by
#: applicationId, plus the file's realpath, mtime and size, so a fixture
#: regenerated at the same path gets a new entry instead of a stale one.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _file_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``, inferred
    once per session and file version. Holds the raw file schema: the
    caller applies any type normalisation after reading with it."""
    st = os.stat(path)
    key = (spark.sparkContext.applicationId, os.path.realpath(path), st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → pushdown/pruning apply.

    The driver regenerates the fixtures between rounds and the physical
    timestamp layout has varied: events.ts has been parquet
    TIMESTAMP(NANOS) (which Spark's vectorized reader refuses,
    [PARQUET_TYPE_ILLEGAL] — read as int64 nanos under the
    ``nanosAsLong`` that the registry's ``_shipped`` pins, and truncate
    to micros, matching DuckDB's ns→us truncation) and is now naive
    timestamp[us], which Spark reads as TIMESTAMP_NTZ. Normalize every layout to the
    session-TZ TIMESTAMP type (session TZ is pinned UTC, so the rendered
    instants are identical) so operators can rely on one ts type —
    `unix_micros` & friends reject NTZ inputs.

    The read passes the file's schema from ``_file_schema``, so only the
    first read of a file in a session pays the footer-read job of schema
    inference; later reads launch no Spark job. The memo is keyed by
    (applicationId, realpath, mtime, size), so rewriting the file gives a
    new key. It holds schemas, not DataFrames: every call still builds a
    fresh relation with fresh attribute ids, which two ``load_table``
    calls of one table need to self-join without ambiguity.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_file_schema(spark, path)).parquet(path)
    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register the fixture tables as temp views for `spark.sql` use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
