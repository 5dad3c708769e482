"""Loaders for the driver-generated TPC-H-ish tables (TESTDATA.md).

The `events` table stores timestamp[ns], which Spark's Parquet reader
rejects unless `spark.sql.legacy.parquet.nanosAsLong=true`; we read the
nanos as long and convert to a microsecond TimestampType column (matching
DuckDB's ns->us coercion). All sessions created via `session()` set the
flag up front.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def session(app: str = "iceberg_spark", cpus: int = 0) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or 0) \
        or os.cpu_count() or 8
    builder = SparkSession.builder
    try:
        # KMS jar on the INITIAL classpath: lets encrypted parquet read
        # and write through Spark's native reader/writer (jvm_crypto) —
        # driver-side Hadoop Configurations capture the launch
        # classloader, so runtime addJar alone is not reliably visible
        from ..jvm_crypto import _build_jar

        jar = _build_jar()
        if jar:
            builder = builder.config("spark.jars", jar)
    except Exception:
        pass
    return (
        builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(min(cpus * 2, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # per-call stack inspection in pyspark's error decorators costs ~10%
        # of driver-side plan-building time; provenance of failures is the
        # engine's job, not the harness's
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div: ns/1000 through double would lose exactness at
        # epoch-ns magnitude (2^60 > 2^53 mantissa)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
