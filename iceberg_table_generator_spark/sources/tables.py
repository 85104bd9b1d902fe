"""Parquet star-schema loaders (driver testdata, TESTDATA.md).

The reference's only source is its own generated Iceberg/Parquet tables
(`IcebergTableGenerator.java:249-257` row-at-a-time reader).  Here the scan is
Spark's vectorized Parquet reader; Catalyst pushes filters and prunes columns
into it for free (SURVEY.md §2.1 S7/S8).
"""

from __future__ import annotations

import os

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

# Dimension tables small enough to broadcast at ANY scale factor: region is
# always 5 rows, nation 25.  customer/supplier/part grow with SF and must not
# be hinted broadcast unconditionally — AQE converts joins to broadcast at
# runtime when the built side is under the threshold.
ALWAYS_BROADCAST = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # The driver may pass its own SparkSession: make sure the SQL confs the
    # engine depends on (UTC, NTZ inference, nanos-as-long, AQE) are applied.
    from iceberg_table_generator_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    # events.ts is parquet TIMESTAMP(NANOS): Spark reads it as epoch-nanos
    # BIGINT (spark.sql.legacy.parquet.nanosAsLong).  Truncate to micros —
    # the same truncation DuckDB applies — and restore a naive timestamp.
    for f in df.schema.fields:
        if name == "events" and f.name == "ts" and f.dataType.simpleString() == "bigint":
            import pyspark.sql.functions as F

            # Integer division: epoch-nanos (~1.7e18) exceeds double's 53-bit
            # mantissa, so `/ 1000` via double would round the microsecond.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
    return df


def spread(df: DataFrame) -> DataFrame:
    """Widen an under-split relation to the cluster's parallelism before
    expensive per-row work (tokenize/shingle/hash/encode pipelines).

    Local testdata parquet is written as ONE row group per file, so a scan
    yields ONE partition and everything up to the first shuffle runs
    serially — measured 3.7s vs 1.1s for the sf0.1 shingle stream on
    local[32].  At 100 TB the same table arrives in thousands of splits,
    where a round-robin repartition would inject a full-corpus shuffle —
    so this is a NO-OP whenever the source already yields at least the
    cluster's default parallelism.  (Inspecting rdd.getNumPartitions only
    builds the physical RDD DAG; it runs no job.)"""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
