"""Testdata table readers.

The driver ships TPC-H-ish parquet at /root/testdata/sf*/ (TESTDATA.md).
``read_table`` is the single entry point; it normalizes the one awkward
physical detail (events.ts is parquet TIMESTAMP(NANOS), which Spark reads
only as long) so every operator downstream sees a clean typed DataFrame.

Scale notes: these are plain ``spark.read.parquet`` scans, so Catalyst
predicate pushdown / column pruning apply unchanged on a 100 TB layout; at
that scale the tables would be written partitioned (see sinks.py) and the
same reader works — Spark discovers partition columns from the directory
layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from varda_spark.session import configure

# Table name -> columns that must be post-processed after the raw scan.
TABLES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing physical quirks.

    events.ts: stored as INT64 TIMESTAMP(NANOS). Spark's parquet reader
    raises PARQUET_TYPE_ILLEGAL on nanos unless
    ``spark.sql.legacy.parquet.nanosAsLong=true``, in which case the column
    arrives as nanosecond-epoch long. We truncate (integer-divide) to
    microseconds — exactly what DuckDB's reader does — so oracle
    comparisons agree.
    """
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to a plain TIMESTAMP, whatever the physical form.

    Testdata drops have shipped two shapes: INT64 TIMESTAMP(NANOS) (read as
    bigint nanos under nanosAsLong) and plain micros without UTC adjustment
    (read as TIMESTAMP_NTZ by Spark 4's inferTimestampNTZ). DuckDB treats
    the same naive values as epoch-UTC, so the NTZ branch converts the naive
    clock value via an NTZ-space epoch diff — exact and independent of the
    session/JVM timezone (a plain cast is not). Works on batch and
    streaming DataFrames alike (pure column expressions).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def register_tables(spark, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every driver table as a temp view → full spark.sql access.

    The SQL twin of the DataFrame API: after this, any ANSI query the
    DuckDB oracle runs works verbatim on spark.sql (see catalog sql_api).
    """
    for t in tables:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
