"""SparkSession builder with scale-appropriate defaults.

At 100 TB on a real cluster the same knobs apply — AQE coalesces /
re-splits shuffle partitions at runtime, so ``spark.sql.shuffle.partitions``
is an upper bound, not a hand-tuned constant; skew-join handling and
broadcast selection are delegated to AQE rather than hard-coded.

``local_table`` builds the tiny driver-side tables (dimension rows, a
manifest entry) that must not cost a Python-worker job.
"""

from __future__ import annotations

import functools
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Session-level confs that must also be applied to an externally provided
# session (e.g. the verify driver's) before reading our tables.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized reader
    # rejects; read as long and convert (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # dynamic broadcast — all essential at multi-TB shuffle sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE rewrite a sort-merge join to a shuffled-hash join when every
    # post-shuffle partition's build side is under 64 MB (guide §3.1): the
    # rewrite is runtime-size-guarded, so it is safe at any scale — a
    # 100 TB join whose partitions exceed the bound keeps sort-merge, and
    # a 64 MB per-partition hash map is trivially within executor memory.
    # Default is 0 (off). Interleaved min-of-3 A/B on the SMJ-heavy bench
    # keys (r14): 20.7 s → 16.0 s across 6 keys in one run, ~parity in a
    # second (co-tenant noise); skips both sort passes when it fires.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this deployment; builder path sets it
    return spark


def get_spark(app_name: str = "varda_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # local mode: ~2x cores is a good static upper bound; AQE coalesces.
        shuffle_partitions = max(2 * cpus, 32)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # No call-site capture: with it on, every PySpark function call walks
        # the Python stack, tries to import ipykernel and makes 4-6 more Py4J
        # round trips. The frame it keeps (depth 1: the innermost one outside
        # PySpark) is a line of varda_spark for every engine call, never the
        # caller's code; errors keep their class, message and SQLSTATE. A
        # static conf, so it belongs here, not in RUNTIME_CONFS.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return configure(b.getOrCreate())


@functools.lru_cache(maxsize=None)
def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema of a Spark DDL schema string, for tables the driver
    builds or reads and writes with pyarrow in the declared types."""
    return to_arrow_schema(StructType.fromDDL(ddl))


def local_table(spark: SparkSession, rows: list[dict], ddl: str) -> DataFrame:
    """A tiny driver-side table (dimension rows, a manifest entry, a text
    header) as a JVM ``LocalTableScan``.

    ``createDataFrame`` over Python rows plans as ``Scan ExistingRDD`` of a
    Python RDD, so every job touching it starts Python-worker tasks; an
    Arrow table is shipped to the JVM once and planned as a local relation,
    which the optimizer can even evaluate without a job."""
    table = pa.Table.from_pylist(rows, schema=arrow_schema(ddl))
    return spark.createDataFrame(table, StructType.fromDDL(ddl))
