"""JSONL / CSV document ingest (A-family breadth): the two formats a
training corpus actually arrives in. Thin, schema-explicit wrappers over
Spark's native readers — splittable, predicate-pushing, gzip-transparent —
normalizing to the same (doc_id, lang, text) shape the documents table
uses, so every downstream operator (dedup, quality, packing) runs on any
source unchanged.

Always pass an explicit schema at 100 TB: schema inference is a full
extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("text", StringType()),
    ]
)


def read_documents_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """One JSON object per line → (good, quarantined). Unparseable lines
    are captured, not dropped silently, so ingest can quarantine them like
    VCF reference mismatches. Spark refuses to filter on the internal
    corrupt-record column alone, so the quarantine side re-scans as text
    and keeps lines from_json cannot parse — both scans are cheap
    line-splittable reads, and the good path stays a single
    DROPMALFORMED native JSON scan."""
    good = spark.read.schema(DOC_SCHEMA).option("mode", "DROPMALFORMED").json(path)
    raw = spark.read.text(path)
    bad = raw.filter(F.try_parse_json(F.col("value")).isNull()).select(
        F.col("value").alias("corrupt_line")
    )
    return good, bad


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header CSV with quoted fields; explicit schema, no inference pass."""
    return (
        spark.read.schema(DOC_SCHEMA)
        .option("header", True)
        .option("sep", ",")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
