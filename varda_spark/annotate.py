"""The reference's annotation workflow (§3.2) as one call.

Public varda shape (`tasks.py write_annotation` [P]): given an input VCF
and one or more named sample-selection queries, emit the same VCF with
``{QUERY}_VN`` / ``{QUERY}_VF`` INFO fields per variant. The reference
runs a correlated per-record subquery loop against PostgreSQL; here the
whole annotation is ONE Spark plan for all queries (frequency.frequencies):
every query is an id set resolved on the driver from the sample dimension
and a conditional sum, so the input's keys and the facts are read once (C5
completeness — every input variant gets a row, zero-observation variants
get VN/VF of the covered pool and 0.0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from varda_spark.expressions import compile_selection
from varda_spark.frequency import VARIANT_KEY, frequencies
from varda_spark.sources.sinks import format_annotated_vcf_lines, write_annotated_vcf
from varda_spark.sources.vcf import read_vcf


def annotate_keys(
    keys: DataFrame,
    observations: DataFrame,
    regions: DataFrame,
    samples: DataFrame,
    queries: dict[str, str],
) -> DataFrame:
    """Annotate variant keys (duplicates allowed) with per-query VN/VF columns.

    queries: name → selection-DSL expression (expressions.py). Output has
    the distinct key columns plus ``{name}_vn`` / ``{name}_vf`` per query —
    the columnar equivalent of the reference's INFO fields.
    """
    sels = {name: compile_selection(text) for name, text in queries.items()}
    out = frequencies(keys, observations, regions, samples, sels)
    return out.select(*VARIANT_KEY, *[f"{n}_{m}" for n in queries for m in ("vn", "vf")])


def annotate_vcf(
    spark: SparkSession,
    vcf_path: str,
    observations: DataFrame,
    regions: DataFrame,
    samples: DataFrame,
    queries: dict[str, str],
    out_path: str,
) -> DataFrame:
    """Full §3.2: read VCF → annotate its keys → write annotated VCF.

    Returns the annotated keys DataFrame (also written to ``out_path``).
    """
    ann = annotate_keys(read_vcf(spark, vcf_path), observations, regions, samples, queries)
    lines = format_annotated_vcf_lines(ann, list(queries))
    write_annotated_vcf(lines, out_path, list(queries))
    return ann
