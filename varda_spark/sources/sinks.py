"""Sinks: partitioned warehouse writes + the annotated-VCF text sink (A5/A6).

Warehouse layout (replaces the reference's PostgreSQL tables + B-trees,
SURVEY.md §4): Parquet partitioned by chromosome, sorted by position within
files — partition pruning replaces the (chromosome) index prefix and
row-group min/max skipping replaces the position B-tree.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from varda_spark.session import local_table


def write_observations(df: DataFrame, path: str) -> None:
    """Observation fact table: partition by chromosome, sort by position.

    sortWithinPartitions before write → every parquet file has tight
    position min/max stats; a (chrom, pos) point lookup reads ~1 row group.
    """
    (
        df.repartition("chromosome")
        .sortWithinPartitions("position")
        .write.mode("overwrite")
        .partitionBy("chromosome")
        .parquet(path)
    )


def format_annotated_vcf_lines(annotated: DataFrame, query_names: list[str]) -> DataFrame:
    """A6: render per-variant frequency results as VCF body lines.

    For each query name Q the DF must carry columns ``{Q}_vn`` and
    ``{Q}_vf``; INFO becomes ``Q_VN=..;Q_VF=..`` per query (the
    reference's write_annotation INFO fields [P]). Alleles that trimmed
    to '' are VCF-illegal, so emit '.' (caller may re-anchor instead).
    """
    info = F.concat_ws(
        ";",
        *[
            F.concat(
                F.lit(f"{q}_VN="),
                F.col(f"{q}_vn").cast("string"),
                F.lit(f";{q}_VF="),
                F.round(F.col(f"{q}_vf"), 6).cast("string"),
            )
            for q in query_names
        ],
    )
    line = F.concat_ws(
        "\t",
        F.col("chromosome"),
        F.col("position").cast("string"),
        F.lit("."),
        F.when(F.length("reference") > 0, F.col("reference")).otherwise(F.lit(".")),
        F.when(F.length("observed") > 0, F.col("observed")).otherwise(F.lit(".")),
        F.lit("."),
        F.lit("."),
        info,
    )
    return annotated.select(line.alias("value")).orderBy(F.col("chromosome"), F.col("position"))


def write_annotated_vcf(lines: DataFrame, path: str, header_queries: list[str]) -> None:
    """Write VCF text: INFO headers + body. coalesce(1) is demo-scale only —
    at 100 TB you write sharded text and cat at serve time."""
    spark = lines.sparkSession
    header = ["##fileformat=VCFv4.2"]
    for q in header_queries:
        header.append(
            f'##INFO=<ID={q}_VN,Number=1,Type=Integer,Description="Pool size covering locus ({q})">'
        )
        header.append(
            f'##INFO=<ID={q}_VF,Number=1,Type=Float,Description="Variant frequency ({q})">'
        )
    header.append("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO")
    hdf = local_table(spark, [{"value": h} for h in header], "value string")
    hdf.unionByName(lines).coalesce(1).write.mode("overwrite").text(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed warehouse table: co-locates joins/aggs on bucket_key.

    Two tables bucketed the same way join with ZERO shuffle (Catalyst
    sees the hash-distribution requirement already satisfied) — at 100 TB
    this is the difference between a full-network shuffle of the fact
    table and a local merge. Requires saveAsTable (bucket metadata lives
    in the catalog, not the parquet files).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_warehouse(spark, path: str, files_per_bucket: int = 32) -> int:
    """A5 maintenance: small-file compaction of a chromosome-partitioned
    warehouse.

    Streaming/incremental ingest leaves many small parquet files per
    partition directory; tiny files dominate task-scheduling and footer
    overhead at scale. Rewrite: hash-repartition on ``chromosome`` (so
    each partition value's rows land in few tasks → few output files),
    write to a sibling ``__new`` dir, then ``swap_in`` it. A swap that
    crashed earlier is rolled back first (``recover_compaction``), so a
    crashed run's ``__old`` — possibly the only complete copy — is never
    deleted. The renames are atomic on a posix filesystem; on an object
    store do this as a metadata commit in a table format (Iceberg/Delta
    rewrite-files action) — the data motion, which is the expensive part,
    is exactly this plan. Returns the row count (verified equal before
    swap).
    """
    recover_compaction(path)
    df = spark.read.parquet(path)
    n_before = df.count()
    tmp = path + "__new"
    (
        df.repartition(files_per_bucket, F.col("chromosome"))
        .write.mode("overwrite")
        .partitionBy("chromosome")
        .parquet(tmp)
    )
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:  # paranoia before destroying anything
        shutil.rmtree(tmp)
        raise RuntimeError(f"compaction row mismatch: {n_before} -> {n_after}")
    swap_in(path)
    return n_after


def swap_in(path: str) -> None:
    """Replace the directory ``path`` with the complete ``path__new``: move
    the live dir (if any) aside to ``__old``, rename ``__new`` in, drop
    ``__old``. A crash at any step leaves a complete directory on disk —
    the live one (crash before the first rename), ``__old`` alone (crash
    between the renames) or the new one — and ``recover_compaction``
    restores the live path from it."""
    old = path + "__old"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(path + "__new", path)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_compaction(path: str) -> str:
    """Crash recovery for a ``swap_in`` that died midway (a compaction or a
    ``VardaWarehouse`` dimension rewrite).

    Idempotent: if the live dir exists, drop any ``__new``/``__old``
    leftovers (the swap either never started or fully finished); if only
    ``__old`` exists (crash between the two renames), rename it back.
    Returns a short description of what was done. ``VardaWarehouse`` runs
    this before every access to a table; compact_warehouse runs it before
    it reads.
    """
    tmp, old = path + "__new", path + "__old"
    if os.path.exists(path):
        for leftover in (tmp, old):
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
        return "live"
    if os.path.exists(old):
        os.rename(old, path)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        return "restored_old"
    raise FileNotFoundError(f"no live or __old directory at {path}")
