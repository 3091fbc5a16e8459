"""Sinks: partitioned warehouse writes + the annotated-VCF text sink (A5/A6).

Warehouse layout (replaces the reference's PostgreSQL tables + B-trees,
SURVEY.md §4): Parquet partitioned by chromosome, sorted by position within
files — partition pruning replaces the (chromosome) index prefix and
row-group min/max skipping replaces the position B-tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from varda_spark.session import local_table


def write_observations(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Observation fact table: partition by chromosome, sort by position.

    sortWithinPartitions before write → every parquet file has tight
    position min/max stats; a (chrom, pos) point lookup reads ~1 row group.
    """
    (
        df.repartition("chromosome")
        .sortWithinPartitions("position")
        .write.mode(mode)
        .partitionBy("chromosome")
        .parquet(path)
    )


def format_annotated_vcf_lines(
    annotated: DataFrame,
    query_names: list[str],
    *,
    chrom: str = "chromosome",
    pos: str = "position",
    ref: str = "reference",
    obs: str = "observed",
) -> DataFrame:
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
        F.col(chrom),
        F.col(pos).cast("string"),
        F.lit("."),
        F.when(F.length(ref) > 0, F.col(ref)).otherwise(F.lit(".")),
        F.when(F.length(obs) > 0, F.col(obs)).otherwise(F.lit(".")),
        F.lit("."),
        F.lit("."),
        info,
    )
    return annotated.select(line.alias("value")).orderBy(F.col(chrom), F.col(pos))


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
    sort_key: str | None = None,
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
    if sort_key:
        w = w.sortBy(sort_key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_warehouse(
    spark,
    path: str,
    partition_col: str = "chromosome",
    files_per_bucket: int = 32,
) -> int:
    """A5 maintenance: small-file compaction of a partitioned warehouse.

    Streaming/incremental ingest leaves many small parquet files per
    partition directory; tiny files dominate task-scheduling and footer
    overhead at scale. Rewrite: hash-repartition on the partition column
    (so each partition value's rows land in few tasks → few output files),
    write to a sibling ``__new`` dir, then swap with the same rename
    discipline as ``VardaWarehouse._overwrite_dim`` (api.py): move the
    live dir aside to ``__old``, rename ``__new`` in, drop ``__old``.
    A crash at any step leaves a complete directory on disk — either the
    live path still exists (crash before the second rename) or the new
    one is in place; the ``__old``/``__new`` leftovers are droppable
    (``recover_compaction`` below does exactly that). The renames are
    atomic on a posix filesystem; on an object store do this as a
    metadata commit in a table format (Iceberg/Delta rewrite-files
    action) — the data motion, which is the expensive part, is exactly
    this plan. Returns the row count (verified equal before swap).
    """
    import os
    import shutil

    df = spark.read.parquet(path)
    n_before = df.count()
    tmp, old = path + "__new", path + "__old"
    for leftover in (tmp, old):  # from a previous crashed run
        if os.path.exists(leftover):
            shutil.rmtree(leftover)
    (
        df.repartition(files_per_bucket, F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(tmp)
    )
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:  # paranoia before destroying anything
        shutil.rmtree(tmp)
        raise RuntimeError(f"compaction row mismatch: {n_before} -> {n_after}")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_after


def recover_compaction(path: str) -> str:
    """Crash recovery for a mid-swap ``compact_warehouse`` or
    ``VardaWarehouse._overwrite_dim``.

    Idempotent: if the live dir exists, drop any ``__new``/``__old``
    leftovers (the swap either never started or fully finished); if only
    ``__old`` exists (crash between the two renames), rename it back.
    Returns a short description of what was done. ``VardaWarehouse`` runs
    this before it reads a dimension; compact_warehouse itself also clears
    leftovers.
    """
    import os
    import shutil

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
