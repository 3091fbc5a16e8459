"""VCF source (A1): parse VCF files into normalized Observation rows.

Reference semantics (public varda `tasks.py import_variation` [P]): each
VCF record decomposes into one observation per ALT allele per sample;
genotypes (GT) give zygosity and per-sample support; pooled imports carry
support in INFO. Alleles are canonicalized with the suffix-then-prefix
trim (functions/variant.py) and chromosomes normalized.

Spark-first design: the file body is a line-delimited scan
(``spark.read.text`` — splittable, scales to any size; gzip transparent),
the tiny header is read driver-side to learn sample names, and the whole
decomposition (split → posexplode ALTs → per-sample genotype parse) is
pure Column expressions inside whole-stage codegen. No Python UDFs.

At 100 TB: one VCF shard = one task; the output is written
``partitionBy('chromosome')`` sorted by position (sinks.write_observations)
so downstream locus queries prune partitions and row groups.
"""

from __future__ import annotations

import gzip
import io

from pyspark.sql import DataFrame, SparkSession, functions as F

from varda_spark.functions.variant import normalize_chromosome, normalize_variant_cols

FIXED_COLS = ["CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"]


def read_vcf_header(path: str) -> list[str]:
    """Driver-side read of the tiny header: returns sample names (may be [])."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as f:  # type: ignore[operator]
        for line in f:
            if line.startswith("#CHROM"):
                cols = line.rstrip("\n").split("\t")
                return cols[9:] if len(cols) > 9 else []
            if not line.startswith("#"):
                break
    return []


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """VCF → observations (sample_name, chromosome, position, reference,
    observed, zygosity, support), normalized.

    Per record, per ALT index i (1-based in GT terms):
    - with sample columns: each sample whose GT contains allele i yields one
      observation; zygosity = homozygous iff all GT alleles == i, else
      heterozygous; support = 1.
    - without samples (pooled/site-only VCF): one observation per ALT with
      sample_name = NULL; support = INFO[SF_SUPPORT] for that ALT
      (comma-separated per-ALT) else 1; zygosity NULL.
    """
    samples = read_vcf_header(path)
    lines = spark.read.text(path).filter(~F.col("value").startswith("#"))
    p = F.split(F.col("value"), "\t")
    base = lines.select(
        normalize_chromosome(p.getItem(0)).alias("chromosome_raw"),
        p.getItem(1).cast("long").alias("position"),
        p.getItem(3).alias("ref_raw"),
        F.split(p.getItem(4), ",").alias("alts"),
        p.getItem(7).alias("info"),
        # all sample fields as ONE array column: the expression tree stays
        # constant-size at any sample width (1000-Genomes is 2,504 columns —
        # per-sample struct codegen would explode; a slice+explode doesn't)
        *([F.slice(p, 10, len(samples)).alias("_gts")] if samples else []),
    ).withColumnRenamed("chromosome_raw", "chromosome")
    base = base.select(
        "*", F.posexplode("alts").alias("alt_idx0", "observed_raw")
    ).withColumn("alt_i", F.col("alt_idx0") + 1)

    if samples:
        names = F.lit(samples)  # single array<string> literal, broadcast with the plan
        exploded = base.select(
            "chromosome",
            "position",
            F.col("ref_raw").alias("reference"),
            F.col("observed_raw").alias("observed"),
            "alt_i",
            F.posexplode("_gts").alias("s_idx", "_gt_raw"),
        )
        gt = F.split(F.regexp_extract(F.col("_gt_raw"), r"^([^:]+)", 1), r"[/|]")
        n_match = F.size(F.filter(gt, lambda a: a == F.col("alt_i").cast("string")))
        n_total = F.size(F.filter(gt, lambda a: a != "."))
        zyg = (
            F.when((n_match > 0) & (n_match == n_total), F.lit("homozygous"))
            .when(n_match > 0, F.lit("heterozygous"))
            .otherwise(F.lit(None).cast("string"))
        )
        obs = (
            exploded.withColumn("_nm", n_match)
            .filter(F.col("_nm") > 0)
            .select(
                "chromosome",
                "position",
                "reference",
                "observed",
                F.element_at(names, F.col("s_idx") + 1).alias("sample_name"),
                zyg.alias("zygosity"),
                F.lit(1).alias("support"),
            )
        )
    else:
        extracted = F.nullif(
            F.regexp_extract("info", r"(?:^|;)SF_SUPPORT=([^;]+)", 1), F.lit("")
        )
        support = F.coalesce(
            F.try_element_at(F.split(extracted, ","), F.col("alt_i")).try_cast("int"),
            F.lit(1),
        )
        obs = base.select(
            "chromosome",
            "position",
            F.col("ref_raw").alias("reference"),
            F.col("observed_raw").alias("observed"),
            F.lit(None).cast("string").alias("sample_name"),
            F.lit(None).cast("string").alias("zygosity"),
            support.alias("support"),
        ).select("chromosome", "position", "reference", "observed", "sample_name", "zygosity", "support")

    # Ingest guard: a record whose ALT equals its REF is not a variant — the
    # normalizer's output is undefined for ref==obs (both alleles trim to ''
    # with an ambiguous position), so such records are rejected here, before
    # normalization, exactly like zero-support observations above.
    obs = obs.filter(F.col("reference") != F.col("observed"))
    return normalize_variant_cols(obs).filter(F.col("observed") != F.lit("<NON_REF>"))
