"""Variant-key normalization — the identity function of the whole engine.

Reference semantics (public varda/varda, `varda/utils.py normalize_variant`
— public-knowledge citation, see SURVEY.md §0): canonicalize a
(position, reference, observed) triple by trimming the longest common
SUFFIX of the two alleles first, then the longest common PREFIX, advancing
``position`` by the prefix length. Order matters: "ATG">"ATG" style
no-ops, indels like pos=10 ref="CAG" obs="CTG" → pos=11 "A">"T".

``normalize_chromosome`` (varda/utils.py normalize_chromosome [P]):
strip a leading ``chr``/``CHR`` prefix and canonicalize mitochondrial
naming M → MT.

Domain note: ref==obs is NOT a variant. For such input both alleles trim to
'' with the position left at the suffix-consumed anchor — a well-defined but
meaningless value (two spellings of "no variant" can land on different
positions). VCF ingest rejects ref==alt records (sources/vcf.py), so these
never reach the engine; both twins below agree exactly on every input.

Everything here is pure Column expressions (no Python UDF): at 100 TB these
run inside whole-stage codegen on every ingested observation, so they must
stay JVM-side. The common-suffix/prefix lengths are computed with
``aggregate(sequence(...))`` higher-order functions — O(allele length)
per row with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def normalize_chromosome(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"^(?i)chr", "")
    return (
        F.when(F.upper(stripped).isin("M", "MT"), F.lit("MT"))
        .otherwise(stripped)
        .alias("chromosome")
    )


def _common_suffix_len(a: str, b: str) -> str:
    """SQL expr: length of longest common suffix of string cols `a`, `b`."""
    n = f"least(length({a}), length({b}))"
    # aggregate walks k=1..n; acc advances only while the suffix keeps matching
    return (
        f"IF({n} < 1, 0, aggregate(sequence(1, {n}), 0, (acc, k) -> "
        f"IF(acc = k - 1 AND substring({a}, length({a}) - k + 1, 1) = "
        f"substring({b}, length({b}) - k + 1, 1), k, acc)))"
    )


def _common_prefix_len(a: str, b: str) -> str:
    n = f"least(length({a}), length({b}))"
    return (
        f"IF({n} < 1, 0, aggregate(sequence(1, {n}), 0, (acc, k) -> "
        f"IF(acc = k - 1 AND substring({a}, k, 1) = substring({b}, k, 1), "
        f"k, acc)))"
    )


def normalize_variant_cols(df: DataFrame) -> DataFrame:
    """Return df with (position, reference, observed) canonicalized.

    Suffix-trim first, then prefix-trim advancing position — the varda
    order. Empty alleles ('' for pure ins/del) pass through unchanged.
    """
    s = _common_suffix_len("reference", "observed")
    df = (
        df.withColumn("_s", F.expr(s))
        .withColumn("_r1", F.expr("substring(reference, 1, length(reference) - _s)"))
        .withColumn("_o1", F.expr("substring(observed, 1, length(observed) - _s)"))
    )
    p = _common_prefix_len("_r1", "_o1")
    df = (
        df.withColumn("_p", F.expr(p))
        .withColumn("position", F.col("position") + F.col("_p"))
        .withColumn("reference", F.expr("substring(_r1, _p + 1, length(_r1) - _p)"))
        .withColumn("observed", F.expr("substring(_o1, _p + 1, length(_o1) - _p)"))
        .drop("_s", "_r1", "_o1", "_p")
    )
    return df


def normalize_variant_py(position: int, reference: str, observed: str) -> tuple[int, str, str]:
    """Plain-Python twin of normalize_variant_cols, for golden tests."""
    ref, obs = reference, observed
    while ref and obs and ref[-1] == obs[-1]:
        ref, obs = ref[:-1], obs[:-1]
    while ref and obs and ref[0] == obs[0]:
        ref, obs = ref[1:], obs[1:]
        position += 1
    return position, ref, obs
