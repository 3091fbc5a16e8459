"""The varda core: variant-frequency computation as one DataFrame function.

Reference semantics (public varda, SURVEY.md §3.2–3.3): for each variant key
(chromosome, position, reference, observed) and a sample-selection
expression, compute

  VN ("looked at") = SUM(pool_size) over selected ACTIVE samples that have
      coverage at the locus — i.e. samples with coverage_profile=True and a
      Region containing (chromosome, position), counted ONCE each (semi-join)
      — PLUS all selected active samples with coverage_profile=False, which
      are assumed covered genome-wide and count unconditionally;
  VC (support) = SUM(observation.support) over those selected active samples'
      observations of the exact variant key;
  VF = VC / VN  (0 when VN = 0 gives NULL → caller decides; varda emits 0).

In the reference this runs as a correlated per-VCF-record subquery loop
against PostgreSQL; here every selection of a call shares ONE plan that
reads the keys, the facts and the sample dimension once: the active samples
are broadcast with one boolean flag per selection, and each selection is a
conditional sum — in the numerator aggregate, in the covered pool behind a
binned interval join (C1), and in a one-row unconditional pool. Every
requested key yields a row (C5).

Scale: observations/regions are the 100 TB fact tables, partitioned by
chromosome; `samples` is a tiny dimension — always broadcast. The interval
join shuffles on (chromosome, bin); the numerator aggregates map-side first
(partial aggregation is automatic for sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from varda_spark.operators.interval import interval_join

VARIANT_KEY = ["chromosome", "position", "reference", "observed"]


def frequencies(
    variant_keys: DataFrame | None,
    observations: DataFrame,
    regions: DataFrame,
    samples: DataFrame,
    selections: dict[str, Column],
) -> DataFrame:
    """Per variant key and per named selection: ``{name}_vn``, ``_vc``,
    ``_vf``, ``_vc_hom`` and ``_vc_het`` (plain ``vn``… for the name "").

    variant_keys: (chromosome, position, reference, observed), duplicates
    allowed; None = every key present in `observations` (the database-wide
    frequency table). selections: name → boolean Column over `samples` (the
    B3 expression DSL compiles to this). Inactive samples never count.
    Unused output columns are pruned from the plan by the optimizer.
    """
    if not selections:  # no aggregate to compute: the distinct keys alone
        base = observations if variant_keys is None else variant_keys
        return base.select(*VARIANT_KEY).distinct()
    flags = [f"_q{i}" for i in range(len(selections))]
    dim = F.broadcast(
        samples.filter(F.col("active")).select(
            "sample_id", "pool_size", "coverage_profile",
            *[sel.alias(q) for q, sel in zip(flags, selections.values())],
        )
    )

    def conditional_sums(value: str, tag: str, extra: Column = F.lit(True)) -> list[Column]:
        return [
            F.coalesce(F.sum(F.when(F.col(q) & extra, F.col(value))), F.lit(0)).alias(q + tag)
            for q in flags
        ]

    # ---- numerator: keys ⟕ (observations ⟕ flagged dim), one sum per flag --
    # (rows of unselected or inactive samples carry NULL flags: sum nothing)
    flagged = observations.join(dim, "sample_id", "left")
    if variant_keys is not None:
        flagged = variant_keys.select(*VARIANT_KEY).distinct().join(flagged, VARIANT_KEY, "left")
    num = flagged.groupBy(*VARIANT_KEY).agg(
        *conditional_sums("support", "_vc"),
        *conditional_sums("support", "_hom", F.col("zygosity") == "homozygous"),
        *conditional_sums("support", "_het", F.col("zygosity") == "heterozygous"),
    )

    # ---- covered pool: each key ⟕ covering regions of covered samples ----
    covering = regions.join(dim.filter(F.col("coverage_profile")), "sample_id")
    carried = num.columns[len(VARIANT_KEY):]
    covered = (
        interval_join(
            num,
            covering.select("sample_id", "chromosome", "begin", "end", "pool_size", *flags),
            how="left",
        )
        # overlapping regions of one sample count once (C3 semi-join shape)
        .dropDuplicates([*VARIANT_KEY, "sample_id"])
        .groupBy(*VARIANT_KEY)
        .agg(*[F.first(c).alias(c) for c in carried], *conditional_sums("pool_size", "_cov"))
    )

    # ---- unconditional pool: no-coverage-profile samples count everywhere --
    uncond = dim.filter(~F.col("coverage_profile")).agg(*conditional_sums("pool_size", "_un"))

    out = covered.crossJoin(F.broadcast(uncond))
    cols = []
    for q, name in zip(flags, selections):
        vn, vc = F.col(q + "_cov") + F.col(q + "_un"), F.col(q + "_vc")
        prefix = f"{name}_" if name else ""
        cols += [
            vn.alias(prefix + "vn"),
            vc.alias(prefix + "vc"),
            F.when(vn > 0, vc / vn).otherwise(F.lit(0.0)).alias(prefix + "vf"),
            F.col(q + "_hom").alias(prefix + "vc_hom"),
            F.col(q + "_het").alias(prefix + "vc_het"),
        ]
    return out.select(*VARIANT_KEY, *cols)


def frequency(
    variant_keys: DataFrame | None,
    observations: DataFrame,
    regions: DataFrame,
    samples: DataFrame,
    selection: Column | None = None,
    *,
    split_zygosity: bool = False,
) -> DataFrame:
    """Per variant key: VN (covered pool), VC (support sum), VF (=VC/VN).

    The one-selection case of `frequencies`. selection: None = all samples.
    split_zygosity adds vc_hom / vc_het.
    """
    sel = F.lit(True) if selection is None else selection
    out = frequencies(variant_keys, observations, regions, samples, {"": sel})
    return out.select(*VARIANT_KEY, "vn", "vc", "vf", *(["vc_hom", "vc_het"] if split_zygosity else []))
