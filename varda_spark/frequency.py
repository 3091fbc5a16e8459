"""The varda core: variant-frequency computation as one DataFrame function.

Reference semantics (public varda, SURVEY.md §3.2–3.3): for each variant key
(chromosome, position, reference, observed) and a sample selection:

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
reads the keys and the facts once. The sample dimension is resolved on the
driver at build time, in one collect. Each selection becomes an id set, one
``sample_id IN (…)`` expression (an ``InSet`` once optimized) that every
conditional sum tests: VC and hom/het join no dimension, and the covered
pool (binned interval join, C1) joins a driver-local table of the selected
covered samples' pool sizes. The unconditional pool is a bigint literal.
Every requested key yields a row (C5). A file-backed `samples` is a
snapshot taken at build time (one Spark job); a driver-local one is
collected with no job. It stays cheap at thousands of samples: a broadcast
of the dimension passed every row through the driver too, and an id set
reaches the JVM in one call whatever its size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from varda_spark.operators.interval import interval_join
from varda_spark.session import local_table

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
    B3 expression DSL compiles to this); NULL is not selected. Inactive
    samples never count. Sample ids are integers. `samples` is read here,
    once: the plan holds its ids and pool sizes as literals.
    """
    if not selections:  # no aggregate to compute: the distinct keys alone
        base = observations if variant_keys is None else variant_keys
        return base.select(*VARIANT_KEY).distinct()
    flags = [f"_q{i}" for i in range(len(selections))]
    dim = samples.filter(F.col("active")).select(
        "sample_id", "pool_size", "coverage_profile",
        *[sel.alias(q) for q, sel in zip(flags, selections.values())],
    )
    rows = dim.collect()
    picked = [[r for r in rows if r[q]] for q in flags]
    # one IN expression per selection: one Py4J call (isin sends one per id)
    ids = [", ".join(str(int(r.sample_id)) for r in p) for p in picked]
    in_sel = [F.expr(f"sample_id IN ({i})") if i else F.lit(False) for i in ids]

    def conditional_sums(value: str, tag: str, extra: Column = F.lit(True)) -> list[Column]:
        return [
            F.coalesce(F.sum(F.when(s & extra, F.col(value))), F.lit(0)).alias(q + tag)
            for q, s in zip(flags, in_sel)
        ]

    # ---- numerator: keys ⟕ observations, one sum per id set -------------
    facts = observations
    if variant_keys is not None:
        facts = variant_keys.select(*VARIANT_KEY).distinct().join(observations, VARIANT_KEY, "left")
    num = facts.groupBy(*VARIANT_KEY).agg(
        *conditional_sums("support", "_vc"),
        *conditional_sums("support", "_hom", F.col("zygosity") == "homozygous"),
        *conditional_sums("support", "_het", F.col("zygosity") == "heterozygous"),
    )

    # ---- covered pool: each key ⟕ covering regions of covered samples ----
    pools = [{"sample_id": r.sample_id, "pool_size": r.pool_size}
             for r in rows if r.coverage_profile and any(r[q] for q in flags)]
    ddl = ", ".join(f"{c} {t}" for c, t in dim.dtypes[:2])  # sample_id, pool_size
    covering = regions.join(local_table(samples.sparkSession, pools, ddl), "sample_id")
    carried = num.columns[len(VARIANT_KEY):]
    covered = (
        interval_join(num, covering.select("sample_id", "chromosome", "begin", "end", "pool_size"), how="left")
        # overlapping regions of one sample count once (C3 semi-join shape)
        .dropDuplicates([*VARIANT_KEY, "sample_id"])
        .groupBy(*VARIANT_KEY)
        .agg(*[F.first(c).alias(c) for c in carried], *conditional_sums("pool_size", "_cov"))
    )

    cols = []
    for q, name, p in zip(flags, selections, picked):
        uncond = sum(r.pool_size or 0 for r in p if r.coverage_profile is False)
        vn, vc = F.col(q + "_cov") + F.lit(uncond).cast("bigint"), F.col(q + "_vc")
        prefix = f"{name}_" if name else ""
        cols += [
            vn.alias(prefix + "vn"),
            vc.alias(prefix + "vc"),
            F.when(vn > 0, vc / vn).otherwise(F.lit(0.0)).alias(prefix + "vf"),
            F.col(q + "_hom").alias(prefix + "vc_hom"),
            F.col(q + "_het").alias(prefix + "vc_het"),
        ]
    return covered.select(*VARIANT_KEY, *cols)


def frequency(
    variant_keys: DataFrame | None,
    observations: DataFrame,
    regions: DataFrame,
    samples: DataFrame,
    selection: Column | None = None,
    *,
    split_zygosity: bool = False,
) -> DataFrame:
    """Per variant key: VN (covered pool), VC (support sum), VF (=VC/VN), plus
    vc_hom / vc_het if split_zygosity. The one-selection case of `frequencies`;
    selection None = all samples."""
    sel = F.lit(True) if selection is None else selection
    out = frequencies(variant_keys, observations, regions, samples, {"": sel})
    return out.select(*VARIANT_KEY, "vn", "vc", "vf", *(["vc_hom", "vc_het"] if split_zygosity else []))
