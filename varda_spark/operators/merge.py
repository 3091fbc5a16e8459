"""Warehouse upsert (A5+): MERGE-INTO keep-latest semantics as one plan.

A mutable-table engine (the reference's PostgreSQL layer) updates rows in
place; an immutable-parquet warehouse expresses the same contract as
union + per-key latest-version selection. This is exactly the data motion
of a Delta/Iceberg MERGE shuffle: one hash shuffle on the merge keys,
map-side partial nothing (row_number needs the full key group, which is
one shuffle partition). At 100 TB: partition the warehouse by a key prefix
so the merge shuffles only touched partitions (dynamic partition
overwrite), never the full table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Rows from `updates` replace same-key rows of `base`; highest
    `version` wins. If the key may repeat WITHIN a version (dirty
    input), pass `tiebreak` columns to make the survivor deterministic.
    Schema of both inputs must match."""
    merged = base.unionByName(updates)
    order = [F.col("version").desc()] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return merged.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def merge_rollups(rollups: list[DataFrame], keys: list[str], sums: list[str]) -> DataFrame:
    """Continuous-aggregate maintenance: a rollup whose measures are all
    sum-mergeable (sums, counts) is maintained incrementally — aggregate
    only the NEW batch, then combine partials per key. merge(rollup(A),
    rollup(B)) == rollup(A ∪ B) exactly, because integer/decimal sums are
    associative and commutative. At 100 TB this is the difference between
    re-scanning the fact table per refresh and touching only the delta;
    the combine shuffles ≤ |keys|-cardinality partial rows, never facts."""
    out = rollups[0]
    for r in rollups[1:]:
        out = out.unionByName(r)
    return out.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
