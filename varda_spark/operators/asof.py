"""As-of join: match each left row to the most recent right row at or
before it (per key) — the classic time-series/point-in-time join Spark
lacks as a built-in.

Not in the reference (varda is not temporal [P]); mandated by the north
star's "operators a large-scale pipeline needs". DuckDB has a native
ASOF JOIN, which serves as the oracle.

Scale design — NO per-row subquery and NO range self-join: both sides
union into one stream, shuffle ONCE on the key, and a single
sort-within-partition + last(ignorenulls) carry-forward window computes
every match. Wall-clock is one shuffle + one sort regardless of how many
left rows match each right row. Skewed keys are handled by AQE; at 100 TB
the union keeps each side's columns pruned to what the output needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    by: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row: columns of the latest right row with
    right.ts <= left.ts and right.by == left.by (NULLs when none), each
    carried column suffixed ``_right``.

    Ties on `ts` match (<= semantics): the right row sorts before the left
    row at equal timestamps. If the right side can hold duplicate (by, ts)
    pairs, deduplicate it first — carry-forward keeps the LAST in sort
    order, which is nondeterministic among exact duplicates.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (by, "ts")]
    lft = left.withColumn("_src", F.lit(1))
    rgt = right.select(
        F.col(by),
        F.col("ts"),
        F.lit(0).alias("_src"),
        F.col("ts").alias("ts_right"),
        *[F.col(c).alias(f"{c}_right") for c in right_cols],
    )
    carried = ["ts_right"] + [f"{c}_right" for c in right_cols]
    unioned = lft.unionByName(rgt, allowMissingColumns=True)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col("ts").asc(), F.col("_src").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in carried:
        unioned = unioned.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return unioned.filter(F.col("_src") == 1).drop("_src")
