"""Skew-handling utilities: salted joins and aggregations for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
shuffle time; salting is the explicit fallback for EXTREME hot keys
(e.g. one user_id owning 1% of a 100 TB events table) or for
sort-merge-join stages AQE can't split (e.g. followed by a window on the
same key).

Mechanics: every fact row gets a salt in [0, n) (``_salt``); a join
explodes the dimension n× so every (key, salt) finds its row, and an
aggregation sums within (key, salt) before combining per key. The fact
shuffle spreads n ways; the dim grows n× (fine — it's the small side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a compute-heavy chain (hash fan-out, explode, vectorized
    mapInPandas) across the cluster when the upstream scan cannot.

    Parquet assigns a row group to the ONE split containing its midpoint,
    so a small file with a single row group runs its whole scan stage —
    and everything codegen fuses into it — on one task no matter what the
    split math says (the r14 profile: agg_bootstrap's 3.6M-md5 stage ran
    on 1 effective task of a local[32] session). Round-robin repartition
    to 2×defaultParallelism unlocks the cores; callers apply it
    AFTER projecting down to the narrow columns the chain needs, so the
    shuffle ships keys+metadata, not payloads (guide §2.3).

    Scale-adaptive: when the input already has ≥ 2×parallelism
    partitions (any real multi-file table at 100 TB), this is a no-op —
    the repartition only fires for inputs too small to split, where the
    shuffled bytes are by construction tiny.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * 2
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _salt(n_salts: int) -> Column:
    """A per-row salt in [0, n_salts): a hash of the row's monotonic id.
    Any per-row spreading value works — a salted result is
    salt-independent."""
    return F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))


def salted_join(facts: DataFrame, dim: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """facts ⋈ dim on `key`, with the fact-side shuffle spread n_salts ways.

    Result equals facts.join(dim, key) (property-tested); use when a
    handful of keys dominate and AQE skew splitting isn't available for
    the stage. The join runs on (key, salt) against the dimension
    exploded once per salt value, so the dim side must tolerate n_salts×
    replication. The exploded dimension carries the merge hint: salting
    only pays on a shuffle join, and a small dimension would otherwise
    be broadcast.
    """
    f = facts.withColumn("_salt", _salt(n_salts))
    d = dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    return f.join(d.hint("merge"), [key, "_salt"]).drop("_salt")


def salted_agg(df: DataFrame, group_cols: list[str], agg_col: str) -> DataFrame:
    """Two-stage aggregation for skewed group keys: stage 1 sums within
    (key, salt) — spreading a hot key over 16 reducers — stage 2 sums
    the ≤ 16 partials per key. Result equals the plain groupBy sum
    exactly (integer/decimal sums are associative); use when one group
    holds a disproportionate share of rows and map-side partial
    aggregation alone can't absorb it (e.g. high-cardinality payload
    columns defeat hash-map combining)."""
    salted = df.withColumn("_salt", _salt(16))
    stage1 = salted.groupBy(*group_cols, "_salt").agg(F.sum(agg_col).alias("_partial"))
    return stage1.groupBy(*group_cols).agg(F.sum("_partial").alias(f"sum_{agg_col}"))
