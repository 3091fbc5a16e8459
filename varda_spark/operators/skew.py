"""Skew-handling utilities: salted joins for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
shuffle time; salting is the explicit fallback for EXTREME hot keys
(e.g. one user_id owning 1% of a 100 TB events table) or for
sort-merge-join stages AQE can't split (e.g. followed by a window on the
same key).

Mechanics: the fact side gets a random-but-deterministic salt in
[0, n_salts) appended to the join key; the dimension side is exploded
n_salts× so every salted fact key finds its row. Fact shuffle spread
n_salts ways; dim grows n_salts× (fine — it's the small side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


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


def with_salt(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Deterministic salt from a content hash (reproducible across runs,
    unlike rand()): salt = xxhash64(whole row key + monotonic id) % n, as
    ``_salted_key``."""
    salt = F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(n_salts))
    return df.withColumn("_salted_key", F.concat_ws("#", F.col(key).cast("string"), salt.cast("string")))


def explode_dim(dim: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Replicate each dimension row once per salt value (``_salted_key``)."""
    return dim.withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))).withColumn(
        "_salted_key", F.concat_ws("#", F.col(key).cast("string"), F.col("_salt").cast("string"))
    ).drop("_salt")


def salted_join(facts: DataFrame, dim: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """facts ⋈ dim on `key`, with the fact-side shuffle spread n_salts ways.

    Result equals facts.join(dim, key) (property-tested); use when a
    handful of keys dominate and AQE skew splitting isn't available for
    the stage. The dim side must tolerate n_salts× replication.
    """
    f = with_salt(facts, key, n_salts)
    d = explode_dim(dim.withColumnRenamed(key, f"_dim_{key}"), f"_dim_{key}", n_salts)
    out = f.join(d, f["_salted_key"] == d["_salted_key"], "inner")
    return out.drop("_salted_key", f"_dim_{key}")


def salted_agg(df: DataFrame, group_cols: list[str], agg_col: str) -> DataFrame:
    """Two-stage aggregation for skewed group keys: stage 1 sums within
    (key, salt) — spreading a hot key over 16 reducers — stage 2 sums
    the ≤ 16 partials per key. Result equals the plain groupBy sum
    exactly (integer/decimal sums are associative); use when one group
    holds a disproportionate share of rows and map-side partial
    aggregation alone can't absorb it (e.g. high-cardinality payload
    columns defeat hash-map combining)."""
    # any per-row spreading value works — the final result is salt-
    # independent because the sum is associative
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(16))
    )
    stage1 = salted.groupBy(*group_cols, "_salt").agg(F.sum(agg_col).alias("_partial"))
    return stage1.groupBy(*group_cols).agg(F.sum("_partial").alias(f"sum_{agg_col}"))
