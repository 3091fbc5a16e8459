"""Point-in-interval and range-overlap joins — THE core join of the engine.

Reference shape (public varda denominator query, SURVEY.md §2.C1): "which
samples have a coverage Region containing (chromosome, position)?". In
PostgreSQL that's a composite-index lookup on (chromosome, bin); our Spark
translation is the binned equi-join rewrite from operators/binning.py.

Scale behaviour: both sides shuffle-hash-partition on (chromosome, bin) —
at 100 TB that's an even, prunable key space (chromosome is also the
parquet partition key, so partition pruning kicks in for single-locus
lookups); no nested-loop, no cross product. Point-side fan-out is exactly
5 rows per point (the 5 bin levels), interval side is 1 row each.

The binned join is the only strategy, whatever the sizes: a broadcast
nested loop is not worth picking even for a small interval side, since its
work is O(points × intervals) however few bytes the intervals take (at sf5
it took join_interval_knn to 245 s, against 3.0 s binned; BASELINE.md,
round 9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from varda_spark.operators.binning import point_bins, range_bins, with_bin


def _rename_clashes(df: DataFrame, other: DataFrame, prefix: str):
    """Prefix the columns of ``df`` that ``other`` also has (except the
    shared ``_bin`` key), so the join condition and the output name each
    column once. Returns the renamed frame and a lookup from an original
    name of ``df`` to its column."""
    clash = set(df.columns) & set(other.columns) - {"_bin"}
    for c in clash:
        df = df.withColumnRenamed(c, prefix + c)
    return df, lambda c: F.col(prefix + c if c in clash else c)


def interval_join(points: DataFrame, intervals: DataFrame, how: str = "inner") -> DataFrame:
    """Join each point (chromosome, position) to every closed interval
    (chromosome, begin, end) containing it: an equi-join on
    (chromosome, bin) plus the residual range predicate, so both sides
    shuffle on an even key and no nested loop runs at any size.

    Interval columns keep their names; clashing names on the interval side
    get an ``i_`` prefix.

    ``how="left"`` keeps every point, but per bin level, not per point:
    each point is exploded to one row per bin level, so the output has one
    row per matching interval plus one row with NULL interval columns for
    each bin level where no interval contains the point. A caller that
    needs one row per point deduplicates, as ``frequencies`` does on
    (key, ``sample_id``).
    """
    pts = points.withColumn("_bin", F.explode(point_bins("position")))
    ivs, iv = _rename_clashes(with_bin(intervals, "begin", "end", out="_bin"), pts, "i_")
    cond = (
        (F.col("chromosome") == iv("chromosome"))
        & (pts["_bin"] == ivs["_bin"])
        & (F.col("position") >= iv("begin"))
        & (F.col("position") <= iv("end"))
    )
    return pts.join(ivs, cond, how).drop("_bin")


def range_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_keys: tuple[str, str, str] = ("chromosome", "begin", "end"),
    right_keys: tuple[str, str, str] = ("chromosome", "begin", "end"),
) -> DataFrame:
    """Join intervals that overlap (closed-interval semantics).

    The smaller/query side explodes to all candidate bins (bounded by the
    5-level hierarchy), the stored side carries its single enclosing bin.
    """
    lc, lb, le = left_keys
    rc, rb, re_ = right_keys
    lft = left.withColumn("_bin", F.explode(range_bins(lb, le)))
    rgt, r = _rename_clashes(with_bin(right, rb, re_, out="_bin"), lft, "r_")
    cond = (
        (F.col(lc) == r(rc))
        & (lft["_bin"] == rgt["_bin"])
        & (F.col(lb) <= r(re_))
        & (F.col(le) >= r(rb))
    )
    return lft.join(rgt, cond, "inner").drop("_bin")


def interval_join_naive(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Reference implementation of ``interval_join`` (inner): a plain
    theta join, which Spark plans as a nested loop. Only for the tests
    that check the binned rewrite against it; never an engine path.
    """
    ivs, iv = _rename_clashes(intervals, points, "i_")
    cond = (
        (F.col("chromosome") == iv("chromosome"))
        & (F.col("position") >= iv("begin"))
        & (F.col("position") <= iv("end"))
    )
    return points.join(ivs, cond, "inner")


def nearest_interval(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """bedtools-closest: for each ``p_partkey`` point the nearest interval
    (distance 0 if overlapping; ties broken by lowest ``sample_key``) — WITHOUT an all-pairs
    join, at any scale. Every point gets exactly one row: a point whose
    chromosome has no interval gets NULL ``nearest_key`` and ``distance``
    (``knn_intervals`` emits no row for it).

    Three bounded candidate sources, no pair blow-up anywhere:
    1. overlapping intervals (distance 0) from the binned interval join,
       keeping the min key per point — handles the many-overlaps tie,
       where a sweep's single best-end candidate is not the min-key one;
    2. best strictly-left interval from an ascending sweep: running max of
       struct(end, -key) over intervals with begin <= pos (for positive
       distance pos-end, equal distance implies equal end, so -key inside
       the max resolves the tie);
    3. best strictly-right interval from a descending sweep: running min
       of struct(begin, key) (equal distance implies equal begin).
    The brute-force nearest with (distance, key) tie-break — which is what
    the oracle computes — is provably one of the three. Cost: one shuffle
    on (chromosome, bin), one on chromosome, two sorted windows.
    """
    from pyspark.sql.window import Window

    ev_iv = intervals.select(
        "chromosome",
        F.col("begin").alias("k"),
        F.lit(0).alias("tag"),
        F.struct(F.col("end").alias("e"), (-F.col("sample_key")).alias("nk")).alias("lcand"),
        F.struct(F.col("begin").alias("b"), F.col("sample_key").alias("pk")).alias("rcand"),
        F.lit(None).cast("long").alias("position"),
        F.lit(None).cast("long").alias("p_partkey"),
    )
    ev_pt = points.select(
        "chromosome",
        F.col("position").alias("k"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("struct<e:long,nk:long>").alias("lcand"),
        F.lit(None).cast("struct<b:long,pk:long>").alias("rcand"),
        "position",
        "p_partkey",
    )
    ev = ev_iv.unionByName(ev_pt)
    # ascending: intervals (tag 0) before points at equal k → begin <= pos
    wl = Window.partitionBy("chromosome").orderBy("k", "tag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # descending: intervals before points at equal k → begin >= pos
    wr = Window.partitionBy("chromosome").orderBy(F.col("k").desc(), F.col("tag").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = (
        ev.withColumn("bestl", F.max("lcand").over(wl))
        .withColumn("bestr", F.min("rcand").over(wr))
        .filter(F.col("tag") == 1)
    )
    # left candidate only counts when strictly left (end < pos): overlap is
    # source 1's job, and a left-overlapping best-end interval need not be
    # the min-key overlap
    dl = F.when(F.col("bestl.e") < F.col("position"), F.col("position") - F.col("bestl.e"))
    kl = -F.col("bestl.nk")
    dr = F.when(F.col("bestr.b") > F.col("position"), F.col("bestr.b") - F.col("position"))
    kr = F.col("bestr.pk")
    use_left = dl.isNotNull() & (dr.isNull() | (dl < dr) | ((dl == dr) & (kl <= kr)))
    side = swept.select(
        "chromosome",
        "position",
        "p_partkey",
        F.when(use_left, kl).otherwise(kr).cast("bigint").alias("s_key"),
        F.when(use_left, dl).otherwise(dr).cast("bigint").alias("s_dist"),
    )
    ov = (
        interval_join(points, intervals.select("chromosome", "begin", "end", "sample_key"))
        .groupBy("chromosome", "position", "p_partkey")
        .agg(F.min("sample_key").alias("ov_key"))
    )
    return side.join(ov, ["chromosome", "position", "p_partkey"], "left").select(
        "chromosome",
        "position",
        "p_partkey",
        F.coalesce(F.col("ov_key"), F.col("s_key")).cast("bigint").alias("nearest_key"),
        F.when(F.col("ov_key").isNotNull(), F.lit(0))
        .otherwise(F.col("s_dist"))
        .cast("bigint")
        .alias("distance"),
    )


def knn_intervals(points: DataFrame, intervals: DataFrame, k: int = 3) -> DataFrame:
    """k nearest intervals per ``p_partkey`` point by (distance, ``sample_key``) — WITHOUT a
    per-chromosome pair join, at any scale (the k>1 generalization of
    nearest_interval's sweep; replaces the plan that read 243 s at sf1,
    normalized 16.9, in the round-9 full-catalog smoke).

    Three bounded candidate pools, provably covering the exact top-k:
    1. OVERLAPS (distance 0): binned interval join, k smallest keys per
       point — any overlap in the true top-k must be among them, since
       overlaps all tie at distance 0 and tie-break by key;
    2. STRICT LEFT (distance = pos − end > 0): the true left top-k is
       the first k in (end DESC, key ASC) order ≡ the LAST k in
       (end ASC, key DESC) rank order — exact even with tied ends. A
       merged sweep (points and interval ENDS sorted together, points
       first at equal coordinate so end == pos stays out) counts cl =
       #​intervals strictly left, and an equi-join on rank ∈
       {cl−k+1..cl} fetches the candidates;
    3. STRICT RIGHT symmetric: rank by (begin ASC, key ASC), intervals
       first at equal coordinate so begin == pos counts as overlap, and
       candidates are rank ∈ {cr+1..cr+k}.
    The pools are disjoint (end < pos / begin ≤ pos ≤ end / begin > pos)
    so a final ≤3k-row-per-point (distance, key) window yields the exact
    answer the brute-force oracle computes. Cost: two interval rank
    windows + two merged chromosome sweeps + the binned overlap join —
    all chromosome-partitioned, no quadratic pair set anywhere.
    """
    from pyspark.sql.window import Window

    iv = intervals.select("chromosome", "begin", "end", "sample_key")
    iv_l = iv.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("chromosome").orderBy(
                F.col("end").asc(), F.col("sample_key").desc()
            )
        ),
    )
    iv_r = iv.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("chromosome").orderBy(
                F.col("begin").asc(), F.col("sample_key").asc()
            )
        ),
    )
    pts = points.select("chromosome", "position", "p_partkey")

    def swept_counts(iv_coord: str, iv_tag: int, pt_tag: int) -> DataFrame:
        ev_iv = iv.select(
            "chromosome",
            F.col(iv_coord).alias("kk"),
            F.lit(iv_tag).alias("tag"),
            F.lit(1).alias("is_iv"),
            F.lit(None).cast("long").alias("position"),
            F.lit(None).cast("long").alias("p_partkey"),
        )
        ev_pt = pts.select(
            "chromosome",
            F.col("position").alias("kk"),
            F.lit(pt_tag).alias("tag"),
            F.lit(0).alias("is_iv"),
            "position",
            "p_partkey",
        )
        w = Window.partitionBy("chromosome").orderBy("kk", "tag").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            ev_iv.unionByName(ev_pt)
            .withColumn("c", F.sum("is_iv").over(w))
            .filter(F.col("is_iv") == 0)
            .select("chromosome", "position", "p_partkey", "c")
        )

    # left: points (tag 0) BEFORE interval ends (tag 1) at equal kk
    # → c counts end < pos strictly
    cl = swept_counts("end", iv_tag=1, pt_tag=0)
    # right: interval begins (tag 0) BEFORE points (tag 1) at equal kk
    # → c counts begin <= pos
    cr = swept_counts("begin", iv_tag=0, pt_tag=1)

    offs = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j")
    lcand = (
        cl.select("chromosome", "position", "p_partkey", "c", offs)
        .withColumn("rk", F.col("c") - F.col("j"))
        .filter(F.col("rk") >= 1)
        .join(iv_l, ["chromosome", "rk"])
        .filter(F.col("end") < F.col("position"))
    )
    rcand = (
        cr.select("chromosome", "position", "p_partkey", "c", offs)
        .withColumn("rk", F.col("c") + 1 + F.col("j"))
        .join(iv_r, ["chromosome", "rk"])
        .filter(F.col("begin") > F.col("position"))
    )
    ov = interval_join(pts, iv)
    wov = Window.partitionBy("chromosome", "position", "p_partkey").orderBy(
        "sample_key"
    )
    ovc = (
        ov.withColumn("rn", F.row_number().over(wov))
        .filter(F.col("rn") <= k)
    )
    cols = ["chromosome", "position", "p_partkey", "begin", "end", "sample_key"]
    pool = (
        lcand.select(*cols)
        .unionByName(rcand.select(*cols))
        .unionByName(ovc.select(*cols))
        .withColumn(
            "distance",
            F.greatest(
                F.col("begin") - F.col("position"),
                F.col("position") - F.col("end"),
                F.lit(0),
            ),
        )
    )
    wfin = Window.partitionBy("chromosome", "position", "p_partkey").orderBy(
        "distance", "sample_key"
    )
    return (
        pool.withColumn("rn", F.row_number().over(wfin))
        .filter(F.col("rn") <= k)
        .select(
            "chromosome",
            "position",
            "p_partkey",
            F.col("sample_key").cast("bigint").alias("nearest_key"),
            F.col("distance").cast("bigint").alias("distance"),
            F.col("rn").cast("bigint").alias("k_rank"),
        )
    )


def merge_intervals(intervals: DataFrame) -> DataFrame:
    """bedtools merge: collapse overlapping/touching intervals per
    chromosome into maximal disjoint runs → (chromosome, begin, end,
    n_merged). Gaps-and-islands: sorted per chromosome, an interval opens
    a new island iff its begin exceeds the running max end of everything
    before it; islands then group (one partitioned-window pass + one
    aggregate, no joins — scales to any interval count)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("chromosome").orderBy("begin", "end")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(prev_max.isNull() | (F.col("begin") > prev_max), 1).otherwise(0)
    island = F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        intervals.withColumn("_island", island)
        .groupBy("chromosome", "_island")
        .agg(
            F.min("begin").alias("begin"),
            F.max("end").alias("end"),
            F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        )
        .drop("_island")
    )


def complement_intervals(intervals: DataFrame) -> DataFrame:
    """bedtools complement (within the covered span): the gaps BETWEEN
    merged coverage runs per chromosome → (chromosome, begin, end). The
    question varda's coverage model keeps asking inverted — "where do we
    have NO coverage?" — and the input to any fill/backfill job.

    merge first (gaps-and-islands window), then one lead() per merged run:
    a gap exists iff the next run starts more than 1 past this run's end.
    Two partitioned window passes, no joins — scales with interval count."""
    from pyspark.sql.window import Window

    merged = merge_intervals(intervals)
    w = Window.partitionBy("chromosome").orderBy("begin")
    nxt = F.lead("begin").over(w)
    return (
        merged.select("chromosome", F.col("begin"), F.col("end"), nxt.alias("_nxt"))
        .filter(F.col("_nxt") > F.col("end") + 1)
        .select(
            "chromosome",
            (F.col("end") + 1).cast("bigint").alias("begin"),
            (F.col("_nxt") - 1).cast("bigint").alias("end"),
        )
    )
