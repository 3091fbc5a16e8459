"""Property test: the binned interval join ≡ the naive theta join.

This is the correctness proof of the engine's core optimization (C1,
SURVEY.md §4) — including bin-boundary edges (128 kb multiples ±1) which
is exactly where a wrong shift/offset would show.
"""

import random

from pyspark.sql import Row

from varda_spark.operators.binning import MAX_POSITION, assign_bin, point_bins
from varda_spark.operators.interval import interval_join, interval_join_naive


def _random_case(seed: int, n_points: int = 120, n_ivals: int = 80):
    rng = random.Random(seed)
    edges = [1, 2, (1 << 17), (1 << 17) + 1, (1 << 17) - 1, (1 << 20), (1 << 23) + 5]
    pts = []
    for i in range(n_points):
        pos = rng.choice(edges) if rng.random() < 0.3 else rng.randint(1, 1 << 24)
        pts.append(Row(pid=i, chromosome=str(rng.randint(1, 3)), position=pos))
    ivs = []
    for i in range(n_ivals):
        if rng.random() < 0.3:
            b = rng.choice(edges)
        else:
            b = rng.randint(1, 1 << 24)
        e = b + rng.choice([0, 1, 10, 1000, 1 << 17, 1 << 20])
        ivs.append(Row(rid=i, chromosome=str(rng.randint(1, 3)), begin=b, end=e))
    return pts, ivs


def test_binned_equals_naive(spark):
    for seed in (1, 2, 3):
        pts, ivs = _random_case(seed)
        pdf = spark.createDataFrame(pts)
        idf = spark.createDataFrame(ivs)
        binned = {
            (r.pid, r.rid)
            for r in interval_join(pdf, idf).select("pid", "rid").collect()
        }
        naive = {
            (r.pid, r.rid)
            for r in interval_join_naive(pdf, idf).select("pid", "rid").collect()
        }
        assert binned == naive, f"seed={seed}: binned≠naive ({len(binned)} vs {len(naive)})"


def test_assign_bin_contains_point_bins(spark):
    """Every interval's assigned bin appears in point_bins of its members."""
    rows = [
        Row(begin=b, end=e)
        for b, e in [(1, 1), (1, 128 * 1024), (128 * 1024, 128 * 1024 + 1), (5_000_000, 5_000_100)]
    ]
    df = spark.createDataFrame(rows).select(
        "begin", "end", assign_bin("begin", "end").alias("bin"), point_bins("begin").alias("pb")
    )
    for r in df.collect():
        assert r.bin in r.pb, r
        assert 0 <= r.bin < 585 + (MAX_POSITION >> 17)


def test_merge_intervals_islands(spark):
    """bedtools-merge semantics: touching intervals merge (closed
    intervals), disjoint ones don't, per chromosome."""
    from varda_spark.operators.interval import merge_intervals

    ivs = spark.createDataFrame(
        [
            ("1", 10, 20), ("1", 15, 30), ("1", 30, 40),   # one run 10-40
            ("1", 42, 50),                                  # gap of 1 → new run
            ("2", 10, 20),
        ],
        ["chromosome", "begin", "end"],
    )
    got = {(r.chromosome, r.begin, r.end): r.n_merged for r in merge_intervals(ivs).collect()}
    assert got == {("1", 10, 40): 3, ("1", 42, 50): 1, ("2", 10, 20): 1}


def test_merge_intervals_random_vs_bruteforce(spark):
    """Property: merge_intervals equals a brute-force Python merge on
    random interval sets (closed-interval semantics, touching merges)."""
    import random

    rng = random.Random(11)
    rows = [
        ("c%d" % rng.randint(0, 2), b, b + rng.randint(0, 40))
        for _ in range(150)
        for b in [rng.randint(1, 300)]
    ]
    got = {
        (r.chromosome, r.begin, r.end, r.n_merged)
        for r in __import__("varda_spark.operators.interval", fromlist=["merge_intervals"])
        .merge_intervals(spark.createDataFrame(rows, ["chromosome", "begin", "end"]))
        .collect()
    }
    expect = set()
    by_c = {}
    for c, b, e in rows:
        by_c.setdefault(c, []).append((b, e))
    for c, ivs in by_c.items():
        ivs.sort()
        cur_b, cur_e, n = ivs[0][0], ivs[0][1], 1
        for b, e in ivs[1:]:
            if b <= cur_e:          # closed intervals: touching == overlapping
                cur_e, n = max(cur_e, e), n + 1
            else:
                expect.add((c, cur_b, cur_e, n))
                cur_b, cur_e, n = b, e, 1
        expect.add((c, cur_b, cur_e, n))
    assert got == expect


def test_nearest_interval_random_vs_bruteforce(spark):
    """Property: the sweep+overlap nearest equals brute-force nearest with
    (distance, key) tie-break on random data; a point on a chromosome
    without intervals gets one row with NULL key and distance."""
    import random

    from varda_spark.operators.interval import nearest_interval

    rng = random.Random(23)
    pts = [("c", rng.randint(1, 500), i) for i in range(80)] + [("d", 250, 80)]
    ivs = [
        ("c", b, b + rng.randint(0, 30), k)
        for k in range(40)
        for b in [rng.randint(1, 500)]
    ]
    rows = nearest_interval(
        spark.createDataFrame(pts, ["chromosome", "position", "p_partkey"]),
        spark.createDataFrame(ivs, ["chromosome", "begin", "end", "sample_key"]),
    ).collect()
    assert len(rows) == len(pts)
    got = {(r.position, r.p_partkey): (r.nearest_key, r.distance) for r in rows}
    for c, pos, pid in pts:
        dists = [(max(b - pos, pos - e, 0), k) for ic, b, e, k in ivs if ic == c]
        best = min(dists) if dists else (None, None)
        assert got[(pos, pid)] == (best[1], best[0]), (pos, pid)


def test_left_join_keeps_every_point(spark):
    """how="left" against a driver-local interval side keeps every point;
    its rows with an interval are exactly the naive join's pairs, and a
    point gets NULL rows only for bin levels without a match (at most 5)."""
    from collections import Counter

    from varda_spark.session import local_table

    pts, ivs = _random_case(4)
    pdf = spark.createDataFrame(pts)
    idf = local_table(
        spark, [r.asDict() for r in ivs], "rid long, chromosome string, begin long, end long"
    )
    rows = interval_join(pdf, idf, how="left").select("pid", "rid").collect()
    assert {r.pid for r in rows} == {p.pid for p in pts}
    naive = {(r.pid, r.rid) for r in interval_join_naive(pdf, idf).select("pid", "rid").collect()}
    matched = [(r.pid, r.rid) for r in rows if r.rid is not None]
    assert sorted(matched) == sorted(naive)
    assert max(Counter(r.pid for r in rows if r.rid is None).values()) <= 5
