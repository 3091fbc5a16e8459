"""Focused tests for the round-14 optimization internals.

Each r14 optimization that changed an operator's internals gets a direct
equivalence test here (round rule): the driver-side fast paths must be
bit-identical to the distributed paths they shortcut, fan_out must be a
pure re-partitioning (rows unchanged, no-op above target), and the Arrow
matmul sketches must match a pure-Python reference that shares no code
with the operator.
"""

from __future__ import annotations

import numpy as np

from varda_spark.catalog import _bt_mm_local
from varda_spark.operators import dedup, similarity
from varda_spark.operators.dedup import _union_find_local, connected_components
from varda_spark.operators.similarity import (
    kcenter_greedy,
    kmeans_fit,
    lsh_buckets,
    lsh_hyperplane_coefs,
)
from varda_spark.operators.skew import fan_out


# ---------------------------------------------------------------- fan_out


def test_fan_out_spreads_and_preserves_rows(spark):
    df = spark.range(0, 1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = fan_out(df)
    target = spark.sparkContext.defaultParallelism * 2
    assert out.rdd.getNumPartitions() == target
    # pure re-partitioning: exact same multiset of rows
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_fan_out_noop_above_target(spark):
    target = spark.sparkContext.defaultParallelism * 2
    df = spark.range(0, 100).repartition(target + 3)
    # scale-adaptive guard: a table already wide enough is returned as-is
    # (no extra Exchange at 100 TB where inputs are multi-file)
    assert fan_out(df) is df


# ------------------------------------------- connected components fast path


_MESSY_EDGES = [
    # component {1,2,3,4}: duplicates, both orientations, chain
    (1, 2), (2, 1), (1, 2), (2, 3), (4, 3),
    # component {10, 11}
    (11, 10),
    # self-loop-only vertex: must survive as a singleton
    (20, 20),
    # component {30, 31, 32} joined through a shared min
    (32, 30), (31, 32),
]


def _cc_expected():
    return sorted([(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
                   (20, 20), (30, 30), (31, 30), (32, 30)])


def test_union_find_local_messy_edges():
    got = sorted(_union_find_local(_MESSY_EDGES))
    assert got == _cc_expected()


def test_cc_local_vs_distributed_identical(spark, monkeypatch):
    pairs = spark.createDataFrame(_MESSY_EDGES, "doc_a bigint, doc_b bigint")
    local = sorted(map(tuple, connected_components(pairs).collect()))
    # threshold 0 forces the distributed star rounds on the same data
    monkeypatch.setattr(dedup, "_LOCAL_THRESHOLD", 0)
    dist = sorted(map(tuple, connected_components(pairs).collect()))
    assert local == dist == _cc_expected()


# ----------------------------------- kmeans / kcenter driver-side solvers


def _toy_emb(spark, n=40, dim=6, seed=7):
    rng = np.random.RandomState(seed)
    rows = [
        (int(i), [float(x) for x in rng.uniform(-1, 1, dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_local_vs_distributed_bit_equal(spark, monkeypatch):
    emb = _toy_emb(spark)
    local = {
        r.cell_id: list(r._ce) for r in kmeans_fit(emb, k=4, iters=3).collect()
    }
    monkeypatch.setattr(similarity, "_LOCAL_SOLVER_THRESHOLD", 0)
    dist = {
        r.cell_id: list(r._ce) for r in kmeans_fit(emb, k=4, iters=3).collect()
    }
    assert local == dist
    assert set(local) == {0, 1, 2, 3}


def test_kcenter_local_vs_distributed_bit_equal(spark, monkeypatch):
    emb = _toy_emb(spark, n=30, seed=11)
    local = sorted(map(tuple, kcenter_greedy(emb, k=6).collect()))
    monkeypatch.setattr(similarity, "_LOCAL_SOLVER_THRESHOLD", 0)
    dist = sorted(map(tuple, kcenter_greedy(emb, k=6).collect()))
    assert local == dist
    # seed is the lowest key at dist2 = 0
    assert (1, 0, 0) in local


# ------------------------------------------------------------ _bt_mm_local


def test_bt_mm_local_hand_example():
    # two models, one battle pair: model 0 beat model 1 twice, lost once.
    side_rows = [
        {"model": 0, "opp": 1, "n": 3},
        {"model": 1, "opp": 0, "n": 3},
    ]
    win_rows = [{"model": 0, "wins": 2}, {"model": 1, "wins": 1}]
    K = 1_000_000_000_000
    p = _bt_mm_local(side_rows, win_rows, models=2, iters=1, K=K)
    # round 1 by hand: p0 = p1 = 1e6 -> dsum = (3K)//(2e6) for both;
    # raw0 = 2K//dsum, raw1 = K//dsum; p_m = raw_m*2e6 // (raw0+raw1)
    dsum = (3 * K) // 2_000_000
    raw0, raw1 = (2 * K) // dsum, (1 * K) // dsum
    tot = raw0 + raw1
    assert p == {
        0: max(1, raw0 * 2 * 1_000_000 // tot),
        1: max(1, raw1 * 2 * 1_000_000 // tot),
    }
    # the better model carries the higher strength
    assert p[0] > p[1]


def test_bt_mm_local_winless_model_clamps_to_one():
    side_rows = [
        {"model": 0, "opp": 1, "n": 5},
        {"model": 1, "opp": 0, "n": 5},
    ]
    # model 1 never wins -> wins map has no row 1 under the inner-join
    # semantics the driver loop mirrors -> model 1 drops out of p after
    # the first round (and, exactly like the old DataFrame inner joins,
    # pairs whose opponent left p stop contributing in later rounds)
    win_rows = [{"model": 0, "wins": 5}]
    p = _bt_mm_local(side_rows, win_rows, models=2, iters=1, K=10**12)
    assert set(p) == {0}
    # and a model with wins=0 present in the map clamps to >= 1
    win_rows2 = [{"model": 0, "wins": 5}, {"model": 1, "wins": 0}]
    p2 = _bt_mm_local(side_rows, win_rows2, models=2, iters=3, K=10**12)
    assert p2[1] >= 1 and p2[0] > p2[1]


def test_bt_mm_local_matches_fraction_reference():
    # independent re-implementation of the same recurrence with
    # math.floor over exact Fractions (floor == // for positive ints)
    from fractions import Fraction
    from math import floor

    side_rows = [
        {"model": m, "opp": o, "n": (m + o) % 4 + 1}
        for m in range(4)
        for o in range(4)
        if m != o
    ]
    win_rows = [{"model": m, "wins": 3 * m + 1} for m in range(4)]
    K = 10**12
    iters = 8
    got = _bt_mm_local(side_rows, win_rows, models=4, iters=iters, K=K)

    p = {m: 1_000_000 for m in range(4)}
    for _ in range(iters):
        dsum = {}
        for r in side_rows:
            m, o, nn = r["model"], r["opp"], r["n"]
            dsum[m] = dsum.get(m, 0) + floor(Fraction(nn * K, p[m] + p[o]))
        raw = {w["model"]: floor(Fraction(w["wins"] * K, dsum[w["model"]])) for w in win_rows}
        tot = sum(raw.values())
        p = {m: max(1, floor(Fraction(r * 4 * 1_000_000, tot))) for m, r in raw.items()}
    assert got == p


# ---------------------------------------------------- lsh_buckets (matmul)


def test_lsh_buckets_matches_pure_python_reference(spark):
    tables, bits, dim, scale = 3, 4, 8, 1000
    emb = _toy_emb(spark, n=25, dim=dim, seed=3)
    got = lsh_buckets(
        emb, tables=tables, bits=bits, scale=scale, dim=dim
    ).collect()

    coefs = lsh_hyperplane_coefs(tables, bits, dim)
    ref_rows = {}
    for r in emb.collect():
        q = [int(np.floor(x * scale)) for x in r.embedding]
        n2 = sum(v * v for v in q)
        for tb in range(tables):
            sbits = ""
            for b in range(bits):
                dot = sum(
                    c * v for c, v in zip(coefs[tb * bits + b], q)
                )
                sbits += "1" if dot >= 0 else "0"
            ref_rows[(r.vec_id, f"{tb}|{sbits}")] = (q, n2)

    assert len(got) == 25 * tables
    for row in got:
        key = (row.vec_id, row._bucket)
        assert key in ref_rows
        q, n2 = ref_rows[key]
        assert list(row._q) == q
        assert row._n2 == n2
