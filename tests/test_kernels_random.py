"""Randomized seeded-corpus tests for the round-7 similarity kernels.

The reference tests in test_round7*_ops.py pin the kernels to the
driver testdata; these re-prove them on RANDOM vectors (seeded, three
draws) against brute-force numpy — catching anything that only held by
accident of the fixture distribution (tie patterns, sign balance,
pool-vs-corpus size edges).
"""

from __future__ import annotations

import numpy as np
import pytest

from varda_spark.operators.similarity import (
    dual_retriever_pools,
    exact_l2_topk,
    ivf_pq_nprobe_sweep,
    mmr_rerank,
    query_sample_dot_topk,
)


def _emb_df(spark, seed: int, n: int = 40, dim: int = 8):
    rng = np.random.default_rng(seed)
    X = rng.uniform(-1, 1, size=(n, dim)).astype(np.float32)
    rows = [(i, X[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    Q = np.floor(X.astype(np.float64) * 1000).astype(np.int64)
    return df, Q


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_mmr_rerank_random(spark, seed):
    df, Q = _emb_df(spark, seed)
    ids = np.arange(len(Q))
    got = (
        mmr_rerank(df, n_queries=3, pool=6, k=4)
        .toPandas()
        .sort_values(["query_id", "round"])
    )
    for qi in range(3):
        rel_all = Q @ Q[qi]
        mask = ids != qi
        order = np.lexsort((ids[mask], -rel_all[mask]))[:6]
        pool = ids[mask][order]
        rel = {int(v): int(rel_all[v]) for v in pool}
        P = Q[pool] @ Q[pool].T
        chosen: list[int] = []
        expect = []
        for rnd in range(1, 5):
            best = None
            for j, v in enumerate(pool):
                if j in chosen:
                    continue
                pen = max(int(P[j][c]) for c in chosen) if chosen else 0
                s = rel[int(v)] - pen
                if best is None or (s, -v) > (best[0], -best[1]):
                    best = (s, int(v), j)
            chosen.append(best[2])
            expect.append((rnd, best[1], best[0]))
        g = got[got.query_id == qi]
        assert [
            (int(r), int(v), int(s))
            for r, v, s in zip(g["round"], g.vec_id, g.mmr_score)
        ] == expect


@pytest.mark.parametrize("seed", [3, 11])
def test_dual_retriever_pools_random(spark, seed):
    df, Q = _emb_df(spark, seed, n=50, dim=16)
    ids = np.arange(len(Q))
    B = (Q >= 0).astype(np.int64)
    got = dual_retriever_pools(df, n_queries=4, pool=5).toPandas()
    for qi in range(4):
        dots = Q @ Q[qi]
        ham = np.abs(B - B[qi]).sum(axis=1)
        mask = ids != qi
        dorder = np.lexsort((ids[mask], -dots[mask]))[:5]
        horder = np.lexsort((ids[mask], ham[mask]))[:5]
        ra = {int(ids[mask][v]): r + 1 for r, v in enumerate(dorder)}
        rb = {int(ids[mask][v]): r + 1 for r, v in enumerate(horder)}
        g = got[got.query_id == qi]
        got_ra = {int(r.vec_id): int(r.ra) for r in g.itertuples() if r.ra is not None and not np.isnan(r.ra)}
        got_rb = {int(r.vec_id): int(r.rb) for r in g.itertuples() if r.rb is not None and not np.isnan(r.rb)}
        assert got_ra == ra
        assert got_rb == rb


_SELF_EXCLUDING = {
    # kernel: (call on the corpus, rank columns of its result)
    "dual_retriever_pools": (lambda df: dual_retriever_pools(df, n_queries=3, pool=10), ("ra", "rb")),
    "exact_l2_topk": (lambda df: exact_l2_topk(df, n_queries=3, exclude_self=True), ("rank",)),
    "query_sample_dot_topk": (query_sample_dot_topk, ("rank",)),
    "mmr_rerank": (lambda df: mmr_rerank(df, n_queries=3, pool=10, k=5), ("round",)),
}


@pytest.mark.parametrize("kernel", list(_SELF_EXCLUDING))
def test_tiny_corpus_excludes_self(spark, kernel):
    """Corpus smaller than the result size: every non-self row fits, and
    the query's own row must NOT pad the list. A self row masked with an
    int64 sentinel score re-entered any list with fewer non-self
    candidates than k; the oracles use WHERE vec_id != query_id."""
    df, _ = _emb_df(spark, seed=9, n=3, dim=8)
    call, ranks = _SELF_EXCLUDING[kernel]
    got = call(df).toPandas()
    for qi in range(3):
        g = got[got.query_id == qi]
        assert qi not in set(g.vec_id), f"self row leaked for query {qi}"
        # both non-self rows present, each rank column a permutation
        assert sorted(g.vec_id) == [v for v in range(3) if v != qi]
        for r in ranks:
            assert sorted(int(x) for x in g[r].dropna()) == [1, 2]


def test_nprobe_sweep_full_probe_equals_adc(spark):
    """At nprobe = ncells the IVF filter is a no-op, so the sweep's
    recall must equal the recall of a pure-ADC (no routing) brute
    ranking computed in numpy with the same deterministic codebooks."""
    df, Q = _emb_df(spark, seed=5, n=48, dim=16)
    ids = np.arange(len(Q))
    got = (
        ivf_pq_nprobe_sweep(
            df, nprobes=(1, 4), ncells=4, n_queries=3, k=4
        )
        .toPandas()
        .set_index(["nprobe", "query_id"])
    )
    # numpy: deterministic codebooks = 4 lowest-id subvectors
    m, k, dsub = 4, 4, 4
    subC = [Q[:k, j * dsub : (j + 1) * dsub] for j in range(m)]
    codes = np.zeros((len(Q), m), dtype=np.int64)
    for j in range(m):
        d2 = ((Q[:, j * dsub : (j + 1) * dsub][:, None, :] - subC[j][None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d2.argmin(axis=1)
    for qi in range(3):
        # ADC distance for every corpus row
        adc = np.zeros(len(Q), dtype=np.int64)
        for j in range(m):
            lut = ((Q[qi, j * dsub : (j + 1) * dsub][None, :] - subC[j]) ** 2).sum(axis=1)
            adc += lut[codes[:, j]]
        approx = set(ids[np.lexsort((ids, adc))[:3]])
        exact_d = ((Q - Q[qi]) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, exact_d))[:3]])
        hits = len(approx & exact)
        row = got.loc[(4, qi)]
        assert int(row.n_hits) == hits
        assert int(row.recall_ppm) == 10**6 * hits // 3
        # monotone in nprobe
        assert int(got.loc[(1, qi)].n_hits) <= hits
