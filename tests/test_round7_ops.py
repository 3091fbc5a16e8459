"""Independent reference checks for the round-7 additions.

Same discipline as test_round5_ops/test_round6_ops: a numpy/plain-Python
reference that shares no SQL with either engine, so a bug replicated
into both oracle twins still gets caught. Also holds the freq_sex_check
reference test ADVICE r6 flagged as missing, the pq_fit quality test
(VERDICT r6 item 6), and the string-key regression for the ADC path
(ADVICE r6: pq_adc_topk hardcoded bigint ids).
"""

from __future__ import annotations

import numpy as np

from tests.conftest import SF_SMALL
from varda_spark.catalog import REGISTRY

SF_001 = "/root/testdata/sf0.01"


def run(spark, key, sf=SF_001):
    return REGISTRY[key].fn(spark, sf).toPandas()


def _quantized_embeddings(spark, sf):
    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    X = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64) * 1000).astype(
        np.int64
    )
    return emb.vec_id.to_numpy(), X


def test_sex_check_matches_pandas(spark):
    """ADVICE r6: het count and the 0.25 is_xx boundary per sample,
    computed with pandas ops that share no formula text with either
    oracle twin."""
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    li["g3"] = li.l_orderkey % 3
    li["g"] = np.where(li.g3 == 0, 2, np.where(li.g3 == 1, 1, 0))
    gt = (
        li.groupby([li.l_partkey.rename("site"), (li.l_suppkey % 10).rename("samp")])
        .g.min()
        .reset_index()
    )
    x = gt[gt.site % 5 == 0]
    got = run(spark, "freq_sex_check", SF_SMALL).set_index("sample_id")
    assert len(got) == x.samp.nunique()
    for samp, grp in x.groupby("samp"):
        row = got.loc[samp]
        n = len(grp)
        het = int((grp.g == 1).sum())
        assert int(row.n_x_sites) == n
        assert int(row.n_het) == het
        # truncating integer division, like python int() on the fraction
        assert int(row.het_ppm) == int(1_000_000 * het / n)
        assert bool(row.is_xx) == (1_000_000 * het // n >= 250_000)


def test_pq_fit_reduces_qerr(spark):
    """Lloyd refinement must strictly decrease total quantization error
    vs the deterministic lowest-id init (VERDICT r6 item 6)."""
    from varda_spark.operators.similarity import pq_codes, pq_fit

    e = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    base = pq_codes(e).agg({"qerr": "sum"}).collect()[0][0]
    refined = pq_fit(e, m=4, k=8, iters=2)
    fit = pq_codes(e, codebooks=refined).agg({"qerr": "sum"}).collect()[0][0]
    assert fit < base, f"refined qerr {fit} !< init qerr {base}"


def test_pq_fit_matches_numpy_lloyd(spark):
    """pq_fit's distributed partial-sum update equals a literal
    single-process Lloyd loop (floor-mean update, first-min argmin)."""
    from varda_spark.operators.similarity import pq_fit

    ids, X = _quantized_embeddings(spark, SF_001)
    m, k, iters = 4, 8, 2
    dsub = X.shape[1] // m
    subC = [X[:k, j * dsub : (j + 1) * dsub].copy() for j in range(m)]
    for _ in range(iters):
        new = [c.copy() for c in subC]
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            d2 = ((S[:, None, :] - subC[j][None, :, :]) ** 2).sum(axis=2)
            code = d2.argmin(axis=1)
            for c in range(k):
                mask = code == c
                if mask.any():
                    # python floor division on exact integer sums
                    new[j][c] = np.array(
                        [int(v) // int(mask.sum()) for v in S[mask].sum(axis=0)]
                    )
        subC = new
    e = spark.read.parquet(f"{SF_001}/embeddings.parquet")
    got = pq_fit(e, m=m, k=k, iters=iters)
    for j in range(m):
        assert (got[j] == subC[j]).all(), f"subspace {j}"


def test_ivfpq_matches_numpy_composition(spark):
    """sim_ivfpq == numpy IVF routing (argmax dot, nprobe=2) composed
    with ADC lookups restricted to probed cells."""
    ids, X = _quantized_embeddings(spark, SF_001)
    m, k, ncells, nprobe, topk = 4, 8, 8, 2, 3
    dsub = X.shape[1] // m
    C = X[:k]
    Cv = X[:ncells]
    cids = ids[:ncells]
    codes = np.zeros((len(X), m), dtype=np.int64)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        Cj = C[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = ((S[:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    dots = X @ Cv.T  # n × ncells
    cell = cids[dots.argmax(axis=1)]
    want = {}
    for qi in range(5):
        probe = set(cids[np.lexsort((cids, -dots[qi]))[:nprobe]])
        in_probe = np.isin(cell, list(probe))
        lut = np.stack(
            [
                (
                    (X[qi, j * dsub : (j + 1) * dsub][None, :] - C[:, j * dsub : (j + 1) * dsub])
                    ** 2
                ).sum(axis=1)
                for j in range(m)
            ]
        )
        adc = sum(lut[j][codes[:, j]] for j in range(m))
        cand = np.where(in_probe)[0]
        order = cand[np.lexsort((ids[cand], adc[cand]))[:topk]]
        want[int(ids[qi])] = [
            (int(ids[i]), int(cell[i]), int(adc[i])) for i in order
        ]
    got = run(spark, "sim_ivfpq")
    assert len(got) == 5 * topk
    for qid, rows in got.groupby("query_id"):
        rows = rows.sort_values("rank")
        assert [
            (int(r.vec_id), int(r.cell_id), int(r.adc)) for r in rows.itertuples()
        ] == want[int(qid)]


def test_pq_adc_string_key(spark):
    """ADVICE r6: the ADC path must accept non-integer doc keys — the
    output schema and id handling derive from the input key type."""
    from varda_spark.operators.similarity import pq_adc_topk

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(40)
    s = e.selectExpr("concat('doc_', lpad(CAST(vec_id AS STRING), 6, '0')) AS doc_id",
                     "embedding")
    out = pq_adc_topk(s, n_queries=3, topk=2, key="doc_id").toPandas()
    assert len(out) == 6
    assert out.doc_id.str.startswith("doc_").all()
    assert out.query_id.str.startswith("doc_").all()
    # per-query ranks are 1..topk and adc is non-decreasing in rank
    for _, rows in out.groupby("query_id"):
        rows = rows.sort_values("rank")
        assert list(rows["rank"]) == [1, 2]
        assert rows.adc.is_monotonic_increasing


def test_substring_spans_matches_python(spark):
    """Literal rolling 8-token spans + cross-doc duplicate marking."""
    import hashlib
    from collections import defaultdict

    docs = (
        spark.read.parquet(f"{SF_001}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )
    span_docs = defaultdict(set)
    doc_spans = {}
    for r in docs.itertuples():
        w = r.text.strip().split(" ")
        hs = [
            hashlib.md5(" ".join(w[i : i + 8]).encode()).hexdigest()[:16]
            for i in range(len(w) - 7)
        ]
        doc_spans[r.doc_id] = hs
        for h in hs:
            span_docs[h].add(r.doc_id)
    got = run(spark, "dedup_substring_spans").set_index("doc_id")
    assert len(got) == sum(1 for hs in doc_spans.values() if hs)
    for doc_id, hs in doc_spans.items():
        if not hs:
            continue
        dup = sum(1 for h in hs if len(span_docs[h]) >= 2)
        row = got.loc[doc_id]
        assert int(row.n_spans) == len(hs)
        assert int(row.n_dup_spans) == dup
        assert int(row.dup_ppm) == 1_000_000 * dup // len(hs)


def test_semantic_dedup_matches_numpy(spark):
    """SemDeDup cell assignment + integer cosine test, literal numpy."""
    emb = (
        spark.read.parquet(f"{SF_001}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = emb.vec_id.to_numpy()
    X = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64) * 100).astype(
        np.int64
    )
    ncells = max(8, int(np.floor(np.sqrt(len(X)))))
    C = X[:ncells]
    cell = ids[(X @ C.T).argmax(axis=1)]
    n2 = (X * X).sum(axis=1)
    stats = {}
    for ci in np.unique(cell):
        idx = np.where(cell == ci)[0]
        n_pairs = n_dup = 0
        removed = set()
        for ai in range(len(idx)):
            for bi in range(ai + 1, len(idx)):
                a, b = idx[ai], idx[bi]
                n_pairs += 1
                d = int(X[a] @ X[b])
                if d > 0 and d * d * 10000 >= 9025 * int(n2[a]) * int(n2[b]):
                    n_dup += 1
                    removed.add(int(ids[b]))
        stats[int(ci)] = (len(idx), n_pairs, n_dup, len(removed))
    got = run(spark, "emb_semantic_dedup").set_index("cell_id")
    assert len(got) == len(stats)
    for ci, (nv, np_, nd, nr) in stats.items():
        row = got.loc[ci]
        assert (int(row.n_vecs), int(row.n_pairs), int(row.n_dup_pairs),
                int(row.n_removed)) == (nv, np_, nd, nr)


def test_event_transitions_matches_pandas(spark):
    ev = (
        spark.read.parquet(f"{SF_001}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["prev"] = ev.groupby("user_id").event_type.shift(1)
    pairs = ev.dropna(subset=["prev"]).groupby(["prev", "event_type"]).size()
    got = run(spark, "agg_event_transitions")
    assert len(got) == len(pairs)
    totals = pairs.groupby(level=0).sum()
    for r in got.itertuples():
        n = int(pairs.loc[(r.prev_type, r.next_type)])
        assert int(r.n) == n
        assert int(r.row_ppm) == 1_000_000 * n // int(totals.loc[r.prev_type])


def test_zone_map_skip_matches_pandas(spark):
    import pandas as pd

    li = (
        spark.read.parquet(f"{SF_001}/lineitem.parquet")
        .select("l_orderkey", "l_shipdate")
        .toPandas()
    )
    li["d"] = pd.to_datetime(li.l_shipdate).dt.normalize()
    li["f"] = li.l_orderkey // 1024
    files = li.groupby("f").d.agg(["min", "max"])
    months = sorted(li.d.dt.to_period("M").unique())
    got = run(spark, "store_zone_map_skip").set_index("ym")
    assert len(got) == len(months)
    for mth in months:
        m0, m1 = mth.start_time, mth.end_time.normalize()
        skipped = int(((files["max"] < m0) | (files["min"] > m1)).sum())
        row = got.loc[mth.year * 100 + mth.month]
        assert int(row.n_files) == len(files)
        assert int(row.n_skipped) == skipped
        assert int(row.skip_ppm) == 1_000_000 * skipped // len(files)


def test_denovo_and_compound_het_match_pandas(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    # trio genotypes (freq_trio_mendel synthesis)
    obs = li[li.l_linenumber % 3 != 2].copy()
    obs["gt"] = np.where(obs.l_linenumber % 3 == 0, 2, 1)
    obs["chrom"] = obs.l_partkey % 5
    obs["pos"] = obs.l_partkey * 31 + 1
    g = (
        obs.groupby(["l_suppkey", "chrom", "pos"]).gt.max().rename("g").reset_index()
    )
    children = g[g.l_suppkey % 3 == 0]
    gi = g.set_index(["l_suppkey", "chrom", "pos"]).g
    ref = {}
    for r in children.itertuples():
        f = int(gi.get((r.l_suppkey - 2, r.chrom, r.pos), 0))
        m = int(gi.get((r.l_suppkey - 1, r.chrom, r.pos), 0))
        trio = r.l_suppkey // 3
        tot, dn = ref.get(trio, (0, 0))
        ref[trio] = (tot + 1, dn + (1 if (r.g >= 1 and f == 0 and m == 0) else 0))
    got = run(spark, "freq_denovo", SF_SMALL).set_index("trio_id")
    assert len(got) == len(ref)
    for trio, (tot, dn) in ref.items():
        row = got.loc[trio]
        assert (int(row.n_sites), int(row.n_denovo)) == (tot, dn)
        assert int(row.denovo_ppm) == 1_000_000 * dn // tot
    # compound het on the shared _GT_CTE synthesis
    li["g3"] = li.l_orderkey % 3
    li["gg"] = np.where(li.g3 == 0, 2, np.where(li.g3 == 1, 1, 0))
    gt2 = (
        li.groupby([li.l_partkey.rename("site"), (li.l_suppkey % 10).rename("samp")])
        .gg.min()
        .reset_index()
    )
    gt2["gene"] = gt2.site % 100
    agg = gt2.groupby(["gene", "samp"]).agg(
        n_sites=("gg", "size"), n_het=("gg", lambda s: int((s == 1).sum()))
    )
    want = agg[agg.n_het >= 2]
    got2 = run(spark, "freq_compound_het", SF_SMALL).set_index(["gene_id", "sample_id"])
    assert len(got2) == len(want)
    for (gene, samp), r in want.iterrows():
        row = got2.loc[(gene, samp)]
        assert (int(row.n_sites), int(row.n_het)) == (int(r.n_sites), int(r.n_het))


def test_table_stats_match_pandas(spark):
    o = spark.read.parquet(f"{SF_001}/orders.parquet").toPandas()
    o["price_usd"] = np.floor(o.o_totalprice).astype(np.int64)
    o["d"] = o.o_orderdate.astype("datetime64[ns]").dt.date
    got = run(spark, "store_table_stats").set_index("col_name")
    for name, col in [
        ("o_orderkey", o.o_orderkey),
        ("o_custkey", o.o_custkey),
        ("o_orderstatus", o.o_orderstatus),
        ("price_usd", o.price_usd),
        ("o_orderdate", o.d),
    ]:
        row = got.loc[name]
        assert int(row.n_rows) == len(o)
        assert int(row.n_nulls) == int(col.isna().sum())
        assert int(row.ndv) == col.nunique()
        assert row.min_val == str(col.min())
        assert row.max_val == str(col.max())


def test_mad_outliers_match_pandas(spark):
    o = spark.read.parquet(f"{SF_001}/orders.parquet").toPandas()
    o["usd"] = np.floor(o.o_totalprice).astype(np.int64)
    o["d"] = o.o_orderdate.astype("datetime64[ns]").dt.date
    daily = o.groupby("d").usd.sum().reset_index().rename(columns={"usd": "x"})
    nd = len(daily)
    # lower median by deterministic (value, day) rank
    med = int(daily.sort_values(["x", "d"]).iloc[(nd + 1) // 2 - 1].x)
    daily["dev"] = (daily.x - med).abs()
    mad = int(daily.sort_values(["dev", "d"]).iloc[(nd + 1) // 2 - 1].dev)
    want = daily[daily.dev > 5 * mad]
    got = run(spark, "agg_mad_outliers")
    assert len(got) == len(want)
    assert (got.med == med).all() and (got.mad == mad).all()
    assert set(got.d) == set(want.d)


def test_ibs_pairs_match_pandas(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    li["g3"] = li.l_orderkey % 3
    li["gg"] = np.where(li.g3 == 0, 2, np.where(li.g3 == 1, 1, 0))
    gt = (
        li.groupby([li.l_partkey.rename("site"), (li.l_suppkey % 10).rename("samp")])
        .gg.min()
        .reset_index()
    )
    piv = gt.pivot(index="site", columns="samp", values="gg")
    got = run(spark, "freq_ibs_pairs", SF_SMALL).set_index(["sample_a", "sample_b"])
    import itertools

    for a, b in itertools.combinations(sorted(piv.columns), 2):
        both = piv[[a, b]].dropna()
        diff = (both[a] - both[b]).abs()
        row = got.loc[(a, b)]
        n, i0, i1, i2 = (
            len(both),
            int((diff == 2).sum()),
            int((diff == 1).sum()),
            int((diff == 0).sum()),
        )
        assert (int(row.n_shared), int(row.ibs0), int(row.ibs1), int(row.ibs2)) == (
            n, i0, i1, i2,
        )
        assert int(row.similarity_ppm) == 1_000_000 * (2 * i2 + i1) // (2 * n)


def test_bollinger_breach_matches_pandas(spark):
    o = spark.read.parquet(f"{SF_001}/orders.parquet").toPandas()
    o["usd"] = np.floor(o.o_totalprice).astype(np.int64)
    o["d"] = o.o_orderdate.astype("datetime64[ns]").dt.date
    daily = o.groupby("d").usd.sum().sort_index()
    x = daily.to_numpy()
    got = run(spark, "win_bollinger_breach").sort_values("d").reset_index(drop=True)
    assert len(got) == len(daily)
    for i in range(len(x)):
        lo = max(0, i - 19)
        w = x[lo : i + 1].astype(object)  # python ints: no overflow
        n, s, q = len(w), sum(w), sum(v * v for v in w)
        diff = n * int(x[i]) - s
        strict = diff * diff > 4 * (n * q - s * s)
        assert int(got.breach_hi[i]) == int(diff > 0 and strict)
        assert int(got.breach_lo[i]) == int(diff < 0 and strict)


def test_exact_percentiles_match_numpy(spark):
    c = spark.read.parquet(f"{SF_001}/customer.parquet").toPandas()
    c["cents"] = np.floor(c.c_acctbal * 100).astype(np.int64)
    got = run(spark, "agg_exact_percentiles").set_index("segment")
    for seg, grp in c.groupby("c_mktsegment"):
        v = np.sort(grp.cents.to_numpy())
        n = len(v)
        row = got.loc[seg]
        assert int(row.n) == n
        for p, col in [(50, "p50_cents"), (90, "p90_cents"), (99, "p99_cents")]:
            idx = -(-p * n // 100)  # ceil(p*n/100), 1-based
            assert int(row[col]) == int(v[idx - 1]), (seg, p)


def test_recall_eval_matches_numpy(spark):
    """recall@3 of IVF-PQ vs a literal numpy exact-L2 ground truth,
    with the approx side replayed through the same numpy composition
    as test_ivfpq_matches_numpy_composition."""
    ids, X = _quantized_embeddings(spark, SF_001)
    m, k, ncells, nprobe, topk = 4, 8, 8, 2, 3
    dsub = X.shape[1] // m
    C, Cv, cids = X[:k], X[:ncells], ids[:ncells]
    codes = np.zeros((len(X), m), dtype=np.int64)
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        Cj = C[:, j * dsub : (j + 1) * dsub]
        codes[:, j] = ((S[:, None, :] - Cj[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    dots = X @ Cv.T
    cell = cids[dots.argmax(axis=1)]
    got = run(spark, "sim_recall_eval").set_index("query_id")
    assert len(got) == 5
    for qi in range(5):
        d2 = ((X - X[qi][None, :]) ** 2).sum(axis=1)
        exact = set(ids[np.lexsort((ids, d2))[:topk]])
        probe = set(cids[np.lexsort((cids, -dots[qi]))[:nprobe]])
        cand = np.where(np.isin(cell, list(probe)))[0]
        lut = np.stack(
            [
                (
                    (X[qi, j * dsub : (j + 1) * dsub][None, :] - C[:, j * dsub : (j + 1) * dsub])
                    ** 2
                ).sum(axis=1)
                for j in range(m)
            ]
        )
        adc = sum(lut[j][codes[:, j]] for j in range(m))
        approx = set(ids[cand[np.lexsort((ids[cand], adc[cand]))[:topk]]])
        hits = len(exact & approx)
        row = got.loc[ids[qi]]
        assert int(row.n_exact) == topk
        assert int(row.n_hits) == hits
        assert int(row.recall_ppm) == 1_000_000 * hits // topk


def test_bpe_pair_counts_match_python(spark):
    from collections import Counter

    docs = spark.read.parquet(f"{SF_001}/documents.parquet").toPandas()
    cnt = Counter()
    for t in docs.text:
        for w in t.strip().split(" "):
            for i in range(len(w) - 1):
                cnt[w[i : i + 2]] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    got = run(spark, "text_bpe_pair_counts").sort_values("rank")
    assert [(r.pair, int(r.n)) for r in got.itertuples()] == want


def test_dedup_recall_eval_matches_python(spark):
    """Recall/precision of MinHash banding vs literal python Jaccard
    and banding replay (md5-based, engine-portable by construction)."""
    import hashlib
    from collections import defaultdict
    from itertools import combinations

    docs = spark.read.parquet(f"{SF_001}/documents.parquet").toPandas()
    sh = {}
    for r in docs.itertuples():
        w = r.text.split(" ")
        sh[r.doc_id] = {
            " ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))
        } if len(w) >= 3 else {" ".join(w)}
    # exact ground truth at J >= 0.5, restricted to shingle-sharing pairs
    inv = defaultdict(set)
    for d, s in sh.items():
        for g in s:
            inv[g].add(d)
    cand_pairs = {
        (a, b) for ds in inv.values() for a, b in combinations(sorted(ds), 2)
    }
    truth = {
        (a, b)
        for a, b in cand_pairs
        if 3 * len(sh[a] & sh[b]) >= len(sh[a]) + len(sh[b])
    }
    # minhash banding replay
    def sig(s, i):
        return min(hashlib.md5(f"{i}|{g}".encode()).hexdigest() for g in s)

    bands = defaultdict(set)
    for d, s in sh.items():
        sigs = [sig(s, i) for i in range(8)]
        for bi in range(4):
            bands[f"{bi}|{sigs[2*bi]}|{sigs[2*bi+1]}"].add(d)
    lsh = {
        (a, b) for ds in bands.values() for a, b in combinations(sorted(ds), 2)
    }
    hits = truth & lsh
    got = run(spark, "dedup_recall_eval").iloc[0]
    assert int(got.n_truth) == len(truth)
    assert int(got.n_cand) == len(lsh)
    assert int(got.n_hits) == len(hits)
    assert int(got.recall_ppm) == 1_000_000 * len(hits) // max(len(truth), 1)
    assert int(got.precision_ppm) == 1_000_000 * len(hits) // max(len(lsh), 1)
