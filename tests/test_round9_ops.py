"""Independent reference checks for the round-9 additions.

Pure numpy / pure-python references — no SQL text shared with the
oracle twins (the check_oracle sweep proves cross-engine equality;
these prove the SEMANTICS against a third implementation).
"""

from __future__ import annotations

import math

import numpy as np

from varda_spark.catalog import REGISTRY

SF_001 = "/root/testdata/sf0.01"


def run(spark, key, sf=SF_001):
    return REGISTRY[key].fn(spark, sf).toPandas()


def _encode(emb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(sign_bits[n,64] bool, quantized[n,64] int64) — float64 promotion
    then floor, matching both engines' CAST(x AS DOUBLE) discipline."""
    x = emb.astype(np.float64)
    return x >= 0.0, np.floor(x * 10000).astype(np.int64)


def test_stream_cascade_matches_numpy(spark):
    emb = (
        spark.read.parquet(f"{SF_001}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = emb.vec_id.to_numpy()
    vecs = np.stack(emb.embedding.to_numpy())
    signs, q = _encode(vecs)

    queries = [v for v in ids if v % 97 == 3][:8]
    expect = {}
    for qid in queries:
        qi = int(np.where(ids == qid)[0][0])
        ham = (signs != signs[qi]).sum(axis=1)
        keep = (ham <= 26) & (ids != qid)
        if not keep.any():
            continue
        dots = q[keep] @ q[qi]
        cand_ids = ids[keep]
        cand_ham = ham[keep]
        # best dot, ties to the smallest vec_id
        order = np.lexsort((cand_ids, -dots))
        b = order[0]
        expect[int(qid)] = (
            int(keep.sum()),
            int(cand_ids[b]),
            int(dots[b]),
            int(cand_ham[b]),
        )

    got = {
        int(r.query_id): (int(r.n_cand), int(r.top_vec), int(r.top_dot), int(r.top_ham))
        for r in REGISTRY["stream_cascade"].fn(spark, SF_001).collect()
    }
    assert got == expect
    assert len(got) > 0  # the fixture must yield non-empty radius pools


def test_stream_cascade_radius_is_selective(spark):
    """The radius prefilter must actually prune (the point of stage 1):
    every query's pool is a strict subset of the corpus, and stage-2
    work (sum of pool sizes) is far below queries x corpus."""
    df = run(spark, "stream_cascade")
    n_corpus = (
        spark.read.parquet(f"{SF_001}/embeddings.parquet").count()
    )
    assert (df.n_cand < n_corpus - 1).all()
    assert df.n_cand.sum() < 0.5 * len(df) * n_corpus


def _canon_url_py(doc_id: int, source: str) -> tuple[str, str]:
    """Independent raw-URL synthesis + canonicalization (urllib-style
    parse, not regex) — returns (raw, canonical)."""
    raw = "HTTP://"
    raw += "WWW." if doc_id % 3 == 0 else ""
    raw += source.upper() + ".Example.COM"
    raw += ":80" if doc_id % 5 == 0 else ""
    raw += f"/docs/{doc_id % 40}"
    if doc_id % 2 == 0:
        raw += "/?id=7&utm_source=feed&utm_campaign=x"
    elif doc_id % 7 == 0:
        raw += "?ref=home"
    if doc_id % 11 == 0:
        raw += "#section-2"

    u = raw.split("#", 1)[0]                      # fragment
    rest = u.split("://", 1)[1]
    cut = min([i for i in (rest.find("/"), rest.find("?")) if i >= 0] or [len(rest)])
    host, tail = rest[:cut], rest[cut:]
    host = host.lower()
    if host.startswith("www."):
        host = host[4:]
    if host.endswith(":80") or host.endswith(":443"):
        host = host.rsplit(":", 1)[0]
    if "?" in tail:
        path, query = tail.split("?", 1)
        params = [p for p in query.split("&") if p and not p.startswith("utm_")]
        tail = path + ("?" + "&".join(params) if params else "")
    while tail.endswith("/") or tail.endswith("?"):
        tail = tail[:-1]
    return raw, "https://" + host + tail


def test_dedup_url_canon_matches_python(spark):
    docs = (
        spark.read.parquet(f"{SF_001}/documents.parquet")
        .select("doc_id", "source")
        .toPandas()
    )
    clusters: dict[str, list[tuple[int, str]]] = {}
    for doc_id, source in zip(docs.doc_id, docs.source):
        raw, canon = _canon_url_py(int(doc_id), source)
        clusters.setdefault(canon, []).append((int(doc_id), raw))
    expect = {
        canon: (
            len(members),
            len({r for _, r in members}),
            min(d for d, _ in members),
            len(members) - 1,
        )
        for canon, members in clusters.items()
        if len(members) > 1
    }
    got = {
        r.canon_url: (int(r.n_docs), int(r.n_variants), int(r.keeper_doc), int(r.n_removed))
        for r in REGISTRY["dedup_url_canon"].fn(spark, SF_001).collect()
    }
    assert got == expect
    assert len(got) > 0
    # the canonicalizer must actually FOLD variants somewhere
    assert any(v[1] > 1 for v in got.values())


def test_qa_drift_ks_matches_numpy(spark):
    from decimal import Decimal

    o = (
        spark.read.parquet(f"{SF_001}/orders.parquet")
        .select("o_orderdate", "o_totalprice")
        .toPandas()
    )
    cents = (
        o.o_totalprice.map(lambda x: int(Decimal(str(x)).quantize(Decimal("0.0001")) * 100))
    ).to_numpy()
    bkt = cents // 100000
    is_b = (o.o_orderdate.astype(str) >= "1995-06-01").to_numpy()
    buckets = np.unique(bkt)
    na = np.array([(bkt[~is_b] == b).sum() for b in buckets])
    nb = np.array([(bkt[is_b] == b).sum() for b in buckets])
    ta, tb = int(na.sum()), int(nb.sum())
    ca, cb = np.cumsum(na), np.cumsum(nb)
    dsc = np.abs(ca.astype(object) * tb - cb.astype(object) * ta)
    i = int(np.argmax(dsc))  # argmax ties to first (smallest bucket)
    row = REGISTRY["qa_drift_ks"].fn(spark, SF_001).collect()[0]
    assert (row.n_a, row.n_b) == (ta, tb)
    assert row.ks_bucket == int(buckets[i])
    assert row.ks_ppm == (1000000 * int(dsc[i])) // (ta * tb)
    assert 0 <= row.ks_ppm <= 1000000


def test_agg_pass_at_k_matches_math_comb(spark):
    """The unbiased pass@k identity 1 - C(n-c,k)/C(n,k) recomputed with
    math.comb and exact Fractions — no falling-factorial sharing with
    the twins."""
    from fractions import Fraction

    o = (
        spark.read.parquet(f"{SF_001}/orders.parquet")
        .select("o_custkey", "o_orderstatus")
        .toPandas()
    )
    grp = o.groupby("o_custkey").agg(
        n=("o_orderstatus", "size"),
        c=("o_orderstatus", lambda s: (s == "F").sum()),
    )
    expect = {}
    for k in (1, 5, 10):
        ppms = []
        for n, c in zip(grp.n, grp.c):
            n, c = int(n), int(c)
            if n < k:
                continue
            frac = Fraction(math.comb(n - c, k), math.comb(n, k))
            # engine form: 1e6 - (1e6 * num) DIV den, truncating
            ppms.append(1000000 - (1000000 * frac.numerator) // frac.denominator)
        expect[k] = (len(ppms), sum(ppms), sum(ppms) // len(ppms))
    got = {
        int(r.k): (int(r.n_problems), int(r.sum_pass_ppm), int(r.mean_pass_ppm))
        for r in REGISTRY["agg_pass_at_k"].fn(spark, SF_001).collect()
    }
    assert got == expect
    # monotonicity: pass@k non-decreasing in k for the shared problems
    assert got[10][2] >= got[5][2] >= 0


def test_sample_mixture_temperature_invariants(spark):
    df = run(spark, "sample_mixture_temperature")
    # the budget apportions exactly
    assert df.quota_k_tokens.sum() == 100000
    assert (df.quota_k_tokens >= 0).all()
    # temperature flattens: smallest natural-share cell is boosted,
    # largest is cut (alpha=0.5 strictly between 0 and 1)
    small = df.loc[df.nat_ppm.idxmin()]
    big = df.loc[df.nat_ppm.idxmax()]
    assert small.boost_ppm > 0
    assert big.boost_ppm < 0
    # tempered shares ~ sqrt law: recompute blind from n_chars
    import math as _m

    wgt = df.n_chars.map(lambda x: _m.floor(_m.sqrt(float(x))))
    tot = wgt.sum()
    assert ((1000000 * wgt) // tot == df.temp_ppm).all()


def test_embedding_fixture_dimension_is_64():
    """~20 oracle twins hardcode the 64-dim bound (range(1, 65) dot
    products, the 32+32 sign-word split); if a future fixture changes the
    embedding dimension they would silently diverge from their Spark
    twins, so the assumption must fail LOUDLY here instead (ADVICE r8)."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        lens = duckdb.sql(
            f"SELECT DISTINCT len(embedding) FROM "
            f"read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        ).fetchall()
        assert lens == [(64,)], (sf, lens)


def test_knn_intervals_sweep_equals_bruteforce_randomized(spark):
    """The three-pool sweep must equal the brute-force (distance, key)
    top-k on adversarial synthetic data: duplicated ends/begins (tie
    groups), deep overlap pileups, points ON interval boundaries, empty
    chromosomes, k larger than some pools."""
    import random

    from pyspark.sql import functions as F

    from varda_spark.operators.interval import knn_intervals

    rng = random.Random(7)
    ivs, pts = [], []
    for chrom in ("c0", "c1", "c2"):
        for i in range(120):
            b = rng.randrange(0, 500) * 2  # even -> frequent collisions
            ln = rng.choice([0, 2, 4, 40, 200])
            ivs.append((chrom, b, b + ln, rng.randrange(1, 10**6)))
        for i in range(80):
            # half the points sit exactly on an interval boundary
            if rng.random() < 0.5 and ivs:
                c, b, e, _ = rng.choice([v for v in ivs if v[0] == chrom])
                pos = rng.choice([b, e])
            else:
                pos = rng.randrange(0, 1100)
            pts.append((chrom, pos, len(pts)))
    pts.append(("c_empty", 50, len(pts)))  # chromosome with no intervals

    iv_df = spark.createDataFrame(ivs, ["chromosome", "begin", "end", "sample_key"])
    pt_df = spark.createDataFrame(pts, ["chromosome", "position", "p_partkey"])

    for k in (1, 3, 5):
        got = {
            (r.chromosome, r.position, r.p_partkey, r.k_rank): (r.nearest_key, r.distance)
            for r in knn_intervals(pt_df, iv_df, k=k).collect()
        }
        expect = {}
        for chrom, pos, pid in pts:
            cands = sorted(
                (max(b - pos, pos - e, 0), key)
                for c, b, e, key in ivs
                if c == chrom
            )
            for rank, (d, key) in enumerate(cands[:k], 1):
                expect[(chrom, pos, pid, rank)] = (key, d)
        assert got == expect, f"k={k}"


def test_emb_prefix_recall_sampled_matches_numpy(spark):
    """The sampled Matryoshka audit recomputed blind: per sampled query
    (vec_id % 31 == 0), 16-dim top-1 vs full top-1 within the label
    block, aggregated per label."""
    emb = (
        spark.read.parquet(f"{SF_001}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()
    q = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64) * 10000).astype(np.int64)

    per_label: dict[int, list[int]] = {}
    panel = np.where(ids % 31 == 0)[0]
    panel = panel[np.argsort(ids[panel])][:64]  # fixed-size panel
    for qi in panel:
        blk = np.where((labels == labels[qi]) & (ids != ids[qi]))[0]
        if len(blk) == 0:
            continue
        d16 = q[blk, :16] @ q[qi, :16]
        dfull = q[blk] @ q[qi]
        b16 = blk[np.lexsort((ids[blk], -d16))[0]]
        bf = blk[np.lexsort((ids[blk], -dfull))[0]]
        per_label.setdefault(int(labels[qi]), []).append(int(b16 == bf))
    expect = {
        lab: (len(v), sum(v), (1000000 * sum(v)) // len(v))
        for lab, v in per_label.items()
    }
    got = {
        int(r.label): (int(r.n_queries), int(r.n_agree), int(r.recall_ppm))
        for r in REGISTRY["emb_prefix_recall_sampled"].fn(spark, SF_001).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_emb_pair_dist_hist_sampled_matches_numpy(spark):
    """The anchor-conditional decile histogram recomputed blind over the
    fixed 64-vector panel."""
    emb = (
        spark.read.parquet(f"{SF_001}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()
    q = np.floor(np.stack(emb.embedding.to_numpy()).astype(np.float64) * 1000).astype(np.int64)
    n2 = (q * q).sum(axis=1)

    panel = np.where(ids % 31 == 0)[0]
    panel = panel[np.argsort(ids[panel])][:64]
    hist: dict[tuple[int, int], int] = {}
    for ai in panel:
        blk = np.where((labels == labels[ai]) & (ids != ids[ai]))[0]
        for bi in blk:
            dq = int(q[ai] @ q[bi])
            dec = int(np.floor(10.0 * (1.0 - dq / np.sqrt(float(n2[ai] * n2[bi])))))
            k = (int(labels[ai]), dec)
            hist[k] = hist.get(k, 0) + 1
    got = {
        (int(r.label), int(r.dist_decile)): int(r.n)
        for r in REGISTRY["emb_pair_dist_hist_sampled"].fn(spark, SF_001).collect()
    }
    assert got == hist
    assert len(got) > 0


def test_interval_joins_bruteforce_at_bin_boundaries(spark):
    """Adversarial randomized check of BOTH binned join kernels against
    brute force, with coordinates clustered at the UCSC level boundaries
    (128kb/1Mb/8Mb edges ± 2) where a binning off-by-one would live, plus
    zero-length intervals, level-spanning giants, and begin at the
    1-based origin."""
    import random

    from varda_spark.operators.interval import interval_join, range_overlap_join

    rng = random.Random(11)
    edges = [1, 2, 131072, 131073, 1048576, 8388608]

    def coord():
        if rng.random() < 0.5:
            return max(1, rng.choice(edges) + rng.randint(-2, 2))
        return rng.randint(1, 2_000_000)

    ivs = []
    for i in range(250):
        b = coord()
        ln = rng.choice([0, 1, 2, 1000, 200_000, 2_000_000])
        ivs.append(("c0", b, b + ln, i))
    pts = [("c0", coord(), j) for j in range(250)]

    iv_df = spark.createDataFrame(ivs, ["chromosome", "begin", "end", "sample_key"])
    pt_df = spark.createDataFrame(pts, ["chromosome", "position", "p_partkey"])

    got_pt = {
        (r.position, r.p_partkey, r.sample_key)
        for r in interval_join(pt_df, iv_df).collect()
    }
    want_pt = {
        (p, pid, key)
        for _, p, pid in pts
        for _, b, e, key in ivs
        if b <= p <= e
    }
    assert got_pt == want_pt

    left = [("c0", b, b + ln, 1000 + i) for i, (b, ln) in enumerate(
        (coord(), rng.choice([0, 5, 50_000])) for _ in range(200)
    )]
    l_df = spark.createDataFrame(left, ["chromosome", "begin", "end", "lid"])
    got_ov = {
        (r.lid, r.sample_key)
        for r in range_overlap_join(l_df, iv_df).collect()
    }
    want_ov = {
        (lid, key)
        for _, lb, le, lid in left
        for _, rb, re_, key in ivs
        if lb <= re_ and le >= rb
    }
    assert got_ov == want_ov
