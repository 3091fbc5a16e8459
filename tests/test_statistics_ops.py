"""Independent numpy-reference checks for the round-4 statistics family.

The DuckDB oracle proves Spark and DuckDB agree; these tests prove the
MATH is right — a reference implementation in numpy/plain Python that
shares no SQL with either engine, so a bug replicated into both twins
(the shared-text failure mode) still gets caught.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from varda_spark.catalog import REGISTRY


def run(spark, key, sf=SF_SMALL):
    return REGISTRY[key].fn(spark, sf).toPandas()


def test_mannwhitney_matches_direct_ranking(spark):
    """u1_2x from the value-domain reformulation == 2*U from literal
    midrank assignment over the raw rows."""
    import pandas as pd

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_returnflag", "l_quantity"
    ).toPandas()
    li = li[li.l_returnflag.isin(["R", "A"])]
    q = li.l_quantity.to_numpy()
    g1 = (li.l_returnflag == "R").to_numpy()
    # literal midranks (scipy-free): average rank of each tied block
    order = np.argsort(q, kind="mergesort")
    ranks = np.empty(len(q), dtype=float)
    sq = q[order]
    i = 0
    while i < len(sq):
        j = i
        while j < len(sq) and sq[j] == sq[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0  # avg of ranks i+1..j
        i = j
    n1 = int(g1.sum())
    r1 = ranks[g1].sum()
    u1_2x_ref = int(round(2 * r1)) - 2 * (n1 * (n1 + 1) // 2)
    out = run(spark, "agg_mannwhitney")
    assert int(out.u1_2x[0]) == u1_2x_ref
    assert int(out.u1_2x[0]) + int(out.u2_2x[0]) == 2 * n1 * int(out.n2[0])


def test_pca_power_is_unit_and_aligned_with_numpy(spark):
    """Loadings are unit-norm and match numpy applying the SAME two
    power iterations to the SAME quantized second-moment matrix
    (|cos| > 0.999 — the operator's contract is exactly-2-iterations,
    like the fixed-round LPA keys; the shipped near-isotropic synthetic
    embeddings have eigen-gap ≈ 1.07, so convergence to the true top
    eigenvector is a property of the data, not the operator)."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").toPandas()
    X = np.floor(
        np.stack(emb.embedding.to_numpy()).astype(np.float64) * 1_000_000
    )
    S = X.T @ X
    w = S @ (S @ np.ones(X.shape[1]))
    w /= np.linalg.norm(w)
    out = run(spark, "emb_pca_power").sort_values("dim")
    v = out.loading.to_numpy()
    assert abs(np.linalg.norm(v) - 1.0) < 1e-6
    assert abs(float(np.dot(v, w))) > 0.999


def test_bootstrap_replicates_bracket_true_mean(spark):
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    mu = li.l_quantity.mean()
    sd = li.l_quantity.std()
    n = len(li)
    out = run(spark, "agg_bootstrap")
    assert len(out) == 32
    # each replicate's effective n is Poisson(1)-sized: within 5 sd of n
    assert (np.abs(out.n_eff - n) < 5 * np.sqrt(n) + 10).all()
    # replicate means cluster around the true mean
    se = sd / np.sqrt(n)
    assert (np.abs(out.mean_qty - mu) < 6 * se).all()
    # and the spread itself is on the order of the standard error
    assert 0.2 * se < out.mean_qty.std() < 3 * se


def test_survival_conservation_and_monotonicity(spark):
    out = run(spark, "agg_survival").sort_values("lead_day").reset_index(drop=True)
    # risk set starts at the order total and strictly shrinks by d each day
    assert (out.n_risk.to_numpy()[1:]
            == (out.n_risk - out.n_events).to_numpy()[:-1]).all()
    assert int(out.n_events.sum()) == int(out.n_risk.iloc[0])
    assert (out.cum_hazard_ppm.diff().fillna(0) >= 0).all()
    assert (out.hazard_ppm <= 1_000_000).all()


def test_hwe_counts_and_chi2_reference(spark):
    out = run(spark, "freq_hwe")
    assert ((out.n_hom_ref + out.n_het + out.n_hom_alt) == out.n).all()
    # numpy reference chi2 (float) within 2 ppm of the floored-sum value
    n = out.n.to_numpy(float)
    orr, ohet, oaa = (
        out.n_hom_ref.to_numpy(float),
        out.n_het.to_numpy(float),
        out.n_hom_alt.to_numpy(float),
    )
    p = (2 * orr + ohet) / (2 * n)
    with np.errstate(divide="ignore", invalid="ignore"):
        e = np.stack([n * p**2, 2 * n * p * (1 - p), n * (1 - p) ** 2])
        o = np.stack([orr, ohet, oaa])
        chi2 = ((o - e) ** 2 / e).sum(axis=0)
    assert (np.abs(out.chi2_ppm / 1e6 - chi2) < 3e-5 * np.maximum(chi2, 1)
            + 4e-6).all()


def test_fst_reference(spark):
    out = run(spark, "freq_fst")
    a = out.alleles_pop1.to_numpy(float)
    b = out.alleles_pop2.to_numpy(float)
    x1 = out.ref_pop1.to_numpy(float)
    x2 = out.ref_pop2.to_numpy(float)
    n = a + b
    x = x1 + x2
    hs = (b * x1 * (a - x1) + a * x2 * (b - x2)) * n / (a * b * x * (n - x))
    fst = 1 - hs
    assert (np.abs(out.fst_ppm / 1e6 - fst) < 2e-6 + 1e-9 * np.abs(fst)).all()
    assert (out.fst_ppm <= 1_000_000).all()


def test_modularity_bounds_and_totals(spark):
    out = run(spark, "graph_modularity")
    assert (out.q_ppm >= -1_000_000).all() and (out.q_ppm <= 1_000_000).all()
    # degree sums are even and total 2m; e_in bounded by community degree
    assert int(out.d_tot.sum()) % 2 == 0
    assert (2 * out.e_in <= out.d_tot).all()


def test_tvd_is_half_sum_of_deltas(spark):
    out = run(spark, "qa_drift_tvd")
    # per-type deltas ppm-floor-sum to ~2×tvd (each side floored once)
    assert abs(int(out.delta_ppm.sum()) - 2 * int(out.tvd_ppm.iloc[0])) <= 2 * len(out)
    assert (out.c1 + out.c2 > 0).all()
    assert int(out.n1.iloc[0]) == int(out.c1.sum())
    assert int(out.n2.iloc[0]) == int(out.c2.sum())


def test_business_day_closed_form_brute_force():
    """B(n) = 5*((n+4)//7) + min((n+4)%7, 5) counts business days in
    (s, e] as B(e)-B(s) — brute-forced over 2000 random ranges."""
    import datetime
    import random

    def B(n):
        return 5 * ((n + 4) // 7) + min((n + 4) % 7, 5)

    rng = random.Random(1)
    epoch = datetime.date(1970, 1, 1)
    for _ in range(2000):
        s = rng.randint(0, 20000)
        e = s + rng.randint(0, 100)
        brute = sum(
            1
            for d in range(s + 1, e + 1)
            if (epoch + datetime.timedelta(days=d)).weekday() < 5
        )
        assert B(e) - B(s) == brute


def test_business_days_histogram_totals(spark):
    out = run(spark, "date_business_days")
    # denominator is orders WITH lineitems (the testdata has childless
    # orders — qa_integrity reports them; unshipped orders have no lead)
    shipped = (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .join(
            spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
            .select("l_orderkey")
            .distinct(),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .count()
    )
    assert int(out.n_orders.sum()) == shipped
    # synthetic shipdates are uncorrelated with orderdates, so negative
    # leads exist; B(e)-B(s) is sign-correct either way
    assert (out.n_orders > 0).all()


def test_growth_accounting_conservation(spark):
    out = run(spark, "agg_growth_accounting").sort_values("day").reset_index(
        drop=True
    )
    # active = new + retained + resurrected, row-exactly
    assert (
        out.n_active == out.n_new + out.n_retained + out.n_resurrected
    ).all()
    # churned(d) = active(d-1) - retained(d) and is never negative
    assert (out.n_churned >= 0).all()
    # total news == total distinct users
    users = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert int(out.n_new.sum()) == users


def test_interval_atomize_disjoint_and_conserves_mass(spark):
    out = run(spark, "interval_atomize").sort_values(
        ["chromosome", "seg_begin"]
    )
    # segments are disjoint and ordered within a chromosome
    for _, g in out.groupby("chromosome"):
        b = g.seg_begin.to_numpy()
        e = g.seg_end.to_numpy()
        assert (e > b).all()
        assert (b[1:] >= e[:-1]).all()
    # conservation: sum depth*len == total interval length
    total = int((out.depth * (out.seg_end - out.seg_begin)).sum())
    s = spark.read.parquet(f"{SF_SMALL}/supplier.parquet").toPandas()
    lens = (200 + (s.s_suppkey % 7) * 500).sum()
    assert total == int(lens)


def test_compress_ratio_bounds_and_discrimination(spark):
    out = run(spark, "text_compress_ratio")
    # deflate never inflates text beyond a small header on these sizes,
    # and always keeps SOME bytes
    assert (out.ratio_ppm > 0).all()
    assert (out.ratio_ppm < 1_200_000).all()
    # a repeated string compresses far below typical prose
    import zlib

    rep = "the same phrase " * 50
    prose_med = out.ratio_ppm.median()
    rep_ratio = len(zlib.compress(rep.encode(), 6)) * 1_000_000 // len(rep)
    assert rep_ratio < prose_med


def test_interval_weight_allocations_bounded(spark):
    out = run(spark, "join_interval_weight")
    assert (out.overlap_bp > 0).all()
    assert (out.weight_ppm > 0).all()
    assert (out.weight_ppm <= 1_000_000).all()


def test_fiscal_445_partition_of_orders(spark):
    out = run(spark, "date_fiscal_445")
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").count()
    assert int(out.n_orders.sum()) == orders
    assert set(out.fiscal_quarter.unique()) <= {1, 2, 3, 4}
    assert set(out.period.unique()) <= {1, 2, 3}


def test_liftover_fragment_accounting(spark):
    out = run(spark, "interval_liftover")
    # fragments preserve length: dst span == mapped bp
    assert ((out.dst_end - out.dst_begin) == out.mapped_bp).all()
    assert (out.mapped_bp > 0).all()
    assert (out.mapped_ppm <= 1_000_000).all()
    # per interval, total mapped bp never exceeds the source length
    per = out.groupby("iv_id").agg(
        mapped=("mapped_bp", "sum"),
        src=("src_end", "first"),
        b=("src_begin", "first"),
    )
    assert (per.mapped <= per.src - per.b).all()


def test_popmax_dominates_pooled_af(spark):
    """popmax >= pooled AF for every site — the reason popmax exists."""
    import pandas as pd

    out = run(spark, "freq_popmax").set_index("site_id")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").toPandas()
    li["site"] = li.l_partkey
    li["alt"] = 2 - (li.l_orderkey % 3).map({0: 2, 1: 1, 2: 0})
    pooled = li.groupby("site").agg(alt=("alt", "sum"), n=("alt", "size"))
    pooled_ppm = (1_000_000 * pooled.alt) // (2 * pooled.n)
    joined = out.join(pooled_ppm.rename("pooled_ppm"), how="inner")
    assert (joined.popmax_ppm >= joined.pooled_ppm).all()


def test_skyline_is_exactly_the_pareto_frontier(spark):
    """Prefix-min skyline == brute-force dominance filter."""
    out = run(spark, "agg_skyline")
    # rebuild the point set the operator saw
    o = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    pts = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice")
        .agg(F.min("l_shipdate").alias("ship"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)"
            ).alias("price_c"),
            F.expr(
                "datediff(CAST(ship AS DATE), CAST(o_orderdate AS DATE))"
            ).alias("lead_d"),
        )
        .distinct()
        .toPandas()
    )
    for grp, g in pts.groupby("grp"):
        p = list(zip(g.price_c, g.lead_d))
        brute = {
            (x, y)
            for x, y in p
            if not any(
                (qx <= x and qy <= y and (qx < x or qy < y)) for qx, qy in p
            )
        }
        got = {
            (r.price_c, r.lead_d)
            for r in out[out.grp == grp].itertuples()
        }
        # operator keeps one representative per (x,y); brute keeps all
        assert got == brute


def test_value_domain_windows_stay_bounded(spark):
    """agg_auc and agg_mannwhitney run their one-task windows over the
    VALUE DOMAIN of the score column, not the data — the whitelist
    argument in tools/audit_plans.py. The domains are data-dependent, so
    ENFORCE the documented bounds at the largest locally available scale
    factor instead of arguing them: distinct quantities (mannwhitney,
    documented ~50) and distinct whole-dollar prices (auc, documented
    ~100k at any sf) must stay one-task-sized as the data grows."""
    import os

    from varda_spark.sources.tables import read_table

    sf = SF_SMALL
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for cand in (f"{root}/scaledata/sf5", f"{root}/scaledata/sf1"):
        if os.path.exists(f"{cand}/lineitem.parquet"):
            sf = cand
            break
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    n_quantities = li.select(
        F.col("l_quantity").cast("decimal(18,4)")
    ).distinct().count()
    n_prices = li.select(
        F.expr("CAST(FLOOR(CAST(l_extendedprice AS DECIMAL(18,4))) AS BIGINT)")
    ).distinct().count()
    assert n_quantities <= 200, f"mannwhitney window no longer tiny: {n_quantities}"
    assert n_prices <= 150_000, f"auc window outgrew one task: {n_prices}"
