"""Focused tests for the round-15 optimization internals.

Round rule: every r15 change to an operator's internals gets a direct
equivalence test against a reference that shares no code with the
operator — the simhash/minhash checkpointed self-joins against
pure-Python band+verify references, join_bloom's grouped-aggregate fold
against a hashlib/pandas brute force, and sim_sparse_cosine's r14 pair
path against the textbook join shape on a SEEDED fixture with NON-empty
pairs (ADVICE r14: the sf0.1 A/B was vacuous because the df cut left
zero pairs there).
"""

from __future__ import annotations

import hashlib
import itertools
import re

import pytest

from pyspark.sql import Window, functions as F

from varda_spark.operators.dedup import minhash_candidates, simhash_pairs
from varda_spark.operators.similarity import kcenter_greedy

SF_SMALL = "/root/testdata/sf0.001"

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
    (3, "the quick brown fox leaps over the lazy dog"),          # near dup of 1
    (4, "pack my box with five dozen liquor jugs"),
    (5, "pack my box with five dozen liquor jugs today"),        # near dup of 4
    (6, "sphinx of black quartz judge my vow"),
    (7, "how vexingly quick daft zebras jump"),
    (8, "the quick brown fox jumps over the lazy cat"),          # near dup of 1
]


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.strip()) if t]


# ---------------------------------------------------------- simhash_pairs


def _simhash_ref(text: str) -> int:
    """Pure-Python 60-bit simhash — same spec, no shared code."""
    toks = _tokens(text)
    n = len(toks)
    fp = 0
    for j in range(60):
        votes = sum(
            (int(hashlib.md5(t.encode()).hexdigest()[:15], 16) >> j) & 1
            for t in toks
        )
        if 2 * votes > n:
            fp |= 1 << j
    return fp


def test_simhash_pairs_matches_python_reference(spark):
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(df, max_hamming=10).collect()
    }
    fps = {d: _simhash_ref(t) for d, t in _DOCS}
    mask = (1 << 15) - 1
    want = set()
    for (da, fa), (db, fb) in itertools.combinations(sorted(fps.items()), 2):
        shares_chunk = any(
            (fa >> (15 * c)) & mask == (fb >> (15 * c)) & mask for c in range(4)
        )
        ham = bin(fa ^ fb).count("1")
        if shares_chunk and ham <= 10:
            want.add((da, db, ham))
    assert got == want and want  # non-vacuous: the dups above must pair


# ------------------------------------------------------ minhash_candidates


def _minhash_bands_ref(text: str) -> list[str]:
    toks = _tokens(text)
    sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    sigs = [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
        for i in range(8)
    ] if sh else None
    if sigs is None:
        return []
    return [f"{b}|{sigs[2 * b]}|{sigs[2 * b + 1]}" for b in range(4)]


def test_minhash_candidates_matches_python_reference(spark):
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidates(df).collect()
    }
    bands = {d: set(_minhash_bands_ref(t)) for d, t in _DOCS}
    want = {
        (da, db)
        for (da, ba), (db, bb) in itertools.combinations(sorted(bands.items()), 2)
        if ba & bb
    }
    assert got == want and want


# -------------------------------------------------------------- join_bloom


def test_join_bloom_grouped_agg_vs_bruteforce(spark):
    import pandas as pd

    from varda_spark.catalog import REGISTRY

    got = REGISTRY["join_bloom"].fn(spark, SF_SMALL).collect()[0]

    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet", columns=["l_suppkey"])
    s = pd.read_parquet(
        f"{SF_SMALL}/supplier.parquet", columns=["s_suppkey", "s_acctbal"]
    )
    dim = set(s.loc[s["s_acctbal"].astype(float) > 7000, "s_suppkey"].tolist())
    bits = set()
    for k in dim:
        for j in range(3):
            bits.add(int(hashlib.md5(f"{k}|{j}".encode()).hexdigest()[:15], 16) % 992)

    def passes(k: int) -> bool:
        return all(
            int(hashlib.md5(f"{k}|{j}".encode()).hexdigest()[:15], 16) % 992 in bits
            for j in range(3)
        )

    keys = li["l_suppkey"].tolist()
    verdict = {k: passes(k) for k in set(keys)}
    n_fact = len(keys)
    n_pass = sum(1 for k in keys if verdict[k])
    n_true = sum(1 for k in keys if verdict[k] and k in dim)
    assert (got.n_fact, got.n_pass, got.n_true, got.n_false_pos) == (
        n_fact, n_pass, n_true, n_pass - n_true,
    )


# ------------------------------------------------- kcenter empty-input guard


def test_kcenter_greedy_empty_input_no_fast_path_indexerror(spark):
    """ADVICE r14: empty input must fall THROUGH the local fast path
    (mirroring kmeans_fit's `and rows` guard) — it then fails loudly in
    the distributed seed collect, same class as before, but the fast
    path itself no longer crashes at ids[0]."""
    empty = spark.createDataFrame([], "vec_id bigint, vec array<double>")
    with pytest.raises(IndexError):
        kcenter_greedy(empty, k=3, vec="vec")


# ------------------------------------------------- _coorder_edges Arrow build


def test_coorder_edges_matches_python_reference(spark, monkeypatch):
    """r15: the (ok, pk)-distinct self-join became a collect_set +
    vectorized Arrow pair generation — the edge SET must equal the
    brute-force per-order combinations, including dup rows, orders with
    repeated parts, single-part and NULL-key orders."""
    import varda_spark.catalog as cat

    rows = [
        (100, 1), (100, 2), (100, 3), (100, 1),   # dup (ok, pk) row
        (101, 7),                                  # single part: no pairs
        (102, 2), (102, 3),
        (103, 5), (103, 5),                        # repeated part only
        (None, 8), (None, 9),                      # NULL order: dropped
    ]
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    monkeypatch.setattr(cat, "read_table", lambda _s, _d, _t: li)
    got = {(r.pa, r.pb) for r in cat._coorder_edges(spark, "ignored").collect()}
    want = set()
    orders = {}
    for ok, pk in rows:
        if ok is not None:
            orders.setdefault(ok, set()).add(pk)
        # NULL orderkeys matched nothing in the old equi-join
    for parts in orders.values():
        for a, b in itertools.combinations(sorted(parts), 2):
            want.add((a, b))
    assert got == want == {(1, 2), (1, 3), (2, 3)}


# ------------------------------- sim_sparse_cosine seeded pair-level fixture


def _seeded_docs(spark):
    # few docs, tiny vocabulary -> every bucket df is well under the 64
    # cut, so the pair path (window n2, dependent group keys, repartition)
    # produces NON-empty output (ADVICE r14: sf0.1's cut left 0 pairs).
    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "alpha beta gamma delta"),
        (3, "alpha alpha beta beta"),
        (4, "epsilon zeta eta theta"),
        (5, "epsilon zeta eta theta iota"),
        (6, "kappa"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_sim_sparse_cosine_pair_path_vs_textbook_shape(spark, monkeypatch):
    import varda_spark.catalog as cat

    docs = _seeded_docs(spark)
    monkeypatch.setattr(cat, "read_table", lambda _s, _d, _t: docs)
    got = cat.REGISTRY["sim_sparse_cosine"].fn(spark, "ignored")
    got_rows = {tuple(r) for r in got.collect()}

    # textbook (pre-r14) shape: separate nrm aggregate, pair-level nrm
    # joins, no window/no checkpoint/no dependent group keys.
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    vec = tok.groupBy(
        "doc_id",
        F.expr("CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT) % 4096").alias(
            "bucket"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    nrm = vec.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    keep = vec.groupBy("bucket").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 64
    ).select("bucket")
    a = vec.join(keep, "bucket").select(
        "bucket", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a")
    )
    b = vec.join(keep, "bucket").select(
        "bucket", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "bucket")
        .filter(F.col("doc_b") > F.col("doc_a"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
    )
    D = "DECIMAL(38,0)"
    scored = (
        dots.join(nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("n2a")), "doc_a")
        .join(nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("n2b")), "doc_b")
        .select(
            "doc_a", "doc_b", "dot",
            F.expr(
                f"CAST((1000000 * CAST(dot AS {D}) * dot)"
                f" DIV (CAST(n2a AS {D}) * n2b) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
    )
    w = Window.partitionBy("doc_a").orderBy(F.col("cos2_ppm").desc(), "doc_b")
    want = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_a", "doc_b", "dot", "cos2_ppm")
    )
    want_rows = {tuple(r) for r in want.collect()}
    assert got_rows == want_rows and want_rows  # non-empty by construction
