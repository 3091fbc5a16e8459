"""Similarity search over embedding columns (north-star K3).

Brute-force cosine top-k as the correctness baseline; label-blocked (IVF-
style) variant as the scale path. At 100 TB you never all-pairs join: the
blocking key (here `label`; in production a coarse-quantizer cell id)
bounds each bucket, and the per-bucket self-join shuffles on that key only.

Dot products use ``zip_with`` + ``aggregate`` — JVM-side, sequential fold,
deterministic. For oracle-checkable ranking the catalog uses the quantized
integer dot (associative → order-independent → exact across engines);
``cosine_topk`` below is the real float API.

Fixed-probe search. The PQ, IVF-PQ, exact-L2, dot, hybrid-pool and MMR
kernels rank the corpus against a FIXED probe set: the n lowest-key
quantized vectors, which also seed the PQ codebooks and the IVF cells.
Three helpers carry that contract:

- ``_probe_rows``: one bounded driver collect of the longest lowest-key
  prefix a builder needs, as (ids, int64 matrix).
- ``_pq_quantizer``: per-subspace squared distances to the codewords,
  which are a probe's ADC lookup tables, and their argmin, which is the
  PQ encoding (``_pq_code_frame`` is the one encode pass,
  ``_ivf_pq_scored`` the one IVF-PQ probe join).
- ``_probe_topk``: the two-phase top-k scan — per Arrow batch a score
  matrix against the closure-shipped probes, a local top-k under the total
  (score, key) order, then one row_number window per metric.

A probe that excludes itself drops its own row, so on a corpus smaller
than k a result has fewer rows, never a padded one. All scores are exact
int64; ties go to the lowest key; keys keep their input type.

Centroid models. Every k-row model — seeded IVF cells, k-means centroids,
PQ codebooks — is an int64 matrix on the driver: seeded cells are a
``_probe_rows`` prefix, a caller's (cell_id, _ce) table comes through
``_model_rows`` (bounded by ``_MAX_CENTROID_ROWS``), and a returned model
is a ``session.local_table``. Three helpers use them:

- ``_nearest_row``: the one nearest-row rule, argmax(s·(X@Cᵀ) − b) —
  dot (s = 1, b = 0) or L2 (s = 2, b = |c|², the same order and ties as
  argmin |x − c|²) — shared by the two below and the IVF-PQ cell column.
- ``_assign_cells``: the one nearest-cell kernel, a mapInPandas applying
  that rule per Arrow batch.
- ``_lloyd``: the one Lloyd loop, per subspace (PQ) or over the whole
  vector (k-means, m = 1); rounds run on the driver for a corpus of at
  most ``_LOCAL_SOLVER_THRESHOLD`` rows (``_solver_rows``, an unordered
  bounded collect), else as one corpus pass each, through the same numpy
  ``sums``.

What runs on executors (score functions, the encoder, the assigner, the
Lloyd partial sums) is a nested function, which ships by value: Python
workers never import this package.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from varda_spark.session import local_table

# Bound for the driver-side solver paths (_lloyd for kmeans_fit/pq_fit,
# kcenter_greedy): each solver's first collect (_solver_rows, unordered)
# brings at most this many rows + 1 to the driver, and a corpus that fits
# runs every round there as identical integer math (no further job)
# instead of one corpus pass per round; a larger corpus then probes only
# its k init rows (or kcenter's one seed). Module-level so tests can
# force the distributed path on small data and assert bit-equality of the
# two paths (tests/test_round14_opt.py, tests/test_llm_ops.py).
_LOCAL_SOLVER_THRESHOLD = 65536


def dot(a: str, b: str) -> Column:
    """Deterministic double dot product of two array<float|double> cols."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        )
    )


def quantized_sql(a: str, scale: int = 10000) -> str:
    """array<bigint> quantization: floor(x * scale). Integer dot products
    over these are exact and associative → engine-independent ranking."""
    return f"transform({a}, x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT))"


def quantized(a: str, scale: int = 10000) -> Column:
    return F.expr(quantized_sql(a, scale))


def qdot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def sign_word(emb: str, lo: int) -> str:
    """32-bit sign word of the 32 elements of ``emb`` from 1-based ``lo``:
    bit 31 - i is set iff element lo + i is >= 0. A weighted SUM of bits,
    so the value does not depend on fold order."""
    lits = ", ".join(str(1 << (31 - i)) for i in range(32))
    return (
        f"aggregate(zip_with(slice({emb}, {lo}, 32), array({lits}),"
        " (x, p) -> CASE WHEN CAST(x AS DOUBLE) >= 0"
        " THEN p ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def sign_words64(df: DataFrame) -> DataFrame:
    """Encode a 64-dim embedding as two 32-bit sign words + quantized ints.

    (id, w1, w2, e_q): w1/w2 pack sign(x_i) into 8 bytes total — the
    binary-prefilter representation sim_hamming_topk / sim_cascade_rerank /
    stream_cascade all scan (bit_count(w^q) Hamming in whole-stage codegen);
    e_q is the floor-quantized integer vector for the exact re-rank stage.
    All integer math → bit-exact across engines and batch/stream."""
    return df.select(
        "vec_id",
        F.expr(sign_word("embedding", 1)).alias("w1"),
        F.expr(sign_word("embedding", 33)).alias("w2"),
        quantized("embedding", 10000).alias("e_q"),
    )


def cosine_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Top-k nearest neighbors per vector by cosine similarity, within
    each ``label`` bucket: an IVF-style bucket self-join (the scale path).
    """
    base = emb.select("vec_id", "embedding", "label").withColumn("_norm", norm("embedding"))
    a = base.select([F.col(c).alias(f"a_{c}") for c in base.columns])
    b = base.select([F.col(c).alias(f"b_{c}") for c in base.columns])
    cond = (F.col("a_vec_id") != F.col("b_vec_id")) & (F.col("a_label") == F.col("b_label"))
    pairs = a.join(b, cond)
    pairs = pairs.withColumn(
        "cosine", dot("a_embedding", "b_embedding") / (F.col("a__norm") * F.col("b__norm"))
    )
    w = Window.partitionBy("a_vec_id").orderBy(F.col("cosine").desc(), F.col("b_vec_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("a_vec_id").alias("query_id"),
            F.col("b_vec_id").alias("neighbor_id"),
            "cosine",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


def blocked_topk_pandas(
    base: DataFrame,
    k: int = 3,
    *,
    block: str = "label",
    max_block: int = 8192,
) -> DataFrame:
    """Per-block exact top-k by integer dot product via applyInPandas.

    The production path: each block becomes ONE Arrow batch, the gram
    matrix is ONE int64 matmul (exact — no float ranking ambiguity), and
    every vector ships once instead of once per candidate pair. Measured
    9× faster than the pair-join formulation at sf0.1 (0.5s vs 4.6s)
    with bit-identical output (ties break by neighbor id ascending).
    The whole per-block ranking is vectorized numpy (matmul + one stable
    row-wise argsort) — no Python-level per-row loop.

    ``max_block`` bounds the Arrow batch: a block with more than
    ``max_block`` rows is split into ceil(n/max_block) sub-blocks by a
    hash of ``vec_id`` (same shape as the dedup banding split), so a hot
    IVF cell / label can neither straggle nor OOM an executor. RECALL
    NOTE: when the split triggers, neighbors are found within the
    sub-block only — exact for any block ≤ max_block (the salt is the
    constant 0 there), approximate above it. Size max_block so that
    max_block² int64 gram cells fit executor memory (8192² = 512 MiB).
    Degradation is OBSERVABLE, not silent: every output row carries a
    ``split`` boolean — true iff its block exceeded max_block and was
    therefore ranked sub-block-only. Exact callers project it away after
    asserting (or knowing) their blocks are bounded; pipelines at scale
    can route split=true rows to a re-rank pass.
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(columns=[block, "query_id", "neighbor_id", "dot_q", "rank", "split"])

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        n = len(ids)
        kk = min(k, n - 1)
        if kk <= 0:
            return empty
        was_split = bool(pdf["_bn"].iloc[0] > max_block)
        blk = pdf[block].iloc[0]
        Q = np.vstack(pdf["_q"].to_numpy())
        G = Q @ Q.T  # int64, exact
        # Tie-break by neighbor id ascending, fully vectorized: permute the
        # columns into id-ascending order, then a STABLE row-wise argsort
        # on the negated dots keeps that id order within equal dots.
        col_order = np.argsort(ids, kind="stable")
        Gs = G[:, col_order]
        inv = np.empty(n, dtype=np.int64)
        inv[col_order] = np.arange(n)
        # self never ranks: sentinel below any real dot (min+1 so the
        # negation used for descending sort cannot overflow)
        Gs[np.arange(n), inv] = np.iinfo(np.int64).min + 1
        top = np.argsort(-Gs, axis=1, kind="stable")[:, :kk]
        ids_sorted = ids[col_order]
        return pd.DataFrame(
            {
                block: np.repeat(blk, n * kk),
                "query_id": np.repeat(ids, kk),
                "neighbor_id": ids_sorted[top].ravel(),
                "dot_q": np.take_along_axis(Gs, top, axis=1).ravel(),
                "rank": np.tile(np.arange(1, kk + 1, dtype=np.int64), n),
                "split": np.repeat(was_split, n * kk),
            }
        )

    block_t = dict(base.dtypes)[block]
    schema = (
        f"{block} {block_t}, query_id bigint, neighbor_id bigint, dot_q bigint, "
        "rank bigint, split boolean"
    )
    w = Window.partitionBy(block)
    sel = (
        base.select("vec_id", block, "_q")
        .withColumn("_bn", F.count(F.lit(1)).over(w))
        .withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("vec_id")), F.greatest(F.lit(1), F.ceil(F.col("_bn") / max_block))),
        )
    )
    return sel.groupBy(block, "_salt").applyInPandas(_block, schema)


def quantized_topk_fast(emb: DataFrame) -> DataFrame:
    """quantized_topk semantics on the blocked-matmul path (bit-identical
    output, pytest-compared against the pure-DF reference)."""
    base = emb.select("vec_id", "label", quantized("embedding", 10000).alias("_q"))
    return blocked_topk_pandas(base).select(
        "query_id", "neighbor_id", "dot_q", "rank"
    )


def quantized_neardup(emb: DataFrame, threshold_pct: int = 80) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) within a block.

    cos_pct = floor(100 * dot / sqrt(|a|²·|b|²)) over integer-quantized
    vectors: the dot and squared norms are exact bigints, and the final
    sqrt/divide/floor are single correctly-rounded IEEE ops — bit-identical
    across engines. Block bounds the self-join fan-out (scale path: at
    100 TB the block key is an LSH/IVF cell, never a full cross join).
    """
    base = (
        emb.select("vec_id", "label", quantized("embedding", 1000).alias("_q"))
        .withColumn("_n2", qdot("_q", "_q"))
    )
    # same blocked-matmul verification as the LSH path (one gram matrix per
    # block instead of a per-pair fold) — see _blocked_cos_pairs
    return _blocked_cos_pairs(base, threshold_pct, block="label")


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 8,
    k: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize to the nearest of n_centroids seed
    vectors (argmax integer dot), then exact top-k within each cell.

    The scale path for K3: the cells are a k-row driver-side model shipped
    in the assignment's task closure (_assign_cells: map-side, no shuffle,
    never an n·nlist row set), and the self-join shuffles on cell id only.
    Centroids are the n_centroids lowest-key vectors (_probe_rows;
    deterministic — a production system plugs in k-means output, same plan
    shape).

    ``centroids``: a persisted (cell_id, _ce) table from kmeans_fit /
    load_centroids — repeated queries then skip both the seed selection
    and any refit; n_centroids is ignored.
    """
    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    if centroids is None:
        cells = _probe_rows(q_, "vec_id", n_centroids)
    else:
        cells = _model_rows(centroids)
    assigned = _assign_cells(q_, "vec_id", *cells, False)
    topk = blocked_topk_pandas(assigned, k, block="cell_id")
    return topk.select(
        "query_id",
        F.col("cell_id").cast("bigint").alias("cell_id"),
        "neighbor_id",
        "dot_q",
        "rank",
    )


def quantized_topk(emb: DataFrame, k: int = 3) -> DataFrame:
    """Oracle-exact variant: rank by integer quantized dot product."""
    base = emb.select("vec_id", "label", quantized("embedding", 10000).alias("_q"))
    a = base.select(F.col("vec_id").alias("query_id"), F.col("label").alias("_bl"), F.col("_q").alias("_qa"))
    b = base.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_bl"), F.col("_q").alias("_qb"))
    pairs = a.join(b, ["_bl"]).filter(F.col("query_id") != F.col("neighbor_id"))
    pairs = pairs.withColumn("dot_q", qdot("_qa", "_qb"))
    w = Window.partitionBy("query_id").orderBy(F.col("dot_q").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot_q", F.col("rn").cast("bigint").alias("rank"))
    )


def lsh_hyperplane_coefs(tables: int = 4, bits: int = 4, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix for sign-random-projection LSH
    (Charikar SimHash for cosine): coefficient (t, i) is +1 iff the low bit
    of md5(f"{t}|{i}") is 0. md5 agrees across Python/Spark/DuckDB, so both
    the engine and the oracle bake the SAME literal matrix — the sketch is
    reproducible anywhere, no RNG state to ship."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{t}|{i}".encode()).hexdigest()[:15], 16) % 2 == 0 else -1
            for i in range(dim)
        ]
        for t in range(tables * bits)
    ]


def lsh_neardup(emb: DataFrame) -> DataFrame:
    """Content-based ANN near-dup: multi-table hyperplane LSH buckets as
    candidate generation, exact quantized cosine as verification.

    Unlike the label-blocked quantized_neardup, the blocking key here is
    derived from the VECTOR itself — the true 100 TB shape when no label
    exists: 4 independent 6-bit sign sketches, a pair collides if it
    agrees on ALL 6 bits of ANY table (collision prob (1-θ/π)^6 per table).
    Bucket fan-out is bounded by 2^6 per table; candidates are verified
    with the exact integer-math cosine (cos_pct >= 30) before emit, so
    false positives cost only the verification dot product. All
    integer/single-IEEE-op math — oracle-exact.
    """
    buckets = lsh_buckets(emb)
    # a pair may collide in several tables; emit once
    return _blocked_cos_pairs(buckets, 30, block="_bucket").distinct()


def lsh_buckets(
    emb: DataFrame,
    *,
    tables: int = 4,
    bits: int = 6,
    scale: int = 1000,
    dim: int = 64,
) -> DataFrame:
    """Tag every vector with its per-table sign-sketch bucket id (one row
    per (vector, table) after the explode). Shared by lsh_neardup (which
    verifies candidates) and lsh_candidate_pairs (which doesn't)."""
    import numpy as np

    coefs = lsh_hyperplane_coefs(tables, bits, dim)
    base = emb.select("vec_id", quantized("embedding", scale).alias("_q"))
    key_t = base.schema["vec_id"].dataType.simpleString()
    # r14 (guide §4.2): the tables·bits sign sketches were per-row
    # zip_with/aggregate folds — higher-order lambdas run interpreted
    # outside codegen, ~6M lambda invocations at sf0.1. One int64 matmul
    # per Arrow batch against the closure-shipped (tables·bits × dim)
    # hyperplane matrix computes the identical integer dots (sign ⟺
    # >= 0, same '1'/'0' string assembly, same per-table explode), and
    # _n2 is the same exact int64 self-dot.
    H = np.array(coefs, dtype=np.int64)

    def _tag(batches, H=H, tables=tables, bits=bits):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["_q"].to_numpy()).astype(np.int64)
            ids = pdf["vec_id"].to_numpy()
            n = len(pdf)
            S = Q @ H.T  # (n, tables·bits), exact int64
            sbits = np.where(S >= 0, "1", "0")
            bucket_strs = [
                [
                    f"{tb}|" + "".join(sbits[i, tb * bits:(tb + 1) * bits])
                    for tb in range(tables)
                ]
                for i in range(n)
            ]
            n2 = (Q * Q).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, tables),
                    "_q": [list(q) for q in Q for _ in range(tables)],
                    "_n2": np.repeat(n2, tables),
                    "_bucket": [b for row in bucket_strs for b in row],
                }
            )

    return base.mapInPandas(
        _tag, f"vec_id {key_t}, _q array<bigint>, _n2 bigint, _bucket string"
    )


def lsh_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Raw bucket-collision pairs (doc_a < doc_b), NO cosine verification —
    the candidate-generation surface whose recall sim_lsh_recall audits.
    Bucket equi-join, fan-out bounded by per-bucket occupancy."""
    buckets = lsh_buckets(emb)
    a = buckets.select(F.col("vec_id").alias("doc_a"), F.col("_bucket").alias("_ba"))
    b = buckets.select(F.col("vec_id").alias("doc_b"), F.col("_bucket").alias("_bb"))
    return (
        a.join(b, (F.col("_ba") == F.col("_bb")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _blocked_cos_pairs(blocks: DataFrame, threshold_pct: int, *, block: str) -> DataFrame:
    """Within-block cosine-threshold pairs via ONE int64 matmul per block
    (applyInPandas), not a per-pair zip_with fold: each candidate pair's
    dot is a cell of the block's gram matrix, and fold lambdas are not
    codegen'd — measured 2.1× end-to-end on sim_lsh (1.75 s vs 3.7 s at
    sf0.1) with bit-identical output (int64 dot; float64 sqrt/div/floor
    are single IEEE ops numpy and the JVM both round correctly).

    `blocks` must carry (vec_id, _q, _n2, block); emits (doc_a < doc_b,
    cos_pct) within each block.
    """
    import numpy as np
    import pandas as pd

    thr = threshold_pct

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cos_pct": []}).astype("int64")
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)  # triu ⇒ doc_a < doc_b
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        Q = np.vstack(pdf["_q"].to_numpy())
        n2 = pdf["_n2"].to_numpy(dtype=np.int64)
        G = Q @ Q.T  # int64, exact
        P = np.floor(100.0 * G / np.sqrt((n2[:, None] * n2[None, :]).astype(np.float64)))
        iu, ju = np.triu_indices(n, 1)
        keep = (G[iu, ju] > 0) & (P[iu, ju] >= thr)
        return pd.DataFrame(
            {
                "doc_a": ids[iu[keep]],
                "doc_b": ids[ju[keep]],
                "cos_pct": P[iu[keep], ju[keep]].astype(np.int64),
            }
        )

    return blocks.groupBy(block).applyInPandas(
        _verify, "doc_a bigint, doc_b bigint, cos_pct bigint"
    )


# Bound on a caller-supplied model (kmeans_fit / load_centroids output):
# the model is driver state like any fitted quantizer, so a million-row
# "centroid" table handed to ivf_topk or kmeans_assign would silently OOM
# the driver. √n-sized models at any realistic corpus stay far under this
# (√(10^9) ≈ 32k).
_MAX_CENTROID_ROWS = 262144


def _model_rows(model: DataFrame):
    """A caller's (cell_id, _ce) model as (cell ids, k × dim int64 matrix),
    cell_id-ascending: one collect, bounded by _MAX_CENTROID_ROWS."""
    cids, C = _probe_rows(
        model.select("cell_id", F.col("_ce").alias("_q")), "cell_id", _MAX_CENTROID_ROWS + 1
    )
    if len(C) > _MAX_CENTROID_ROWS:
        raise ValueError(
            f"centroid table exceeds {_MAX_CENTROID_ROWS} rows; a quantizer "
            "this large is no longer driver state — reduce n_centroids "
            "(√n is the intended scale) or use a distributed join"
        )
    return cids, C


def _nearest_row():
    """The one nearest-row rule, as a closure that ships to executors by
    value: ``nearest(X, C, l2)`` → for each row of X the index of its
    nearest row of C, argmax(s·(X@Cᵀ) − b) — the largest dot (s = 1,
    b = 0) or, with ``l2``, s = 2 and b = |c|², which orders rows as the
    smallest |x − c|² does. Exact int64; the first maximum → the lowest
    index on ties, the oracles' order."""
    import numpy as np

    def nearest(X, C, l2):
        s, b = (2, (C * C).sum(axis=1)) if l2 else (1, 0)
        return np.argmax(s * (X @ C.T) - b, axis=1)

    return nearest


def _assign_cells(q_: DataFrame, key: str, cids, C, l2: bool) -> DataFrame:
    """Map-side nearest-cell assignment of a quantized (key, _q) frame to
    the k-row model (cell ids ``cids``, matrix ``C``) → (key, cell_id, _q):
    one mapInPandas, the model in the task closure, one int64 matmul per
    Arrow batch (``_nearest_row``, dot or ``l2``). The key keeps its input
    type (string doc ids work)."""
    import numpy as np

    nearest = _nearest_row()

    def _assign(batches):
        for pdf in batches:
            out = pdf[[key]].copy()
            out["cell_id"] = cids[nearest(np.vstack(pdf["_q"].to_numpy()), C, l2)]
            out["_q"] = pdf["_q"]
            yield out

    key_t = q_.schema[key].dataType.simpleString()
    return q_.mapInPandas(_assign, f"{key} {key_t}, cell_id bigint, _q array<bigint>")


def _lloyd(q_: DataFrame, m: int, k: int, iters: int):
    """Lloyd's k-means in each of m subspaces of a quantized (vec_id, _q)
    frame → m × k × dsub int64 codebooks; k-means is m = 1. Init = the k
    lowest-key vectors' subvectors (cell/code id = key order); each round
    gives every subvector its nearest codeword (``_nearest_row``, L2; ties
    → lowest id) and moves each codeword to the per-dimension floor-mean
    of its subvectors; a codeword no subvector chose keeps its value. A
    fixed round count keeps the plan static and the oracle replicable.

    A corpus of at most _LOCAL_SOLVER_THRESHOLD rows (``_solver_rows``)
    runs every round on the driver; a larger one takes its init from a
    k-row probe collect and runs each round as one corpus pass whose
    partitions reduce to per-codeword sums and counts, merged on the
    driver (m·k·dsub ints a partition, never a vector). Both paths call
    the same ``sums``, so they are bit-equal."""
    import numpy as np

    corpus = _solver_rows(q_, "vec_id")
    X = corpus[1] if corpus is not None else _probe_rows(q_, "vec_id", k)[1]
    cb = _pq_split(X[:k], m)
    nearest = _nearest_row()

    def sums(X, cb):
        sub = X.reshape(len(X), m, -1)
        S, N = np.zeros_like(cb), np.zeros(cb.shape[:2], np.int64)
        for j in range(m):
            a = nearest(sub[:, j], cb[j], True)
            np.add.at(S[j], a, sub[:, j])
            N[j] = np.bincount(a, minlength=len(cb[j]))
        return S, N

    for _ in range(iters):
        if corpus is not None:
            S, N = sums(X, cb)
        else:

            def _partial(batches, cb=cb):
                import pandas as pd

                S, N = np.zeros_like(cb), np.zeros(cb.shape[:2], np.int64)
                for pdf in batches:
                    if len(pdf):
                        s, n = sums(np.vstack(pdf["_q"].to_numpy()), cb)
                        S, N = S + s, N + n
                yield pd.DataFrame({"s": [S.ravel().tolist()], "n": [N.ravel().tolist()]})

            parts = q_.mapInPandas(_partial, "s array<bigint>, n array<bigint>").collect()
            S = np.sum([r["s"] for r in parts], axis=0).reshape(cb.shape)
            N = np.sum([r["n"] for r in parts], axis=0).reshape(cb.shape[:2])
        cb = np.where(N[..., None] > 0, S // np.maximum(N, 1)[..., None], cb)
    return cb


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Fit deterministic Lloyd's k-means; returns the FITTED MODEL as a
    k-row driver-local table (cell_id bigint, _ce array<bigint>) —
    persistable via save_centroids/load_centroids so repeated ANN queries
    skip the fit (the warehouse's continuous-rollup story applied to model
    state).

    Engine-portable by construction (_lloyd with one subspace): init = the
    k lowest-key vectors (cell_id 0..k-1 in key order); assignment = the
    nearest centroid by integer L2 (ties → lowest cell); update =
    per-dimension floor(sum/count) keeping centroids integer; an empty
    cell keeps its centroid. The k·dim model stays on the driver between
    rounds; each round is at most one corpus pass."""
    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    C = _lloyd(q_, 1, k, iters)[0]
    return local_table(
        emb.sparkSession,
        [{"cell_id": c, "_ce": row.tolist()} for c, row in enumerate(C)],
        "cell_id bigint, _ce array<bigint>",
    )


def save_centroids(cents: DataFrame, path: str) -> None:
    """Persist a fitted centroid table (cell_id, _ce) — k rows of bigint
    arrays, an exact parquet round-trip (no floats to perturb)."""
    cents.write.mode("overwrite").parquet(path)


def load_centroids(spark, path: str) -> DataFrame:
    """Load a centroid table written by save_centroids."""
    return spark.read.parquet(path)


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 3,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its k-means cell → (vec_id, cell_id): the
    real coarse quantizer for IVF ANN (ivf_topk's seeded centroids upgrade
    to this output). The fitted model goes straight from _lloyd into the
    nearest-cell pass (_assign_cells, L2).

    ``centroids``: a previously fitted (cell_id, _ce) table (from
    kmeans_fit / load_centroids) — assignment then skips the fit entirely
    and is a single map-side pass; k/iters are ignored. Bit-equal to the
    refit path for the same model by construction (same assignment
    kernel — proven in tests/test_llm_ops.py)."""
    import numpy as np

    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    if centroids is not None:
        cells = _model_rows(centroids)
    else:
        C = _lloyd(q_, 1, k, iters)[0]
        cells = (np.arange(len(C)), C)
    assigned = _assign_cells(q_, "vec_id", *cells, True)
    return assigned.select("vec_id", F.col("cell_id").cast("bigint").alias("cell_id"))


# ---------------------------------------------------------------------
# Fixed-probe search: every kernel from here on ranks the corpus against
# the n lowest-key quantized vectors (the probes), through three helpers
# (see the module docstring). Product quantization (PQ) is the
# memory-bound ANN path. IVF bounds which vectors a query scans; PQ bounds
# the BYTES per scanned vector — m codes (one byte each at k<=256) replace
# the full float vector, and search runs against per-query lookup tables
# (ADC, Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"). At 100 TB the corpus holds codes only; full vectors stay in
# cold storage for optional re-ranking.
# ---------------------------------------------------------------------


def _probe_rows(q_: DataFrame, key: str, n: int):
    """The n lowest-key rows of a quantized (key, _q) frame as (ids,
    n × dim int64 matrix): one bounded driver collect. A builder calls it
    once, for the longest prefix it needs (codewords, coarse cells,
    probes), and slices that. The ordered limit is a TakeOrdered, which
    sends up to n rows from EVERY partition to the driver, so n is a
    model's or a probe set's size, never a corpus bound."""
    return _as_matrix(q_.select(key, "_q").orderBy(key).limit(n).collect(), key)


def _solver_rows(q_: DataFrame, key: str):
    """The whole quantized (key, _q) corpus as (ids, matrix) in key order
    when it has at most _LOCAL_SOLVER_THRESHOLD rows, else None. One
    unordered limit collect (a CollectLimit, which stops scanning
    partitions once it holds threshold + 1 rows), sorted on the driver."""
    rows = q_.select(key, "_q").limit(_LOCAL_SOLVER_THRESHOLD + 1).collect()
    if len(rows) > _LOCAL_SOLVER_THRESHOLD:
        return None
    return _as_matrix(sorted(rows, key=lambda r: r[key]), key)


def _as_matrix(rows, key: str):
    """Collected (key, _q) rows as (ids, int64 matrix)."""
    import numpy as np

    return (
        np.array([r[key] for r in rows]),
        np.array([r["_q"] for r in rows], dtype=np.int64),
    )


def _pq_split(C, m: int):
    """Deterministic codebooks from k codeword rows (the sim_ivf
    quantizer-init discipline, no RNG): an m × k × dsub int64 array, code
    id 0..k-1 in row order; m = 1 is a k-means model."""
    import numpy as np

    if C.ndim != 2:
        raise ValueError("a codebook needs at least one vector")
    if C.shape[1] % m:
        raise ValueError(f"dim {C.shape[1]} not divisible by m={m} subspaces")
    return np.stack(np.split(C, m, axis=1))


def _pq_quantizer(cb):
    """The PQ lookup-table builder and encoder for codebooks ``cb``
    (m × k × dsub), as closures that ship to executors by value.

    ``tables(X)``: squared L2 from each row's m subvectors to its
    subspace's k codewords, an n × m × k int64 array — for a probe, its
    ADC lookup tables. ``encode(X)``: (codes n × m, squared quantization
    error n), the per-subspace argmin of those tables; ties → lowest code
    id (np.argmin takes the first minimum — the oracle's (distance,
    code_id) order)."""
    import numpy as np

    m, _, dsub = cb.shape

    def tables(X):
        sub = X.reshape(len(X), m, dsub)
        return np.stack(
            [((sub[:, j, None, :] - cb[j][None]) ** 2).sum(axis=2) for j in range(m)],
            axis=1,
        )

    def encode(X):
        T = tables(X)
        codes = T.argmin(axis=2)
        return codes, np.take_along_axis(T, codes[:, :, None], axis=2).sum(axis=(1, 2))

    return tables, encode


def _pq_code_frame(q_: DataFrame, key: str, cb, cells) -> DataFrame:
    """The one PQ encode pass over a quantized (key, _q) frame: a
    mapInPandas → (key, [cell_id,] code_0..code_{m-1}, qerr), codebooks
    closure-shipped (m·k·dsub ints). ``cells`` is None or (cell ids, cell
    matrix); then every row also gets its coarse IVF cell, the argmax
    integer dot (first maximum → lowest cell)."""
    import numpy as np

    m = len(cb)
    _, encode = _pq_quantizer(cb)
    nearest = _nearest_row()

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.vstack(pdf["_q"].to_numpy())
            out = pdf[[key]].copy()
            if cells is not None:
                out["cell_id"] = cells[0][nearest(Q, cells[1], False)]
            codes, qerr = encode(Q)
            for j in range(m):
                out[f"code_{j}"] = codes[:, j]
            out["qerr"] = qerr
            yield out

    key_t = q_.schema[key].dataType.simpleString()
    cell = f", cell_id {key_t}" if cells is not None else ""
    codes = "".join(f", code_{j} bigint" for j in range(m))
    return q_.mapInPandas(_enc, f"{key} {key_t}{cell}{codes}, qerr bigint")


def _probe_topk(corpus, key, qids, score, metrics, k, exclude_self, carry):
    """Two-phase exact top-k of a fixed probe set in ONE corpus scan (the
    REPOSE shape: a local top-k per partition, then one global merge).

    Per Arrow batch ``score(pdf)`` returns one probes × rows int64 matrix
    per ``metrics`` entry (score column, rank column, descending); the
    probes ride its closure. With ``exclude_self`` a probe's own row is
    DROPPED from its candidates, never masked with a sentinel, so it can
    never pad a short list (the oracles' vec_id != query_id). Each batch
    keeps, per probe, the union of every metric's k best rows under the
    total (score, key) order (np.lexsort), so at most batches·probes·k
    rows per metric leave the scan, never corpus × probes; one row_number
    window per metric ranks them (ties → lowest key), and a row survives
    when any of its ranks is <= k. Returns (query_id, key, scores...,
    carry..., ranks...) with query_id, key and carry in their input types.
    """
    import numpy as np

    def _scan(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[key].to_numpy()
            S = score(pdf)
            picks = []
            for qi, qid in enumerate(qids):
                cand = np.flatnonzero(ids != qid) if exclude_self else np.arange(len(ids))
                picks.append(np.unique(np.concatenate([
                    cand[np.lexsort((ids[cand], -s[qi, cand] if desc else s[qi, cand]))[:k]]
                    for s, (_, _, desc) in zip(S, metrics)
                ])))
            qi = np.repeat(np.arange(len(qids)), [len(p) for p in picks])
            ix = np.concatenate([np.empty(0, np.int64), *picks])
            out = {"query_id": qids[qi], key: ids[ix]}
            out.update({name: s[qi, ix] for s, (name, _, _) in zip(S, metrics)})
            out.update({c: pdf[c].to_numpy()[ix] for c in carry})
            yield pd.DataFrame(out)

    types = dict(corpus.dtypes)
    ddl = ", ".join(
        [f"query_id {types[key]}", f"{key} {types[key]}"]
        + [f"{name} bigint" for name, _, _ in metrics]
        + [f"{c} {types[c]}" for c in carry]
    )
    ranked = corpus.mapInPandas(_scan, ddl)
    for name, rank, desc in metrics:
        order = F.col(name).desc() if desc else F.col(name).asc()
        w = Window.partitionBy("query_id").orderBy(order, F.col(key).asc())
        ranked = ranked.withColumn(rank, F.row_number().over(w))
    return ranked.filter(reduce(operator.or_, [F.col(r) <= k for _, r, _ in metrics]))


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
):
    """Lloyd-refine the PQ codebooks per subspace (the k-means step of
    Jégou et al. 2011 §II; _lloyd with m subspaces): init = the k
    lowest-key subvectors, then each iteration (a) assigns every
    subvector to its nearest integer-L2 codeword and (b) recomputes each
    codeword as the per-dimension floor-mean of its assigned subvectors
    (empty codewords keep their previous value). Returns the refined
    codebooks as a list of m (k × dsub) int64 arrays, passable to
    pq_codes via ``codebooks=``.

    Scale shape: a corpus over _LOCAL_SOLVER_THRESHOLD rows runs each
    iteration as ONE corpus pass whose partitions reduce to per-(subspace,
    code) sums and counts before the wire — m·k·dsub ints of model state
    per partition, merged on the driver. Exact integer math; the catalog
    keys keep the un-refined deterministic init so their DuckDB twins
    stay replicable — pq_fit is the quality lever a production index
    build runs first."""
    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    return list(_lloyd(q_, m, k, iters))


def pq_codes(emb: DataFrame, key: str = "vec_id", codebooks=None) -> DataFrame:
    """PQ-encode every vector: (key, code_0..code_3, qerr) over 4
    subspaces of 8 codewords each, in one encode pass (_pq_code_frame).
    qerr is the total squared quantization error, the compression-quality
    number a recall-vs-memory decision reads. ``codebooks`` (e.g. from
    pq_fit) overrides the deterministic init, the 8 lowest-key vectors'
    subvectors; exact integer math throughout."""
    import numpy as np

    q_ = emb.select(key, quantized("embedding", 1000).alias("_q"))
    if codebooks is None:
        cb = _pq_split(_probe_rows(q_, key, 8)[1], 4)
    else:
        cb = np.asarray(codebooks, dtype=np.int64)
    return _pq_code_frame(q_, key, cb, None)


def pq_adc_topk(
    emb: DataFrame,
    n_queries: int = 5,
    topk: int = 3,
    key: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the n_queries
    lowest-key vectors probe the encoded corpus (pq_codes' deterministic
    codebooks); distance(query, doc) = Σ_j LUT_j[code_j] where LUT_j[c] =
    ‖query_sub_j − codeword_c‖² — the query is never quantized, only the
    corpus is. One collect serves codebooks and probes.

    Scale shape: the corpus-side pass reads CODES ONLY (m bigints per
    row here; m bytes in a packed layout) and computes distances by
    table lookup — no per-pair vector math — inside the two-phase top-k
    scan (_probe_topk). Exact integer math; ties → lowest key; the probe
    may rank itself."""
    import numpy as np

    q_ = emb.select(key, quantized("embedding", 1000).alias("_q"))
    ids, P = _probe_rows(q_, key, max(8, n_queries))
    cb = _pq_split(P[:8], 4)
    tables, _ = _pq_quantizer(cb)
    lut = tables(P[:n_queries])  # queries × m × k
    cols = [f"code_{j}" for j in range(len(cb))]

    def _adc(pdf):
        codes = pdf[cols].to_numpy(dtype=np.int64)  # n × m
        return (lut[:, np.arange(len(cols)), codes].sum(axis=2),)

    top = _probe_topk(
        pq_codes(emb, key, cb), key, ids[:n_queries], _adc,
        (("adc", "rank", False),), topk, False, (),
    )
    return top.select("query_id", "rank", key, "adc")


def semantic_dedup(emb: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-space
    near-duplicate removal. Vectors cluster into √n cells (argmax
    integer dot vs the √n lowest-key seed vectors — the sim_ivf_scaled
    discipline), then only WITHIN-cell pairs are tested for cosine ≥
    95%; the higher id of each duplicate pair is removable.
    Returns per-cell stats: (cell_id, n_vecs, n_pairs, n_dup_pairs,
    n_removed).

    Scale shape: clustering makes the pair space n·√n instead of n²
    (the SemDeDup design point — at 100 TB cells are further capped so
    a cell always fits one task, exactly as this kernel assumes). The
    within-cell stage is ONE applyInPandas per cell: a single numpy
    Gram matmul scores every pair and the task emits just the 1-row
    per-cell stats — the O(n_c²) pair rows are never materialized,
    never shuffled (the earlier cell-keyed self-join shape measured
    13.5 s at sf1; this reads 3.1 s). The cosine test is all-integer:
    dot > 0 AND dot²·10⁴ ≥ thr²·‖a‖²·‖b‖² with scale=100 quantization,
    so every product fits int64 (dot ≤ 64·10⁴ → dot²·10⁴ ≤ 4.1e15) and
    the oracle twins bit-exactly — no float cosine anywhere."""
    import numpy as np

    import math

    q_ = emb.select("vec_id", quantized("embedding", 100).alias("_q"))
    n_centroids = max(8, math.isqrt(q_.count()))
    assigned = _assign_cells(q_, "vec_id", *_probe_rows(q_, "vec_id", n_centroids), False)
    thr2 = 95 * 95

    def _cell_stats(pdf):
        # thr2 bound by closure, NOT a default arg: a second parameter
        # makes applyInPandas pass (grouping_key, pdf) instead of pdf
        import pandas as pd

        pdf = pdf.sort_values("vec_id")  # a<b by id == upper triangle
        X = np.vstack(pdf["_q"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        cell = pdf["cell_id"].iloc[0]
        if n < 2:
            return pd.DataFrame(
                {"cell_id": [cell], "n_vecs": [n], "n_pairs": [0],
                 "n_dup_pairs": [0], "n_removed": [0]}
            )
        n2 = (X * X).sum(axis=1)
        D = X @ X.T  # int64 Gram, exact
        iu = np.triu_indices(n, 1)
        d = D[iu]
        dup = (d > 0) & (d * d * 10000 >= thr2 * n2[iu[0]] * n2[iu[1]])
        removed = np.unique(iu[1][dup])  # higher-id member of each pair
        return pd.DataFrame(
            {"cell_id": [cell], "n_vecs": [n], "n_pairs": [len(d)],
             "n_dup_pairs": [int(dup.sum())], "n_removed": [len(removed)]}
        )

    return assigned.groupBy("cell_id").applyInPandas(
        _cell_stats,
        "cell_id bigint, n_vecs bigint, n_pairs bigint, "
        "n_dup_pairs bigint, n_removed bigint",
    )


def exact_l2_topk(
    emb: DataFrame, n_queries: int = 5, scale: int = 1000, exclude_self: bool = False
) -> DataFrame:
    """Exact integer-L2 top-3 for a FIXED probe set: the ground truth an
    ANN index (ivf_pq_topk / pq_adc_topk) is evaluated against — the
    n_queries lowest-key vectors in one two-phase scan (_probe_topk),
    linear in n for fixed q. All-integer; ties → lowest key. With
    ``exclude_self`` a probe's own row is not a candidate (for comparing
    against indexes that exclude self, e.g. sim_hamming_topk)."""
    q_ = emb.select("vec_id", quantized("embedding", scale).alias("_q"))
    return _exact_l2(q_, *_probe_rows(q_, "vec_id", n_queries), exclude_self)


def _exact_l2(q_: DataFrame, qids, Qm, exclude_self: bool) -> DataFrame:
    """exact_l2_topk over probes already on the driver."""
    import numpy as np

    def _d2(pdf):
        # d²[q, i] = |x_i|² − 2 q·x_i + |q|²; exact int64
        X = np.vstack(pdf["_q"].to_numpy())
        return (
            (X * X).sum(axis=1)[None, :] - 2 * (Qm @ X.T) + (Qm * Qm).sum(axis=1)[:, None],
        )

    top = _probe_topk(q_, "vec_id", qids, _d2, (("d2", "rank", False),), 3, exclude_self, ())
    return top.select("query_id", F.col("rank").cast("bigint").alias("rank"), "vec_id", "d2")


def query_sample_dot_topk(emb: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """Exact max-dot top-5 of the 50 lowest-key queries vs the full
    corpus in ONE two-phase scan (_probe_topk) — the similarity twin of
    exact_l2_topk, self excluded, ties → lowest vec_id. ``carry`` columns
    (e.g. a label) ride along per neighbor row."""
    import numpy as np

    q_ = emb.select("vec_id", *carry, quantized("embedding", 100).alias("_q"))
    qids, Qm = _probe_rows(q_, "vec_id", 50)
    top = _probe_topk(
        q_, "vec_id", qids, lambda pdf: (Qm @ np.vstack(pdf["_q"].to_numpy()).T,),
        (("dot", "rank", True),), 5, True, carry,
    )
    return top.select(
        "query_id", F.col("rank").cast("bigint").alias("rank"), "vec_id", "dot", *carry
    )


def _ivf_pq_scored(q_: DataFrame, ids, P, ncells: int, k: int, n_queries: int, nprobe: int):
    """The IVF-PQ scoring both IVF-PQ kernels share, from the probe prefix
    (ids, P) of the quantized corpus q_: cells = the ncells lowest-key
    vectors, PQ codebooks = 4 subspaces of the k lowest-key subvectors,
    probes = the n_queries lowest-key vectors. One encode pass
    (_pq_code_frame with cells) gives every row its cell and codes; each
    probe's nprobe best cells by (dot DESC, cell_id ASC) become rows of a
    driver-built probe table (query_id, cell_id, pr = the cell's probe
    rank, l0..l3 = the probe's lookup tables; a LocalTableScan), which
    broadcasts into an equi-join on cell_id; adc is a sum of element_at
    lookups — whole-stage-codegen Column math, no python after encode.
    Returns (query_id, vec_id, cell_id, pr, adc)."""
    import numpy as np

    cb = _pq_split(P[:k], 4)
    cids, C = ids[:ncells], P[:ncells]
    enc = _pq_code_frame(q_, "vec_id", cb, (cids, C))
    tables, _ = _pq_quantizer(cb)
    luts = tables(P[:n_queries])
    cells = cids.tolist()
    probe_rows = [
        {"query_id": qid, "cell_id": cells[ci], "pr": pr}
        | {f"l{j}": luts[qi, j].tolist() for j in range(len(cb))}
        for qi, qid in enumerate(ids[:n_queries].tolist())
        for pr, ci in enumerate(np.lexsort((cids, -(C @ P[qi])))[:nprobe], start=1)
    ]
    key_t = q_.schema["vec_id"].dataType.simpleString()
    lut_cols = "".join(f", l{j} array<bigint>" for j in range(len(cb)))
    probes = local_table(
        q_.sparkSession, probe_rows, f"query_id {key_t}, cell_id {key_t}, pr bigint{lut_cols}"
    )
    adc = reduce(
        operator.add,
        [F.element_at(f"l{j}", F.col(f"code_{j}").cast("int") + 1) for j in range(len(cb))],
    )
    return enc.join(F.broadcast(probes), "cell_id").select(
        "query_id", "vec_id", "cell_id", "pr", adc.cast("bigint").alias("adc")
    )


def ivf_pq_topk(emb: DataFrame) -> DataFrame:
    """IVF-PQ top-3: the composed production ANN index. IVF routes (each
    of the 5 lowest-key queries probes its 2 best of 8 coarse cells), PQ
    compresses (the scan inside probed cells reads codes only, distances
    by ADC lookup) — together they bound BOTH how many rows a query
    touches and how many bytes per row, which is the whole 100 TB ANN
    story. The 2-probe case of _ivf_pq_scored, from one 8-row probe
    collect; ties everywhere break to the lowest id; all-integer →
    oracle-exact.
    """
    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    scored = _ivf_pq_scored(q_, *_probe_rows(q_, "vec_id", 8), 8, 8, 5, 2)
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "vec_id", "cell_id", "adc")
    )


def kcenter_greedy(emb: DataFrame, k: int = 8, vec: str = "embedding") -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez 1985;
    Sener & Savarese ICLR 2018 use exactly this traversal to pick
    maximally-diverse training subsets): seed at the lowest key, then
    k-1 rounds each adding the point FARTHEST (exact integer L2 squared
    on the floor(x*10000) grid, ties to the lowest key) from the set
    chosen so far.

    Scale: one corpus scan per round via mapInPandas — the <=k x dim
    int64 center matrix rides the task closure, each Arrow batch reduces
    to ONE candidate row (the batch-local argmax of the min-distance to
    the centers), and the global argmax is a TakeOrdered over the
    per-batch survivors; driver state is k rows by construction (the
    sim_kmeans discipline). The quantized corpus is localCheckpoint-ed
    once so the k-1 scans skip re-reading parquet and re-quantizing.

    Returns k rows (step, vec_id, dist2) as a driver-local table: the
    selection order and the selected point's exact min-L2-squared
    coverage radius at selection time (step 1 is the seed, dist2 0).
    """
    import numpy as np

    q_ = emb.select("vec_id", quantized(vec, 10000).alias("_q"))
    key_t = q_.schema["vec_id"].dataType.simpleString()
    # Small-corpus fast path (the union-find discipline from
    # operators/dedup.py): the greedy loop is inherently sequential —
    # k-1 round-trips of one job each — so when the quantized corpus is
    # bounded (_solver_rows: at most threshold+1 rows on the driver,
    # ~35 MB at 64 dims) the identical integer greedy runs in numpy.
    # Exact same argmax/tie rules, so the output is bit-identical; above
    # the threshold the seed is a one-row probe and the distributed scan
    # loop below runs. An empty corpus has no seed: IndexError at ids[0].
    corpus = _solver_rows(q_, "vec_id")
    if corpus is None:
        q_ = q_.localCheckpoint()
    ids, X = corpus or _probe_rows(q_, "vec_id", 1)
    picks = [(1, ids[0].item(), 0)]
    if corpus is not None:
        mind2 = ((X - X[0]) ** 2).sum(axis=1)
        for step in range(2, k + 1):
            j = int(np.lexsort((ids, -mind2))[0])
            picks.append((step, ids[j].item(), int(mind2[j])))
            mind2 = np.minimum(mind2, ((X - X[j]) ** 2).sum(axis=1))
    else:
        centers = X[:1]
        for step in range(2, k + 1):

            def _scan(batches, C=centers):
                import pandas as pd

                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.vstack(pdf["_q"].to_numpy()).astype(np.int64)
                    ids = pdf["vec_id"].to_numpy()
                    # exact int64: |x-c|^2 <= dim * (2*10000)^2 ~ 2.6e10
                    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1)
                    j = int(np.lexsort((ids, -d2))[0])
                    yield pd.DataFrame(
                        {"vec_id": [ids[j]], "_d2": [int(d2[j])], "_q": [list(X[j])]}
                    )

            cand = q_.mapInPandas(_scan, f"vec_id {key_t}, _d2 bigint, _q array<bigint>")
            best = cand.orderBy(F.col("_d2").desc(), F.col("vec_id").asc()).limit(1).collect()[0]
            centers = np.vstack([centers, np.array(best["_q"], dtype=np.int64)])
            picks.append((step, best["vec_id"], int(best["_d2"])))
    return local_table(
        emb.sparkSession,
        [dict(zip(("step", "vec_id", "dist2"), p)) for p in picks],
        f"step bigint, vec_id {key_t}, dist2 bigint",
    )


def mmr_rerank(
    emb: DataFrame,
    n_queries: int = 5,
    pool: int = 10,
    k: int = 5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) of each query's dot-product top-`pool` candidates: greedily
    select `k` results maximizing relevance minus the max similarity to
    anything already selected (λ = 1/2, so the argmax reduces to
    rel − max_sim — exact integer arithmetic throughout).

    Plan shape: the candidate pools are the exact dot top-`pool` of the
    n_queries lowest-key probes, self excluded, from one two-phase scan
    (_probe_topk) that carries each candidate's vector; the greedy loop
    then runs per query in ONE applyInPandas group of `pool` rows —
    pairwise dots are a pool×pool int64 matmul, driver never sees a
    corpus vector. Deterministic: ties break on ascending id (np.lexsort,
    same as the oracle's (score DESC, id) ordering).
    """
    import numpy as np
    import pandas as pd

    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    key_t = q_.schema["vec_id"].dataType.simpleString()
    qids, Qm = _probe_rows(q_, "vec_id", n_queries)
    top = _probe_topk(
        q_, "vec_id", qids, lambda pdf: (Qm @ np.vstack(pdf["_q"].to_numpy()).T,),
        (("_rel", "_rn", True),), pool, True, ("_q",),
    ).select("query_id", "vec_id", "_q", "_rel")

    kk_rounds = k

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        k = kk_rounds
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["_rel"].to_numpy(dtype=np.int64)
        C = np.vstack(pdf["_q"].to_numpy())
        P = C @ C.T  # pool×pool int64, exact
        n = len(pdf)
        chosen: list[int] = []
        rounds, out_ids, scores = [], [], []
        for r in range(1, min(k, n) + 1):
            if chosen:
                pen = P[:, chosen].max(axis=1)
                s = rel - pen
            else:
                s = rel.copy()
            s_mask = s.copy()
            # min+1, not min: lexsort keys on -s_mask and -int64.min
            # overflows back to the minimum
            s_mask[chosen] = np.iinfo(np.int64).min + 1
            j = int(np.lexsort((ids, -s_mask))[0])
            chosen.append(j)
            rounds.append(r)
            out_ids.append(ids[j])
            scores.append(int(s[j]))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "round": np.array(rounds, dtype=np.int64),
                "vec_id": out_ids,
                "mmr_score": np.array(scores, dtype=np.int64),
            }
        )

    return top.groupBy("query_id").applyInPandas(
        _greedy,
        f"query_id {key_t}, round bigint, vec_id {key_t}, mmr_score bigint",
    )


def dual_retriever_pools(
    emb: DataFrame,
    n_queries: int = 5,
    pool: int = 10,
) -> DataFrame:
    """Dense-dot AND sign-Hamming candidate pools from ONE corpus scan —
    the hybrid-retrieval feeder (sim_rrf_fusion): one two-phase scan
    (_probe_topk) scores both metrics per Arrow batch, one int64 matmul
    for the dots and one for the Hamming counts (h = |b| + |q| − 2·B@Qᵀ
    on the sign matrices — exactly bit_count(xor) of packed words), self
    excluded; a survivor row carries both scores, so the two rank windows
    read the same survivors and the corpus is scanned once. Signs come
    from the quantized ints (floor(x·s) ≥ 0 ⟺ x ≥ 0 for s > 0, so they
    equal the raw float sign test bit-exactly). Returns (query_id,
    vec_id, ra, rb): each row's rank in the dense and the binary pool,
    NULL where it is not in that retriever's top-`pool`.
    """
    import numpy as np

    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    qids, Qm = _probe_rows(q_, "vec_id", n_queries)
    QB = (Qm >= 0).astype(np.int64)

    def _dot_hamming(pdf):
        X = np.vstack(pdf["_q"].to_numpy())
        B = (X >= 0).astype(np.int64)
        return Qm @ X.T, QB.sum(axis=1)[:, None] + B.sum(axis=1)[None, :] - 2 * (QB @ B.T)

    top = _probe_topk(
        q_, "vec_id", qids, _dot_hamming,
        (("_dot", "ra", True), ("_ham", "rb", False)), pool, True, (),
    )
    return top.select(
        "query_id",
        "vec_id",
        *(F.when(F.col(r) <= pool, F.col(r).cast("bigint")).alias(r) for r in ("ra", "rb")),
    )


def ivf_pq_nprobe_sweep(
    emb: DataFrame,
    nprobes: tuple[int, ...] = (1, 2, 4),
    ncells: int = 8,
    n_queries: int = 5,
    k: int = 8,
) -> DataFrame:
    """Recall-vs-nprobe sweep for the IVF-PQ index — the tuning curve an
    ANN deployment reads before fixing nprobe (the speed/recall dial):
    ONE probe collect, ONE IVF-PQ scoring (_ivf_pq_scored, probing the
    max(nprobes) best cells), then every requested nprobe is a filter on
    the probed cell's rank over that shared scored table (a broadcast
    spine — never a re-encode, never a rescan per configuration), each
    ranked top-3 and scored against the exact integer-L2 ground truth
    for the same probe rows. Returns (nprobe, query_id, n_exact, n_hits,
    recall_ppm)."""
    q_ = emb.select("vec_id", quantized("embedding", 1000).alias("_q"))
    ids, P = _probe_rows(q_, "vec_id", max(ncells, k, n_queries))
    scored = _ivf_pq_scored(q_, ids, P, ncells, k, n_queries, max(nprobes))
    spine = emb.sparkSession.range(1).select(
        F.explode(
            F.expr(
                "array("
                + ", ".join(f"CAST({n} AS BIGINT)" for n in nprobes)
                + ")"
            )
        ).alias("nprobe")
    )
    cand = scored.crossJoin(F.broadcast(spine)).filter(F.col("pr") <= F.col("nprobe"))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    approx = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("nprobe", "query_id", F.col("vec_id").alias("a_vec"))
    )
    ex = _exact_l2(q_, ids[:n_queries], P[:n_queries], False).select("query_id", "vec_id")
    exn = ex.crossJoin(F.broadcast(spine))
    jj2 = exn.join(
        approx,
        (exn.query_id == approx.query_id)
        & (exn.nprobe == approx.nprobe)
        & (exn.vec_id == approx.a_vec),
        "left",
    ).select(exn.nprobe, exn.query_id, exn.vec_id, approx.a_vec)
    return jj2.groupBy("nprobe", "query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.expr(
            "CAST(SUM(CASE WHEN a_vec IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_hits"),
        F.expr(
            "CAST(1000000 * SUM(CASE WHEN a_vec IS NOT NULL THEN 1 ELSE 0 END)"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("recall_ppm"),
    )
