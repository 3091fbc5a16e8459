"""Deduplication operators — exact and near-dup (MinHash LSH, SimHash).

Reference analog: varda's checksum duplicate-import guard (A7, SHA1 over
file content [P]); extended per the north star to document-level dedup for
training-data pipelines.

Scale design:
- exact dedup: hash → window keep-first. One shuffle on the digest; at
  100 TB the digest groupBy is near-uniform (no skew).
- MinHash LSH: shingle → k signatures → band buckets → candidate pairs by
  bucket equi-join. Fan-out is bounded by band count; NEVER a cross join.
  Signatures use md5 (available in both Spark and DuckDB, so the pure-DF
  variant is oracle-checkable; a production swap to xxhash64 is one line).
- SimHash: per-token md5 bit-vote → 64-bit fingerprint; near-dups =
  fingerprints within Hamming distance d, found by band equi-join on
  16-bit chunks (d<=3 guarantees one identical chunk of 4).
- clustering: connected_components, one algorithm — a counted driver-side
  union-find for graphs up to _LOCAL_THRESHOLD edges, large-star/small-star
  edge rewriting above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from varda_spark.operators.text import tokens


def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep the lowest-``doc_id`` document per exact (md5-normalized) text.

    Window keep-first rather than dropDuplicates so the SURVIVOR is
    deterministic (dropDuplicates keeps an arbitrary row).
    """
    h = F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))
    w = Window.partitionBy("_h").orderBy(F.col("doc_id"))
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def shingles(df: DataFrame, n: int = 3, out: str = "shingle") -> DataFrame:
    """Explode n-word shingles of the ``text`` token stream.

    Documents shorter than n tokens yield NO shingles (empty array, not
    a truncated one) — matching the oracle's stop-exclusive range
    semantics. The explicit CASE matters: sequence(1, 0) DESCENDS in
    Spark, which would both fabricate rows and trip ANSI element_at
    out-of-bounds on short documents.

    The input is REPARTITIONED to 2×cores first: the tokenize+explode
    multiplies each doc into ~len(w) rows, so its CPU otherwise runs at
    the parquet FILE-COUNT's parallelism (8 tasks at sf5 — the
    dedup_substring_spans lesson; dedup_minhash 45.6→18 s,
    text_ngram_novelty 93.6→39 s at sf5). The repartition ships only
    the raw (doc_id, text) bytes, two orders of magnitude less than the
    shingle stream it unlocks parallelism for.
    """
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2)
    df = df.withColumn("_w", tokens("text"))
    parts = ", ".join(f"element_at(_w, i + {j})" for j in range(n))
    return df.withColumn(
        out,
        F.explode(
            F.expr(
                f"CASE WHEN size(_w) >= {n}"
                f" THEN transform(sequence(1, size(_w) - {n - 1}),"
                f" i -> concat_ws(' ', {parts}))"
                f" ELSE array() END"
            )
        ),
    ).drop("_w")


def minhash_signatures(df: DataFrame, shingle_df: DataFrame | None = None) -> DataFrame:
    """Per-doc MinHash signature over 3-word shingles: sig_i = MIN(md5(i
    || shingle)).

    Lexicographic MIN over fixed-width lowercase hex == numeric MIN over
    the hash value, and md5 agrees across engines → oracle-exact.
    Output: doc_id + sig_0..sig_7 (strings).

    ``shingle_df`` lets a caller that already materialized the (doc_id,
    shingle) stream (e.g. for an exact-Jaccard verify stage) share it:
    MIN is duplicate-insensitive, so a DISTINCT shingle set yields the
    identical signature as the raw stream.
    """
    # Deliberately explode + groupBy, NOT array_min(transform(...)) per
    # signature: higher-order-function lambdas are evaluated outside
    # whole-stage codegen and projection collapse re-inlines the shingle
    # array into every signature column — measured 7× SLOWER (18.7 s vs
    # 2.6 s at sf0.1). The explode stream never hits the wire anyway:
    # partial aggregation reduces map-side, so the shuffle carries one
    # 8-signature row per doc.
    sh = shingle_df if shingle_df is not None else shingles(df.select("doc_id", "text"), n=3)
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i) + "|"), F.col("shingle")).cast("binary"))).alias(f"sig_{i}")
        for i in range(8)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_candidates(df: DataFrame, shingle_df: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of the MinHash signature.

    The 8 signatures form 4 bands of 2 rows; docs agreeing on ALL rows of
    ≥1 band become a candidate pair (a < b). Bucket equi-join per band — the scale
    path: shuffle keys are (band_id, band_value), bounded fan-out.
    ``shingle_df``: optional pre-materialized (doc_id, shingle) stream —
    see minhash_signatures.

    The signature table is localCheckpoint'ed before the bucket
    self-join (r15, the simhash_pairs fix): the planner broadcast-joins
    the banded stream at bench scale, and a broadcast build side cannot
    reuse the probe side's plan — the ENTIRE shingle-explode +
    8-min-md5 signature DAG was evaluated twice (dedup_minhash plan:
    Generate×4 = both sides re-exploding). Checkpointing sigs (one
    narrow row per doc) computes it once; the band concat + explode
    above the checkpoint is trivial per side. DAG-replay control inside
    the timed query, not cross-run caching.
    """
    sigs = minhash_signatures(df, shingle_df=shingle_df).localCheckpoint(eager=False)
    band_cols = [
        F.concat_ws("|", F.lit(str(b)), *[F.col(f"sig_{b * 2 + r}") for r in range(2)]).alias(
            f"band_{b}"
        )
        for b in range(4)
    ]
    banded = sigs.select(F.col("doc_id"), *band_cols)
    stacked = banded.select(
        F.col("doc_id"),
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(4)])).alias("bucket"),
    )
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash(df: DataFrame) -> DataFrame:
    """64-bit SimHash fingerprint of ``text`` from per-token md5 bit votes:
    (doc_id, simhash).

    bit_j(doc) = 1 iff more tokens hash with bit j set than unset. Pure
    Column math: per token take md5 → first 16 hex chars → bigint via
    conv(); per bit aggregate the vote sign.

    (r14 note: a fan_out repartition before the token explode was tried
    and measured NEGATIVE here — 2.8 s → 3.2-3.7 s at sf0.1 — because the
    extra exchange defeats exchange reuse in simhash_pairs' downstream
    self-join; the vote stage itself is only ~1.1 s. Left alone.)
    """
    tok = df.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10).cast("bigint")
    tok = tok.withColumn("_h", h)
    # branch-free votes: sum the raw bit per token plus one total count;
    # "more set than unset" ⟺ 2·set_count > n. Same fingerprint as the
    # ±1-vote formulation, ~40% less per-token work in codegen.
    votes = [
        F.sum(F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(1))).alias(f"v{j}")
        for j in range(60)
    ]
    agg = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *votes)
    # balanced add-tree, not a left-deep sum(): Catalyst walks a depth-60
    # Add chain per rule pass and the analysis alone cost ~0.5 s per run
    # (measured r14: 1.69 s → 1.18 s for this stage). Reassociating
    # integer adds of distinct powers of two is value-identical.
    terms = [
        F.when(F.col(f"v{j}") * 2 > F.col("_n"), F.lit(1 << j))
        .otherwise(F.lit(0))
        .cast("bigint")
        for j in range(60)
    ]
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return agg.select(F.col("doc_id"), terms[0].alias("simhash"))


def simhash_pairs(df: DataFrame, max_hamming: int = 10) -> DataFrame:
    """SimHash near-dup candidate pairs by chunk banding + exact Hamming.

    The 60-bit fingerprint splits into 4×15-bit chunks; by pigeonhole any
    pair within Hamming distance 3 shares ≥1 identical chunk, so the
    equi-join on (chunk_id, chunk_value) finds them with bounded fan-out
    (the scale path — never an all-pairs join). Surviving candidates get
    their exact distance via bit_count(xor) and a ≤ max_hamming filter.

    The fingerprint table is localCheckpoint'ed before the self-join
    (r15, guide §2.4/§5): the planner broadcast-joins the chunk band at
    bench scale, and a broadcast build side cannot reuse the probe
    side's exchange — the ENTIRE scan→token-explode→61-agg fingerprint
    DAG was evaluated twice (r14 plan nodes 1–10 and 11–21 were
    identical subtrees). Checkpointing fp computes it once; both join
    sides then read executor-local blocks. This is DAG-replay control
    inside the timed query, not cross-run caching; the materialized
    blocks live until the DataFrame is GC'd (fine for a query-shaped
    call; long-lived reuse should unpersist).
    """
    fp = simhash(df).localCheckpoint(eager=False)
    mask = (1 << 15) - 1
    stacked = fp.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.concat_ws(
                    ":",
                    F.lit(str(c)),
                    F.shiftright(F.col("simhash"), c * 15).bitwiseAND(F.lit(mask)).cast("string"),
                )
                for c in range(4)
            ])
        ).alias("chunk"),
    )
    a = stacked.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "chunk")
    b = stacked.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "chunk")
    return (
        a.join(b, ["chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard(df: DataFrame, candidate_pairs: DataFrame | None = None) -> DataFrame:
    """Exact 3-word-shingle-set Jaccard per candidate pair.

    candidate_pairs=None → candidates are all pairs sharing ≥1 shingle
    (inverted-index self-join: fan-out bounded by shingle frequency, the
    classic n-gram-Jaccard shape). Otherwise runs AFTER LSH blocking as a
    verification stage. Outputs integer intersection/union sizes plus
    jaccard_pct (bigint, oracle-exact).

    The distinct shingle stream feeds THREE consumers (sizes + both
    join sides); localCheckpoint materializes the tokenize/explode/
    distinct once (r15, the dedup_pipeline_v2 dsh precedent) instead of
    re-deriving it per consumer — exchange reuse does not cover
    consumers across a join tree, and a broadcast build side replays
    the full DAG.
    """
    sh = (
        shingles(df.select("doc_id", "text"), n=3)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("n_sh"))
    if candidate_pairs is None:
        a_ = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b_ = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            a_.join(b_, ["shingle"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        a = sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingle", "sh_a")
        b = sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingle", "sh_b")
        inter = (
            candidate_pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .filter(F.col("sh_a") == F.col("sh_b"))  # pushed into the join cond
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn("jaccard_pct", F.floor(F.col("n_inter") * 100 / F.col("n_union")).cast("bigint"))
    )
    return out.select("doc_a", "doc_b", "n_inter", "n_union", "jaccard_pct")


# Edge count up to which connected_components labels the graph with a
# driver-side union-find; a hard bound on the rows collected to the driver.
_LOCAL_THRESHOLD = 200_000
# Star rounds before connected_components gives up; the alternation
# converges in O(log n) rounds.
_MAX_ITER = 20


def _union_find_local(uv: list) -> list:
    """Driver-side union-find over an already-bounded edge list.

    Union by MIN so every root label IS the component minimum — the same
    output contract as the distributed loop. The small-graph fast path of
    connected_components; the caller must have COUNTED the edges against
    a threshold before collecting."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in uv:
        ra, rb = find(u), find(v)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    verts = {u for u, _ in uv} | {v for _, v in uv}
    return [(x, find(x)) for x in verts]


def connected_components(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b) → cluster assignment: (id, comp) with
    comp = the minimum doc id reachable through the pair graph. The
    canonical survivor of each cluster is the row with id == comp;
    everything else is a removable duplicate.

    Small-graph fast path: LSH candidate PAIRS are orders of magnitude
    sparser than the corpus (banding only emits near-certain duplicates),
    so the pair list routinely fits on the driver even when the corpus
    does not. When the materialized edge count is ≤ _LOCAL_THRESHOLD
    (≈ a few MB), a driver-side union-find labels the graph in one pass —
    no per-round shuffle joins, no driver/executor round-trips per
    iteration. The threshold is a hard driver-memory bound, counted
    BEFORE collecting; above it (100 TB corpora can emit billions of
    pairs) the distributed rounds below run.

    Distributed path: LARGE-STAR / SMALL-STAR alternation (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"). Every round rewrites
    EDGES instead of labels, so a hub's fan-out shrinks geometrically
    rather than re-shuffling through one key each round.
    large-star: every neighbor v > u re-attaches to m(u) = min(N(u)∪{u});
    small-star: every neighbor v < u (plus u itself) re-attaches to m(u).
    At the fixpoint edges form disjoint stars rooted at each component's
    minimum id. Each phase is one grouped min + one join on canonicalized
    (u < v) distinct edges, with localCheckpoint per round to cut lineage.
    Raises if _MAX_ITER rounds did not reach a fixpoint — a
    silently-partial clustering must never ship.

    Why stars and not min-label propagation with pointer jumping: stars
    needs few rounds whatever the order of ids along a path. On a chain of
    20 hubs with its minimum id at the far end, and on a sparse random
    graph (30k edges over 40k ids), label propagation needed 23 and 25
    rounds and took 195 s to over 240 s on local[2]; stars needed 7 and
    took 21–23 s. On shallow graphs label propagation was 1.2–2× faster
    (CHANGES.md). Rounds must stay few: each round's checkpoint keeps the
    size estimate of the plan it came from and the joins multiply it, so
    past about 16 rounds the driver's time per round doubles.
    """
    # One materialization of the expensive candidate/verify DAG feeding
    # `pairs` (LSH + verify): every later scan — the threshold collect,
    # the edge canonicalization, the vertex set — reads executor-local
    # blocks instead of replaying it.
    P = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).localCheckpoint()
    # bounded decision + fetch in ONE cheap job (never more than
    # threshold+1 rows on the driver)
    rows = P.limit(_LOCAL_THRESHOLD + 1).collect()
    if len(rows) <= _LOCAL_THRESHOLD:
        # raw pairs: union-find ignores duplicates/orientation, keeps
        # self-loop-only vertices as singletons, and derives the vertex
        # set itself — identical (id, comp) output with zero further
        # Spark jobs.
        out = _union_find_local([(r.u, r.v) for r in rows])
        return P.sparkSession.createDataFrame(
            out,
            schema=P.select(F.col("u").alias("id"), F.col("u").alias("comp")).schema,
        )
    E = (
        P.filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    verts = (
        P.select(F.col("u").alias("id"))
        .union(P.select(F.col("v").alias("id")))
        .distinct()
    )

    def _sym(edges: DataFrame) -> DataFrame:
        return edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _mins(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))

    for _ in range(_MAX_ITER):
        sym = _sym(E)
        # large-star: (v, m(u)) for v ∈ N(u), v > u  — result is canonical
        # (m ≤ u < v) by construction
        e_ls = (
            sym.filter(F.col("v") > F.col("u"))
            .join(_mins(sym), "u")
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: (v, m(u)) for v ∈ N(u) with v < u, plus u itself
        sym2 = _sym(e_ls)
        smaller = sym2.filter(F.col("v") < F.col("u"))
        self_rows = sym2.select("u").distinct().withColumn("v", F.col("u"))
        e_ss = (
            smaller.union(self_rows)
            .join(_mins(sym2), "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        same = (
            e_ss.count() == E.count()
            and e_ss.exceptAll(E).limit(1).count() == 0
        )
        E = e_ss
        if same:
            star = E.select(F.col("v").alias("id"), F.col("u").alias("comp"))
            return verts.join(star, "id", "left").select(
                "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
            )
    raise RuntimeError(
        f"connected_components did not converge in {_MAX_ITER} rounds; the "
        f"star alternation converges in O(log n) rounds — raise _MAX_ITER"
    )


def shingle_containment(df: DataFrame) -> DataFrame:
    """Directed 3-word-shingle containment |A∩B| / |A| ≥ 40% per pair — the
    asymmetric companion to Jaccard: catches a short doc EMBEDDED in a long
    one (quote farms, boilerplate wrappers, concatenated dumps), where
    Jaccard is diluted by the long side's size and misses.

    Same inverted-index join as ngram_jaccard (fan-out bounded by shingle
    frequency, never all-pairs); emits BOTH directions of a pair since
    containment(A,B) ≠ containment(B,A). Integer percent → oracle-exact.

    Same localCheckpoint discipline as ngram_jaccard: the distinct
    shingle stream feeds sizes + both join sides — materialize once.
    """
    sh = (
        shingles(df.select("doc_id", "text"), n=3)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("n_sh"))
    a_ = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b_ = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a_.join(b_, ["shingle"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = inter.join(
        sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a"
    ).withColumn(
        "containment_pct", F.floor(F.col("n_inter") * 100 / F.col("n_a")).cast("bigint")
    )
    return out.filter(F.col("containment_pct") >= 40).select(
        "doc_a", "doc_b", F.col("n_inter").cast("bigint").alias("n_inter"), "containment_pct"
    )

