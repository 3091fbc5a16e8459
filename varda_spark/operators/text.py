"""Text-analysis operators for large-scale training-data pipelines.

Not in the reference (varda has no text surface); mandated by the north
star (BASELINE.json). All pure Column expressions over the `documents`
table — tokenization, n-grams, quality scoring, language-ID heuristic,
rolling-hash fingerprinting. At 100 TB these run in whole-stage codegen
per-partition with no shuffle until the final aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_SPLIT = r"\s+"

# tiny marker-token lists for the language-ID heuristic; deterministic and
# oracle-expressible (CASE WHEN in SQL). Real deployments plug in fastText —
# the operator contract (text -> lang_pred, score) stays the same.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
    "de": ["der", "und", "die"],
    "zh": ["de", "shi", "le"],
}


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), TOKEN_SPLIT)


def with_token_stats(df: DataFrame) -> DataFrame:
    """n_tokens, n_chars, avg token length, distinct-token ratio."""
    t = tokens("text")
    return (
        df.withColumn("n_tokens", F.size(t).cast("bigint"))
        .withColumn("n_chars_m", F.length(F.col("text")).cast("bigint"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(t)).cast("bigint"))
    )


def quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality scoring: length, repetition, all-caps/punct ratios.

    The score is a deterministic integer 0..100 so oracle hashing is exact:
    start at 100, subtract penalties.
    """
    t = tokens("text")
    n = F.size(t)
    # floor, not cast: double→bigint cast truncates in Spark but rounds in
    # DuckDB — floor() agrees everywhere
    distinct_ratio_pct = F.floor(F.size(F.array_distinct(t)) * 100 / F.greatest(n, F.lit(1)))
    len_penalty = F.when(n < 5, F.lit(40)).when(n < 20, F.lit(10)).otherwise(F.lit(0))
    rep_penalty = F.when(distinct_ratio_pct < 30, F.lit(30)).when(distinct_ratio_pct < 60, F.lit(10)).otherwise(F.lit(0))
    return df.withColumn(
        "quality", (F.lit(100) - len_penalty - rep_penalty).cast("bigint")
    ).withColumn("distinct_ratio_pct", distinct_ratio_pct)


def ngrams(df: DataFrame, n: int = 2, out: str = "ngram") -> DataFrame:
    """Explode word n-grams (1-indexed element_at; codegen-friendly).

    Docs with fewer than n words yield ZERO grams (row drops at the
    explode), matching DuckDB's empty range(). The size(_w) >= n gate is
    load-bearing: without it sequence(1, size-n+1) for size < n is a
    DESCENDING sequence ending at <= 0 and element_at(_w, 0) raises
    unconditionally in Spark — a short doc would crash one engine and
    not the other (ADVICE r12)."""
    df = df.withColumn("_w", tokens("text"))
    parts = ", ".join(f"element_at(_w, i + {j})" for j in range(n))
    df = df.withColumn(
        out,
        F.explode(
            F.expr(
                f"CASE WHEN size(_w) >= {n} THEN "
                f"transform(sequence(1, size(_w) - {n - 1}), i -> concat_ws(' ', {parts})) "
                f"ELSE array() END"
            )
        ),
    )
    return df.drop("_w")


def language_id(df: DataFrame) -> DataFrame:
    """Marker-token language heuristic → lang_pred + marker hit count.

    Scores each candidate language by how many of its marker tokens occur;
    ties break by fixed language order. Pure Column expr (no UDF).
    """
    t = tokens("text")
    scores = []
    for lang, markers in LANG_MARKERS.items():
        score = sum(
            (F.array_contains(t, m).cast("int") for m in markers), start=F.lit(0)
        )
        scores.append((lang, score))
    # winner = first language (fixed order → deterministic ties) whose
    # score equals the max, provided any marker hit at all
    gsc = F.greatest(*[s for _, s in scores])
    best = F.lit("unknown")
    for lang, score in reversed(scores):
        best = F.when((score == gsc) & (gsc > 0), F.lit(lang)).otherwise(best)
    return df.withColumn("lang_pred", best).withColumn("lang_score", gsc.cast("bigint"))


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint ``fp``: md5 of the normalized token stream.

    (Rolling/winnowed hashes are in dedup.py's shingle machinery; this is
    the whole-document content address, reference A7 checksum shape.)
    """
    norm = F.concat_ws(" ", tokens("text"))
    return df.withColumn("fp", F.md5(F.lower(norm).cast("binary")))


BPE_ISH_PATTERN = r"[a-z0-9]+|[^a-z0-9\s]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Sub-word-style tokenization: word runs + individual punctuation
    marks (the BPE-pretokenizer shape; a real BPE merges from here).
    Engine-portable regex — verified char-identical DuckDB/Spark."""
    c = F.col(text) if isinstance(text, str) else text
    # Spark's SQL parser consumes one level of backslash escaping in the
    # string literal, so \s must be written \\s in the expr text
    pat = BPE_ISH_PATTERN.replace("\\", "\\\\")
    return F.expr(f"regexp_extract_all(lower({c._jc.toString()}), '{pat}', 0)")


def countmin_cells(df: DataFrame) -> DataFrame:
    """Count-Min sketch increments (4 rows × 64 columns) for a batch of
    documents: one (row, col) cell hit per (token occurrence, hash row).
    md5-derived column index — deterministic across engines, runs, partitionings, so
    sketches built anywhere merge consistently (the merge is a plain
    groupBy-sum over (row, col); see catalog.agg_countmin for the batch
    aggregate and streaming tests for the foreachBatch-merged twin)."""
    tok = df.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
    return tok.select(
        F.explode(F.array(*[F.lit(r) for r in range(4)])).alias("row"), "tok"
    ).select(
        "row",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.col("row").cast("string"), F.lit("|"), F.col("tok")).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 64
        ).alias("col"),
    )


# URL canonicalization (dedup_url_canon): the two emitters below build the
# SAME seven-step normalization for Spark (Java regex, $-backrefs, global
# replace by default) and DuckDB (RE2, \-backrefs, needs the explicit 'g'
# flag). Keeping them side by side is the parity contract: a step added to
# one that is missing from the other is a bug by construction.
_URL_STEPS = [
    # (pattern, spark_replacement, duck_replacement)
    (r"#.*$", "", ""),                                  # fragment
    (r"^([A-Za-z]+)://", "https://", "https://"),       # scheme fold
    (r"^(https://)[Ww][Ww][Ww]\.", "$1", r"\1"),        # www strip
    (r"^(https://[^/:?#]+):(80|443)(/|\?|$)", "$1$3", r"\1\3"),  # default port
    (r"&utm_[a-z]+=[^&#]*", "", ""),                    # non-leading utm
    (r"\?utm_[a-z]+=[^&#]*&", "?", "?"),                # leading utm, more follow
    (r"\?utm_[a-z]+=[^&#]*$", "", ""),                  # query was only utm
    (r"/\?$|\?$|/$", "", ""),                           # trailing / and dangling ?
]


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a raw URL: scheme+host lowercased, `www.` and
    default ports stripped, `utm_*` params removed (any position),
    fragment cut, trailing `/` / dangling `?` normalized. Pure codegen
    string ops — no UDF."""
    c = F.col(url) if isinstance(url, str) else url
    for pat, rep, _ in _URL_STEPS:
        c = F.regexp_replace(c, pat, rep)
    host = F.lower(F.regexp_extract(c, r"^https://([^/?#]+)", 1))
    tail = F.regexp_extract(c, r"^https://[^/?#]+(.*)$", 1)
    return F.concat(F.lit("https://"), host, F.coalesce(tail, F.lit("")))


def canonical_url_duckdb(expr: str) -> str:
    """The identical normalization as a DuckDB SQL expression string (for
    oracle twins)."""
    c = expr
    for pat, _, rep in _URL_STEPS:
        # DuckDB standard '...' strings do NOT process backslash escapes:
        # a regex backslash goes in as ONE backslash (doubling it would
        # make RE2 match a literal backslash). Only quotes need escaping.
        pat_sql = pat.replace("'", "''")
        c = f"regexp_replace({c}, '{pat_sql}', '{rep}', 'g')"
    return (
        f"'https://' || lower(regexp_extract({c}, '^https://([^/?#]+)', 1))"
        f" || COALESCE(regexp_extract({c}, '^https://[^/?#]+(.*)$', 1), '')"
    )
