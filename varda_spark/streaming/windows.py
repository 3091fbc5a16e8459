"""Streaming operators: batch-first cores + Structured Streaming wrappers.

The reference has zero streaming (Celery batch imports only [P]); this
surface is mandated by the north star for the events table. Design rule
(SURVEY.md §2.I): every operator is a pure DF→DF *batch core* — that is
what the DuckDB oracle checks — plus a thin wrapper that applies the same
core to a ``readStream`` source with watermarking. Batch/stream equivalence
is pytest-verified on sf0.001.

Scale notes: tumbling/sliding aggs are partial-aggregated map-side before
the shuffle on (window, key). Watermarks bound state: 10 min on event time.

The one wrapper with its own core is the session window: streaming uses
Spark's native ``session_window`` (state-store backed, merging sessions
as events arrive), batch a gaps-and-islands window function that numbers
each user's sessions. The two differ by design (the stream has no session
number to emit), so their test compares session counts and totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def tumbling_counts(ev: DataFrame) -> DataFrame:
    """I1 1-hour tumbling window per event_type: count + exact value sum."""
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).cast("bigint").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(ev: DataFrame) -> DataFrame:
    """I2 1-hour window sliding by 15 minutes per event_type (each event in
    4 windows)."""
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("win.start")).cast("bigint").alias("win_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows_batch(ev: DataFrame) -> DataFrame:
    """I3 session windows, batch core: gaps-and-islands per user.

    A new session starts when the gap to the previous event exceeds
    30 minutes. Output one row per session: start/end epoch-micros,
    event count, exact value sum.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = 30 * 60 * 1_000_000
    marked = (
        ev.withColumn("_t", F.unix_micros("ts"))
        .withColumn("_prev", F.lag("_t").over(w))
        .withColumn(
            "_new", F.when(F.col("_prev").isNull() | (F.col("_t") - F.col("_prev") > gap_us), 1).otherwise(0)
        )
        .withColumn("session_seq", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        marked.groupBy("user_id", "session_seq")
        .agg(
            F.min("_t").alias("session_start_us"),
            F.max("_t").alias("session_end_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "session_start_us",
            "session_end_us",
            "n_events",
            "sum_value",
        )
    )


def watermark_tumbling_batch(ev: DataFrame, delay_minutes: int = 10) -> DataFrame:
    """I4 batch core of watermarked tumbling agg: events older than
    (global max event time - delay) are "late" and dropped, mirroring the
    final state of the streaming query once the watermark has advanced to
    the end of input. Deterministic → oracle-checkable."""
    horizon = ev.agg(F.max(F.unix_micros("ts")).alias("_mx"))
    kept = (
        ev.withColumn("_t", F.unix_micros("ts"))
        .crossJoin(F.broadcast(horizon))
        .filter(F.col("_t") >= F.col("_mx") - delay_minutes * 60 * 1_000_000)
    )
    return tumbling_counts(kept.drop("_t", "_mx"))


# ---------------------------------------------------------------------
# Structured Streaming wrappers (file source; exercised in tests)
# ---------------------------------------------------------------------

def read_events_stream(spark, path: str, schema) -> DataFrame:
    """File-source stream over parquet events (one-file-per-trigger)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def tumbling_counts_stream(ev_stream: DataFrame) -> DataFrame:
    """I1+I4: the same tumbling core under a 10-minute watermark (late data
    bounded)."""
    return tumbling_counts(ev_stream.withWatermark("ts", "10 minutes"))


def session_windows_stream(ev_stream: DataFrame) -> DataFrame:
    """I3 streaming path: native 30-minute session_window (state-store
    backed) under a 10-minute watermark."""
    return (
        ev_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def running_user_totals_stream(ev_stream: DataFrame, timeout_minutes: int | None = None) -> DataFrame:
    """I5+ custom stateful operator via applyInPandasWithState: per-user
    running event count + value sum, emitted on every micro-batch update.

    The state store holds one (count, sum) pair per user — O(active
    users), not O(events). Pass ``timeout_minutes`` in production to evict
    idle users and bound state growth; note ProcessingTimeTimeout keeps
    the query triggering even without new data (by design — timeouts must
    fire), so tests that drain with processAllAvailable use the default
    NoTimeout.
    Batch equivalence: groupBy(user_id).agg(count, sum) — pytest-checked.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, s double"
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if timeout_minutes else GroupStateTimeout.NoTimeout
    )

    def update(key, pdfs, state: GroupState):
        if timeout_minutes and state.hasTimedOut:
            state.remove()
            return
        n, s = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if timeout_minutes:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(s, 4)]})

    return ev_stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout
    )


def ewma_stream(ev_stream: DataFrame) -> DataFrame:
    """I5+ second custom stateful operator via applyInPandasWithState:
    per-user streaming EWMA matching the batch win_ewma key exactly
    (α = ½, depth 8, integer taps).

    The state store holds the last 7 quantized values per user
    — O(active users · depth) regardless of stream length, the bounded
    state a 100 TB stream requires. Quantization to 1e-4 BIGINT happens
    in a Column BEFORE the stateful map (identical expression to the
    batch key), so the pandas side is pure integer arithmetic: no float
    drift between batch and stream. Events are processed in (ts,
    event_id) order within each micro-batch; cross-batch order is the
    file source's arrival order, as for every streaming operator here.
    Batch equivalence is pytest-checked against catalog.win_ewma.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = "event_id bigint, user_id bigint, num bigint, den bigint, ewma double"
    state_schema = "vals array<bigint>"

    def update(key, pdfs, state: GroupState):
        vals: list[int] = list(state.get[0]) if state.exists else []
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        out = {"event_id": [], "user_id": [], "num": [], "den": [], "ewma": []}
        for ev_id, xq in zip(pdf["event_id"], pdf["xq"]):
            window = vals[-7:] + [int(xq)]
            num = 0
            den = 0
            # newest gets weight 2^(depth-1), each step back halves
            for age, v in enumerate(reversed(window)):
                w = 1 << (7 - age)
                num += int(v) * w
                den += w
            out["event_id"].append(int(ev_id))
            out["user_id"].append(int(key[0]))
            out["num"].append(num)
            out["den"].append(den)
            out["ewma"].append(num / den / 10000.0)
            vals = window
        state.update((vals[-7:],))
        yield pd.DataFrame(out)

    quantized = ev_stream.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)").alias("xq"),
    )
    return quantized.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def _purchase_view_join(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """I5 join core: each purchase joined to every view by the same user
    within the preceding 60 minutes."""
    p = purchases.select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
    v = views.select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    cond = (
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES"))
    )
    return p.join(v, cond).select(
        "user_id",
        "purchase_id",
        F.unix_micros("p_ts").alias("p_ts_us"),
        "view_id",
        F.unix_micros("v_ts").alias("v_ts_us"),
    )


def purchase_view_join_batch(ev: DataFrame) -> DataFrame:
    """I5 stream-stream join, batch core: the join core over one events
    frame split by event type.

    The streaming twin (purchase_view_join_stream) is the same join under
    watermarks; the time bound is what lets Spark expire join state —
    an unbounded stream-stream join would hold both streams forever.
    """
    return _purchase_view_join(
        ev.filter(F.col("event_type") == "purchase"), ev.filter(F.col("event_type") == "view")
    )


def purchase_view_join_stream(purchases: DataFrame, views: DataFrame) -> DataFrame:
    """I5 streaming twin: the join core over two streams under 10-minute
    watermarks."""
    return _purchase_view_join(
        purchases.withWatermark("ts", "10 minutes"), views.withWatermark("ts", "10 minutes")
    )


def enrich_counts(ev: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment (I+): join events against a broadcast
    customer dimension and count per (c_mktsegment, event_type). The SAME code
    serves batch and streaming — Structured Streaming supports inner
    stream-static joins natively; the static side is re-broadcast per
    micro-batch, so dimension updates between batches are picked up. At
    100 TB of stream the join is map-side (no shuffle on the stream);
    the only shuffle is the final aggregate."""
    joined = ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )


def cascade_radius_stream(query_stream: DataFrame, corpus: DataFrame) -> DataFrame:
    """I5+/K3 streaming retrieval cascade (catalog stream_cascade runs it
    on a static query batch).

    ``query_stream`` is a stream of sign-encoded queries (vec_id, w1, w2,
    e_q — operators/similarity.py::sign_words64); ``corpus`` is the STATIC
    encoded table. Stage 1 is a stream-static non-equi inner join on the
    Hamming radius-26 predicate (a radius test is stateless and therefore
    streaming-legal where a per-query top-k window is not); stage 2 scores
    radius survivors with the exact quantized dot; the reduction is a plain
    streaming aggregation (COUNT + MAX over the (dot, −vec, hamming)
    struct) — run the sink in update/complete mode. Per micro-batch the
    static corpus is re-scanned reading 8 sign-bytes per vector and the
    query micro-batch rides the join — no shuffle lands on the corpus."""
    qs = query_stream.select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
        F.col("e_q").alias("qe"),
    )
    cand = (
        qs.join(
            corpus,
            (F.col("vec_id") != F.col("query_id"))
            & (
                F.expr("bit_count(w1 ^ q1) + bit_count(w2 ^ q2)")
                <= F.lit(26)
            ),
        )
        .withColumn(
            "hamming",
            F.expr("CAST(bit_count(w1 ^ q1) + bit_count(w2 ^ q2) AS BIGINT)"),
        )
        .select(
            "query_id",
            "vec_id",
            "hamming",
            F.expr(
                "CAST(aggregate(zip_with(e_q, qe, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
            ).alias("dot_q"),
        )
    )
    agg = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.max(
            F.struct(
                F.col("dot_q").alias("d"),
                (-F.col("vec_id")).alias("nv"),
                F.col("hamming").alias("h"),
            )
        ).alias("m"),
    )
    return agg.select(
        "query_id",
        "n_cand",
        (-F.col("m.nv")).cast("bigint").alias("top_vec"),
        F.col("m.d").cast("bigint").alias("top_dot"),
        F.col("m.h").cast("bigint").alias("top_ham"),
    )


def idempotent_rollup_sink(keys: list[str], vals: dict[str, str], out_dir: str):
    """Exactly-once foreachBatch sink for a sum-mergeable rollup.

    The non-negotiable rule of foreachBatch: the body re-runs with the SAME
    batch_id after a crash, so the write must be IDEMPOTENT per batch_id —
    a read-merge-overwrite of one rollup table double-counts every replayed
    row. Here each micro-batch writes its partial aggregate to its own
    ``batch_id=N`` subdirectory with mode=overwrite: a replay overwrites
    the identical partial (same files, same content — file sources replay
    the same offsets range), so crash + restart can neither duplicate nor
    drop a batch. ``read_rollup`` merges the partials on read; a periodic
    compaction can fold old partials into a base without changing results
    (merge is associative/commutative).

    At 100 TB this is the streaming-warehouse commit protocol in miniature:
    offsets live in the checkpoint, data commits are idempotent by
    batch_id, and the reader sees max-once per batch. vals maps column →
    spark agg ('sum'/'count').
    """

    def _sink(batch_df, batch_id: int) -> None:
        aggs = [
            (F.count(F.lit(1)) if how == "count" else F.sum(c)).cast("bigint").alias(c)
            for c, how in vals.items()
        ]
        partial = batch_df.groupBy(*keys).agg(*aggs)
        partial.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return _sink


def read_rollup(spark, rollup_dir: str, keys: list[str], val_cols: list[str]) -> DataFrame:
    """Merge the per-batch partials written by idempotent_rollup_sink."""
    parts = spark.read.option("basePath", rollup_dir).parquet(f"{rollup_dir}/batch_id=*")
    return parts.groupBy(*keys).agg(
        *[F.sum(c).cast("bigint").alias(c) for c in val_cols]
    )


def arena_leaderboard(battles: DataFrame) -> DataFrame:
    """Per-model arena leaderboard from (a, b, winner) battle rows —
    works identically on a BATCH DataFrame and a STREAMING one (the
    stream_arena_leaderboard catalog key runs it on the batch fixture;
    tests/test_streaming.py proves readStream equivalence under
    availableNow with the complete-mode sink).

    Streaming-legal by construction: one stateless explode (each battle
    contributes one row per contestant) and one grouped aggregation of
    commutative counters, so micro-batch arrival order cannot change the
    board and state is O(models). win_ppm is the bounded truncating
    quotient (≤ 1e6 — BIGINT-safe at any battle volume).
    """
    sides = battles.select(
        F.explode(F.array(F.col("a"), F.col("b"))).alias("model"), "winner"
    )
    return sides.groupBy(F.col("model").alias("model_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("battles"),
        F.sum(F.when(F.col("winner") == F.col("model"), 1).otherwise(0))
        .cast("bigint")
        .alias("wins"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN winner = model THEN 1 ELSE 0"
            " END)) DIV COUNT(*) AS BIGINT)"
        ).alias("win_ppm"),
    )


def quality_monitor(docs: DataFrame) -> DataFrame:
    """Per-source quality-gate pass rates from document rows — works
    identically on a BATCH DataFrame and a STREAMING one (the
    stream_quality_monitor catalog key runs it on the batch fixture;
    tests/test_streaming.py proves readStream equivalence under
    availableNow with the complete-mode sink).

    Streaming-legal by construction: the gate is a stateless row
    predicate (length floor + the ccnet-fixture boilerplate marker
    doc_id % 7 = 0 — the same class dedup_ccnet_sharding collapses),
    and the rollup is a grouped aggregation of commutative counters,
    so micro-batch arrival order cannot change the report and state is
    O(sources). pass_ppm is the bounded truncating quotient."""
    gated = docs.select(
        "source",
        F.expr(
            "CASE WHEN n_chars >= 100 AND doc_id % 7 != 0"
            " THEN 1 ELSE 0 END"
        ).alias("ok"),
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_in"),
        F.sum("ok").cast("bigint").alias("docs_pass"),
        F.expr(
            "CAST((1000000 * SUM(ok)) DIV COUNT(*) AS BIGINT)"
        ).alias("pass_ppm"),
    )


def srm_monitor(events: DataFrame) -> DataFrame:
    """Daily sample-ratio-mismatch guard from event rows — works
    identically on a BATCH DataFrame and a STREAMING one (the
    stream_srm_monitor catalog key runs it on the batch fixture;
    tests/test_streaming.py proves readStream equivalence under
    availableNow with the complete-mode sink).

    Streaming-legal by construction: arm assignment (user_id parity)
    and the PLANTED logging bug (arm-1 'error'/'view' events never
    reach the assignment log — the classic one-sided instrumentation
    drop that causes real SRMs; two event classes ~40% of traffic so
    the daily cells have decisive power) are stateless row
    predicates; the daily rollup is a grouped aggregation of
    commutative counters, so micro-batch arrival order cannot change
    the board and state is O(days).
    chi2_milli = 1000 * (2*n_a - n)^2 / n is the one-df chi-square
    against the designed 50/50 split (signed difference squared —
    exact), and srm_alarm fires past the 3.841 critical value. A
    fired alarm means 'stop reading the experiment, the assignment
    log is broken' (agg_ab_srm is the batch post-mortem twin)."""
    kept = events.filter(
        "NOT (user_id % 2 = 1 AND event_type IN ('error', 'view'))"
    ).select(
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").alias(
            "day_id"
        ),
        F.expr("user_id % 2").alias("arm"),
    )
    return kept.groupBy("day_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("1 - arm")).cast("bigint").alias("n_a"),
        F.expr(
            "CAST((1000 * (2 * SUM(1 - arm) - COUNT(*))"
            " * (2 * SUM(1 - arm) - COUNT(*))) DIV COUNT(*) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(CASE WHEN (1000 * (2 * SUM(1 - arm) - COUNT(*))"
            " * (2 * SUM(1 - arm) - COUNT(*))) DIV COUNT(*) > 3841"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("srm_alarm"),
    )
