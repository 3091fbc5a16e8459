"""Batch-core ≡ streaming-wrapper equivalence on sf0.001 events (I1–I5).

The oracle checks the batch cores; this proves the readStream wrappers
compute the same thing (file source, one trigger batch, complete/append
modes as appropriate).
"""

import shutil
import tempfile
from pathlib import Path

from varda_spark.sources.tables import normalize_events_ts, read_table
from varda_spark.streaming.windows import (
    read_events_stream,
    session_windows_batch,
    session_windows_stream,
    tumbling_counts,
    tumbling_counts_stream,
)

SF = "/root/testdata/sf0.001"


def _staged_events_dir() -> str:
    """File-source streams need a DIRECTORY; stage the single parquet file."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    src = Path(f"{SF}/events.parquet")
    if src.is_dir():
        shutil.copytree(src, Path(d) / "events.parquet")
    else:
        shutil.copy(src, Path(d) / "part-0.parquet")
    return d


def _run_stream_to_memory(spark, sdf, name: str, mode: str):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_tumbling_stream_equals_batch(spark):
    ev = read_table(spark, SF, "events")
    batch = {tuple(r) for r in tumbling_counts(ev).collect()}
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream_src = normalize_events_ts(
        read_events_stream(spark, _staged_events_dir(), raw_schema)
    )
    got = _run_stream_to_memory(spark, tumbling_counts_stream(stream_src), "tumbling_t", "complete")
    assert {tuple(r) for r in got.collect()} == batch


def test_session_stream_matches_batch_session_count(spark):
    ev = read_table(spark, SF, "events")
    batch = session_windows_batch(ev)
    n_batch = batch.count()
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream_src = normalize_events_ts(
        read_events_stream(spark, _staged_events_dir(), raw_schema)
    )
    got = _run_stream_to_memory(
        spark, session_windows_stream(stream_src), "session_t", "complete"
    )
    # native session_window merges by gap exactly like gaps-and-islands
    assert got.count() == n_batch
    # spot-check totals agree
    assert got.groupBy().sum("n_events").collect()[0][0] == ev.count()


def test_watermark_drops_late_events(spark):
    from pyspark.sql import Row
    from varda_spark.streaming.windows import watermark_tumbling_batch
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts=base, event_type="click", value=1.0),
            Row(event_id=2, ts=base - dt.timedelta(minutes=5), event_type="click", value=1.0),
            Row(event_id=3, ts=base - dt.timedelta(hours=2), event_type="click", value=1.0),  # late
        ]
    )
    out = watermark_tumbling_batch(ev, delay_minutes=10)
    rows = out.collect()
    assert sum(r.n_events for r in rows) == 2  # the 2h-old event was dropped


def test_apply_in_pandas_with_state_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState) converges to the
    batch groupBy result once all files are processed."""
    import pyspark.sql.functions as F
    from varda_spark.sources.tables import read_table
    from varda_spark.streaming.windows import running_user_totals_stream

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts", "value")
    src = str(tmp_path / "src")
    ev.coalesce(2).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        running_user_totals_stream(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last update per user == batch totals
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
                 FROM user_totals) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r.user_id: (r.n, round(r.s, 4))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join converges to the batch core result."""
    import pyspark.sql.functions as F
    from varda_spark.sources.tables import read_table
    from varda_spark.streaming.windows import (
        purchase_view_join_batch,
        purchase_view_join_stream,
    )

    ev = read_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    src = str(tmp_path / "ev")
    ev.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    p = stream.filter(F.col("event_type") == "purchase")
    v = stream.filter(F.col("event_type") == "view")
    q = (
        purchase_view_join_stream(p, v)
        .writeStream.format("memory")
        .queryName("pv_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM pv_join").collect()
    }
    want = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in purchase_view_join_batch(ev).collect()
    }
    # streaming append-mode emits exactly the batch pairs (watermark only
    # bounds state here; no rows are late relative to file order + horizon)
    assert got == want


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static broadcast join: the streaming wrapper over a file
    source equals the batch core (same enrich_counts code path)."""
    from varda_spark.streaming.windows import enrich_counts

    ev = read_table(spark, SF, "events")
    dim = read_table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    batch = {tuple(r) for r in enrich_counts(ev, dim).collect()}
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream_src = normalize_events_ts(
        read_events_stream(spark, _staged_events_dir(), raw_schema)
    )
    got = _run_stream_to_memory(spark, enrich_counts(stream_src, dim), "enrich_t", "complete")
    assert {tuple(r) for r in got.collect()} == batch


def test_foreach_batch_streaming_upsert(spark, tmp_path):
    """Streaming warehouse maintenance: each micro-batch MERGEs into the
    parquet warehouse via foreachBatch + merge_upsert — the streaming
    ingest → keep-latest pipeline end-to-end."""
    from pyspark.sql import functions as F

    from varda_spark.operators.merge import merge_upsert

    wh = str(tmp_path / "wh")
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit(0).alias("v"), F.lit(0).alias("version")
    )
    base.write.mode("overwrite").parquet(wh)

    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    schema = "k bigint, v int, version int"
    stream = spark.readStream.schema(schema).json(str(src_dir))
    (tmp_path / "incoming" / "b1.json").write_text(
        "\n".join(f'{{"k": {k}, "v": {k * 10}, "version": 1}}' for k in (3, 5, 7))
    )

    def upsert(batch_df, _batch_id):
        merged = merge_upsert(spark.read.parquet(wh), batch_df, ["k"])
        merged.write.mode("overwrite").parquet(wh + "_next")
        out = spark.read.parquet(wh + "_next")
        out.write.mode("overwrite").parquet(wh)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k: (r.v, r.version) for r in spark.read.parquet(wh).collect()}
    assert len(got) == 10
    assert got[3] == (30, 1) and got[5] == (50, 1) and got[7] == (70, 1)
    assert got[0] == (0, 0) and got[9] == (0, 0)


def test_streaming_frequency_numerator_maintenance(spark, tmp_path):
    """Continuous varda core: observation batches stream in, foreachBatch
    merges each batch's (variant key → vc) partial into the rollup
    (merge_rollups — sum-mergeable), and after all batches the maintained
    table equals the batch recompute over everything. The numerator side
    of frequency() as a live view, never re-scanning history."""
    import json

    from pyspark.sql import functions as F

    from varda_spark.operators.merge import merge_rollups

    KEYS = ["chromosome", "position", "reference", "observed"]
    rollup_path = str(tmp_path / "vc_rollup")
    src = tmp_path / "obs_in"
    src.mkdir()

    def write_batch(fname, rows):
        (src / fname).write_text("\n".join(json.dumps(r) for r in rows))

    b1 = [
        {"chromosome": "1", "position": 100, "reference": "A", "observed": "G", "support": 1},
        {"chromosome": "1", "position": 100, "reference": "A", "observed": "G", "support": 2},
        {"chromosome": "2", "position": 50, "reference": "C", "observed": "", "support": 1},
    ]
    b2 = [
        {"chromosome": "1", "position": 100, "reference": "A", "observed": "G", "support": 5},
        {"chromosome": "3", "position": 7, "reference": "", "observed": "T", "support": 1},
    ]
    write_batch("b1.json", b1)

    schema = "chromosome string, position long, reference string, observed string, support int"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))

    def upsert(batch_df, _bid):
        partial = batch_df.groupBy(*KEYS).agg(F.sum("support").alias("vc"))
        try:
            current = spark.read.parquet(rollup_path)
            merged = merge_rollups([current, partial], KEYS, ["vc"])
        except Exception:
            merged = partial
        merged.write.mode("overwrite").parquet(rollup_path + "_next")
        spark.read.parquet(rollup_path + "_next").write.mode("overwrite").parquet(rollup_path)

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    write_batch("b2.json", b2)
    q2 = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    maintained = {
        tuple(r[k] for k in KEYS): r.vc for r in spark.read.parquet(rollup_path).collect()
    }
    allrows = spark.createDataFrame(
        [(r["chromosome"], r["position"], r["reference"], r["observed"], r["support"]) for r in b1 + b2],
        schema,
    )
    batch = {
        tuple(r[k] for k in KEYS): r.vc
        for r in allrows.groupBy(*KEYS).agg(F.sum("support").alias("vc")).collect()
    }
    assert maintained == batch
    assert maintained[("1", 100, "A", "G")] == 8


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill the maintenance stream mid-batch, restart from the SAME
    checkpoint, and prove exactly-once: the crashed batch had already
    written its partial (worst case), is replayed on restart with the same
    batch_id, and the idempotent per-batch_id sink neither duplicates nor
    drops anything — the maintained rollup equals the batch recompute.
    At 100 TB the restart path IS the path; this pins its semantics."""
    import json

    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from varda_spark.streaming.windows import idempotent_rollup_sink, read_rollup

    src = tmp_path / "in"
    src.mkdir()
    rollup = str(tmp_path / "rollup")
    rows = []
    for b in range(3):
        batch = [{"k": f"g{i % 4}", "support": b * 10 + i} for i in range(6)]
        rows += batch
        (src / f"b{b}.json").write_text("\n".join(json.dumps(r) for r in batch))

    schema = "k string, support long"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    sink = idempotent_rollup_sink(["k"], {"total": "sum", "n": "count"}, rollup)

    def crashing_sink(batch_df, batch_id):
        # worst-case crash: the data write LANDS, then the task dies before
        # the checkpoint commit — replay must overwrite, not double-apply
        renamed = batch_df.withColumn("total", F.col("support")).withColumn("n", F.lit(1))
        sink(renamed.select("k", "total", "n"), batch_id)
        if batch_id == 1 and not (tmp_path / "crashed_once").exists():
            (tmp_path / "crashed_once").write_text("x")
            raise RuntimeError("injected crash after write, before commit")

    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        crashed = False
    except StreamingQueryException:
        crashed = True
    assert crashed and (tmp_path / "crashed_once").exists()

    # restart from the same checkpoint: batch 1 replays (same id, same
    # offsets), batch 2 runs fresh; batch 0 is not re-read
    q2 = (
        stream.writeStream.foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = {
        r.k: (r.total, r.n)
        for r in read_rollup(spark, rollup, ["k"], ["total", "n"]).collect()
    }
    want_df = spark.createDataFrame([(r["k"], r["support"]) for r in rows], schema)
    want = {
        r.k: (r.total, r.n)
        for r in want_df.groupBy("k")
        .agg(F.sum("support").cast("bigint").alias("total"), F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    assert got == want


def test_ewma_stream_equals_batch_key(spark):
    """Stateful streaming EWMA (applyInPandasWithState) reproduces the
    batch win_ewma key bit-for-bit: integer taps quantized in a Column
    before the stateful map, so no float drift exists between paths."""
    from varda_spark import catalog
    from varda_spark.streaming.windows import ewma_stream

    batch = {
        (r.event_id, r.user_id, r.num, r.den, r.ewma)
        for r in catalog.win_ewma(spark, SF).collect()
    }
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream_src = normalize_events_ts(
        read_events_stream(spark, _staged_events_dir(), raw_schema)
    )
    got = _run_stream_to_memory(spark, ewma_stream(stream_src), "ewma_t", "append")
    assert {
        (r.event_id, r.user_id, r.num, r.den, r.ewma) for r in got.collect()
    } == batch


def test_ewma_stream_state_survives_restart(spark, tmp_path):
    """Kill the stateful EWMA stream between micro-batches and restart
    from the same checkpoint: the recovered state store must carry each
    user's tap window across the restart, so the union of both runs'
    outputs bit-equals the batch win_ewma key. A state loss would shift
    every post-restart EWMA whose window straddles the file boundary."""
    import time as _time

    from pyspark.sql import functions as F

    from varda_spark import catalog
    from varda_spark.streaming.windows import ewma_stream

    ev = read_table(spark, SF, "events")
    cut = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()

    def _stage(df, name):
        tmp = tmp_path / ("w_" + name)
        df.coalesce(1).write.parquet(str(tmp))
        part = next(p for p in tmp.iterdir() if p.name.endswith(".parquet"))
        shutil.copy(part, src / name)

    # per-user order across batches: split by TIME, stage oldest first
    med_ts = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).first()[0]
    first = ev.filter(F.unix_micros("ts") <= med_ts)
    second = ev.filter(F.unix_micros("ts") > med_ts)
    _stage(first, "0001.parquet")

    ckpt = str(tmp_path / "ckpt")

    out = str(tmp_path / "out")

    def _run():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            ewma_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    n_run1 = spark.read.parquet(out).count()
    _time.sleep(1.1)  # distinct mtime so the source orders the new file after
    _stage(second, "0002.parquet")
    _run()

    key = lambda r: (r.event_id, r.user_id, r.num, r.den, r.ewma)
    got = {key(r) for r in spark.read.parquet(out).collect()}
    want = {key(r) for r in catalog.win_ewma(spark, SF).collect()}
    assert 0 < n_run1 < len(want), "restart must split the work across runs"
    assert got == want


def test_stream_countmin_matches_batch(spark, tmp_path):
    """Streaming Count-Min: the sketch built by merging per-micro-batch
    cell increments (idempotent foreachBatch rollup keyed on (row, col))
    is cell-for-cell identical to the batch agg_countmin sketch — the
    mergeability that makes CM the distributed/streaming heavy-hitter
    substrate (merge = groupBy-sum, associative and commutative, so
    micro-batch boundaries cannot change the result)."""
    from pyspark.sql import functions as F

    from varda_spark import catalog
    from varda_spark.operators.text import countmin_cells
    from varda_spark.sources.tables import read_table
    from varda_spark.streaming.windows import idempotent_rollup_sink, read_rollup

    SF = "/root/testdata/sf0.01"
    d = read_table(spark, SF, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    d.repartition(3).write.parquet(src)  # ≥3 files → ≥3 micro-batches

    stream = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    rollup = str(tmp_path / "sketch")
    sink = idempotent_rollup_sink(["row", "col"], {"cnt": "count"}, rollup)

    def to_cells(batch_df, batch_id):
        sink(countmin_cells(batch_df).withColumn("cnt", F.lit(1)), batch_id)

    q = (
        stream.writeStream.foreachBatch(to_cells)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.row, r.col): r.cnt
        for r in read_rollup(spark, rollup, ["row", "col"], ["cnt"]).collect()
    }
    want = {
        (r.row, r.col): r.cnt for r in catalog.agg_countmin(spark, SF).collect()
    }
    assert got == want


def test_wtopk_stream_counts_match_batch_leaderboard(spark):
    """stream_wtopk's count core run under readStream (complete mode)
    + the rank applied on the sink equals the batch catalog key."""
    from pyspark.sql import Window, functions as F

    from varda_spark.catalog import REGISTRY

    batch = {
        tuple(r)
        for r in REGISTRY["stream_wtopk"].fn(spark, SF).collect()
    }
    raw_schema = spark.read.parquet(f"{SF}/events.parquet").schema
    stream_src = normalize_events_ts(
        read_events_stream(spark, _staged_events_dir(), raw_schema)
    )
    counts = stream_src.groupBy(
        F.col("ts").cast("date").alias("win_day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    sink = _run_stream_to_memory(spark, counts, "wtopk_t", "complete")
    w = Window.partitionBy("win_day").orderBy(F.col("n").desc(), "event_type")
    got = (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "win_day", "event_type", "n", F.col("rn").cast("bigint").alias("rnk")
        )
    )
    assert {tuple(r) for r in got.collect()} == batch


def test_cascade_stream_equals_batch_catalog_key(spark):
    """stream_cascade's radius-prefilter cascade run as a real readStream
    (stream-static non-equi join + update-mode agg) equals the batch key:
    the micro-batch of encoded queries arrives as a file stream, the
    static encoded corpus is joined per batch, and the complete-mode sink
    holds the per-query (n_cand, top_vec, top_dot, top_ham) rows."""
    from pyspark.sql import functions as F

    from varda_spark.catalog import REGISTRY
    from varda_spark.operators.similarity import sign_words64
    from varda_spark.streaming.windows import cascade_radius_stream

    batch = {tuple(r) for r in REGISTRY["stream_cascade"].fn(spark, SF).collect()}
    assert batch, "fixture must yield at least one query with a non-empty pool"

    corpus = sign_words64(read_table(spark, SF, "embeddings"))
    queries = (
        corpus.filter(F.expr("vec_id % 97 = 3")).orderBy("vec_id").limit(8)
    )
    qdir = tempfile.mkdtemp(prefix="cascade_queries_")
    queries.write.mode("overwrite").parquet(qdir)
    q_stream = spark.readStream.schema(queries.schema).parquet(qdir)
    got = _run_stream_to_memory(
        spark, cascade_radius_stream(q_stream, corpus), "cascade_t", "complete"
    )
    assert {tuple(r) for r in got.collect()} == batch


def test_cascade_stream_accumulates_across_micro_batches(spark):
    """Queries arriving in TWO separate files (two micro-batches under
    availableNow) must yield the same complete-mode result as the batch
    key — per-query rows appear as their micro-batch lands and the
    stream-static join re-scans the corpus per batch."""
    from pyspark.sql import functions as F

    from varda_spark.catalog import REGISTRY
    from varda_spark.operators.similarity import sign_words64
    from varda_spark.streaming.windows import cascade_radius_stream

    batch = {tuple(r) for r in REGISTRY["stream_cascade"].fn(spark, SF).collect()}
    corpus = sign_words64(read_table(spark, SF, "embeddings"))
    queries = (
        corpus.filter(F.expr("vec_id % 97 = 3")).orderBy("vec_id").limit(8)
    ).collect()
    assert len(queries) >= 2
    qdir = tempfile.mkdtemp(prefix="cascade_2batch_")
    schema = corpus.schema
    first, second = queries[: len(queries) // 2], queries[len(queries) // 2:]
    spark.createDataFrame(first, schema).write.mode("overwrite").parquet(
        f"{qdir}/b0"
    )
    spark.createDataFrame(second, schema).write.mode("overwrite").parquet(
        f"{qdir}/b1"
    )
    q_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{qdir}/b*")
    )
    got = _run_stream_to_memory(
        spark, cascade_radius_stream(q_stream, corpus), "cascade_2b", "complete"
    )
    assert {tuple(r) for r in got.collect()} == batch


def test_arena_leaderboard_stream_equals_batch_catalog_key(spark):
    """stream_arena_leaderboard's board computed under a real readStream
    (battles land as TWO parquet files → two micro-batches under
    availableNow; stateless explode + complete-mode grouped agg) equals
    the batch catalog key row-for-row."""
    from pyspark.sql import functions as F

    from varda_spark.catalog import REGISTRY
    from varda_spark.streaming.windows import arena_leaderboard

    batch = {
        tuple(r)
        for r in REGISTRY["stream_arena_leaderboard"].fn(spark, SF).collect()
    }
    assert batch
    o = read_table(spark, SF, "orders")
    battles = o.select(
        (F.col("o_custkey") % 8).alias("a"),
        F.expr("(o_custkey % 8 + 1 + (o_custkey DIV 8) % 7) % 8").alias("b"),
        F.expr(
            "CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100"
            " AS BIGINT) % 2 = 0 THEN o_custkey % 8"
            " ELSE (o_custkey % 8 + 1 + (o_custkey DIV 8) % 7) % 8 END"
        ).alias("winner"),
    )
    bdir = tempfile.mkdtemp(prefix="arena_battles_")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    battles.filter("a % 2 = 0").coalesce(1).write.mode("overwrite").parquet(
        f"{bdir}/f1"
    )
    battles.filter("a % 2 = 1").coalesce(1).write.mode("append").parquet(
        f"{bdir}/f2"
    )
    import glob as _glob
    import shutil as _shutil

    flat = tempfile.mkdtemp(prefix="arena_flat_")
    for i, p in enumerate(
        sorted(_glob.glob(f"{bdir}/f*/part-*.parquet"))
    ):
        _shutil.copy(p, f"{flat}/part-{i}.parquet")
    b_stream = (
        spark.readStream.schema(battles.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    got = _run_stream_to_memory(
        spark, arena_leaderboard(b_stream), "arena_t", "complete"
    )
    assert {tuple(r) for r in got.collect()} == batch


def test_arena_leaderboard_consistent_with_bradley_terry(spark):
    """Same fixture, two views: the leaderboard's (battles, wins) per
    model must equal agg_bradley_terry's columns."""
    from varda_spark.catalog import REGISTRY

    lb = {
        r["model_id"]: (r["battles"], r["wins"])
        for r in REGISTRY["stream_arena_leaderboard"].fn(spark, SF).collect()
    }
    bt = {
        r["model_id"]: (r["battles"], r["wins"])
        for r in REGISTRY["agg_bradley_terry"].fn(spark, SF).collect()
    }
    assert lb == bt


def test_quality_monitor_stream_equals_batch_catalog_key(spark):
    """stream_quality_monitor's per-source board computed under a real
    readStream (documents land as TWO parquet files -> two micro-batches
    under availableNow; stateless gate + complete-mode grouped agg)
    equals the batch catalog key row-for-row."""
    import glob as _glob
    import shutil as _shutil
    import tempfile

    from varda_spark.catalog import REGISTRY
    from varda_spark.streaming.windows import quality_monitor

    batch = {
        tuple(r)
        for r in REGISTRY["stream_quality_monitor"].fn(spark, SF).collect()
    }
    assert batch
    docs = read_table(spark, SF, "documents")
    ddir = tempfile.mkdtemp(prefix="qmon_docs_")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{ddir}/f1")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        f"{ddir}/f2"
    )
    flat = tempfile.mkdtemp(prefix="qmon_flat_")
    for i, p in enumerate(sorted(_glob.glob(f"{ddir}/f*/part-*.parquet"))):
        _shutil.copy(p, f"{flat}/part-{i}.parquet")
    d_stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    got = _run_stream_to_memory(
        spark, quality_monitor(d_stream), "qmon_t", "complete"
    )
    assert {tuple(r) for r in got.collect()} == batch


def test_srm_monitor_stream_equals_batch_catalog_key(spark):
    """stream_srm_monitor's daily SRM board computed under a real
    readStream (events land as TWO parquet files -> two micro-batches
    under maxFilesPerTrigger; stateless arm/drop predicates +
    complete-mode grouped agg) equals the batch catalog key
    row-for-row."""
    import glob as _glob
    import shutil as _shutil
    import tempfile

    from varda_spark.catalog import REGISTRY
    from varda_spark.streaming.windows import srm_monitor

    batch = {
        tuple(r)
        for r in REGISTRY["stream_srm_monitor"].fn(spark, SF).collect()
    }
    assert batch
    ev = read_table(spark, SF, "events")
    edir = tempfile.mkdtemp(prefix="srm_ev_")
    ev.filter("event_id % 2 = 0").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{edir}/f1")
    ev.filter("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        f"{edir}/f2"
    )
    flat = tempfile.mkdtemp(prefix="srm_flat_")
    for i, p in enumerate(sorted(_glob.glob(f"{edir}/f*/part-*.parquet"))):
        _shutil.copy(p, f"{flat}/part-{i}.parquet")
    e_stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    got = _run_stream_to_memory(
        spark, srm_monitor(e_stream), "srm_t", "complete"
    )
    assert {tuple(r) for r in got.collect()} == batch
