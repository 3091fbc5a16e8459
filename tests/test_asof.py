"""As-of join semantics: ties, no-match NULLs, per-key isolation."""

import datetime as dt

from pyspark.sql import Row

from varda_spark.operators.asof import asof_join


def _t(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            Row(k=1, ts=_t(10), lv=100),
            Row(k=1, ts=_t(5), lv=101),   # tie with right at s=5 → matches it
            Row(k=2, ts=_t(7), lv=102),   # right for k=2 only at s=9 → NULL
        ]
    )
    right = spark.createDataFrame(
        [
            Row(k=1, ts=_t(5), rv=200),
            Row(k=1, ts=_t(8), rv=201),
            Row(k=2, ts=_t(9), rv=202),
        ]
    )
    out = {
        (r.k, r.ts.second): (r.rv_right, r.ts_right.second if r.ts_right else None)
        for r in asof_join(left, right, by="k").collect()
    }
    assert out[(1, 10)] == (201, 8)   # latest at-or-before
    assert out[(1, 5)] == (200, 5)    # <= semantics: equal ts matches
    assert out[(2, 7)] == (None, None)  # nothing before → NULLs


def test_resize_stub(spark):
    from varda_spark.sources.multimodal import resize_images, synthesize_blobs

    d = spark.createDataFrame([Row(doc_id=1, text="x" * 100)])
    out = resize_images(synthesize_blobs(d), width=4, height=4, fake=True).collect()
    assert len(out[0].content) == 16 and out[0].n_bytes == 16


def test_chunk_audio_empty_payload_emits_no_rows(spark):
    # sequence(0, ceil(0/chunk)-1) DESCENDS; a zero-byte payload must yield
    # zero chunks (the oracle's range(0,0) semantics), not idx {0,-1} junk.
    from varda_spark.sources.multimodal import chunk_audio, synthesize_blobs

    d = spark.createDataFrame(
        [Row(doc_id=1, text=""), Row(doc_id=4, text="y" * 40)]
    )  # both doc_id%3==1 → audio/wav
    out = chunk_audio(synthesize_blobs(d)).collect()
    assert {r.item_id for r in out} == {4}
    assert sorted((r.chunk_idx, r.chunk_len) for r in out) == [(0, 32), (1, 8)]
