"""Multimodal columns (north-star K5): binary payloads + typed metadata.

Pattern: image/audio/video are opaque ``binary`` columns travelling next
to a typed metadata struct; they are content-addressed (sha1/md5 — the
reference's A7 checksum guard applied to blobs) and processed by
Arrow-batched ``mapInPandas`` stages.

The container has no image/audio libs, so DECODING IS STUBBED: the
Spark-side plumbing (schema, partitioning, batch iteration, UDF
signatures) is real and tested; ``decode_image`` raises
NotImplementedError unless ``fake=True``, in which case a deterministic
byte-histogram "feature vector" stands in for real pixels.

Scale notes: blobs ride in their own column so column pruning skips them
unless a stage needs bytes; partition by content-id prefix for even blob
distribution; never collect blobs to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MULTIMODAL_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("mime", StringType()),
        StructField("content", BinaryType()),
        StructField("content_md5", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("item_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def synthesize_blobs(df: DataFrame) -> DataFrame:
    """Deterministic fake payloads: utf-8 bytes of text as 'image' content,
    keyed by doc_id.

    Stands in for spark.read.format('binaryFile') at demo scale; the
    downstream pipeline is identical for real bytes.
    """
    content = F.col("text").cast("binary")
    return df.select(
        F.col("doc_id").alias("item_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("mime"),
        content.alias("content"),
        F.md5(content).alias("content_md5"),
        F.octet_length(content).cast("bigint").alias("n_bytes"),
    )


def decode_image_features(mm: DataFrame, *, fake: bool = False) -> DataFrame:
    """mapInPandas decode/feature-extract stage (STUB — see module doc).

    fake=True: features = normalized byte histogram over 8 buckets
    (deterministic, library-free). fake=False raises NotImplementedError —
    plug in PIL/torchvision here in a real deployment.
    """
    if not fake:
        raise NotImplementedError(
            "image decoding requires PIL/torchvision (not in this container); "
            "pass fake=True for the deterministic byte-histogram stand-in"
        )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for blob in pdf["content"]:
                arr = np.frombuffer(blob, dtype=np.uint8) if blob is not None else np.array([0], np.uint8)
                hist, _ = np.histogram(arr, bins=8, range=(0, 256))
                total = max(int(hist.sum()), 1)
                feats.append([round(float(h) / total, 6) for h in hist])
            yield pd.DataFrame(
                {
                    "item_id": pdf["item_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return mm.mapInPandas(_batches, schema=FEATURE_SCHEMA)


def resize_images(mm: DataFrame, *, width: int = 64, height: int = 64, fake: bool = False) -> DataFrame:
    """mapInPandas resize stage (STUB — see module doc).

    fake=True: 'resized' content = first width*height bytes of the blob
    (deterministic, library-free stand-in keeping the real batch shape).
    fake=False raises NotImplementedError — plug in PIL here.
    """
    if not fake:
        raise NotImplementedError(
            "image resize requires PIL (not in this container); "
            "pass fake=True for the deterministic truncation stand-in"
        )
    n = width * height

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            out["content"] = [None if b is None else bytes(b)[:n] for b in pdf["content"]]
            out["n_bytes"] = [0 if b is None else len(b) for b in out["content"]]
            yield out

    return mm.mapInPandas(_batches, schema=mm.schema)


def frame_sample(mm: DataFrame) -> DataFrame:
    """'Frame sampling' plumbing: slice the blob at 64-byte strides, at most
    4 frames (pure Column exprs — at scale this is the shape of keyframe
    extraction, with the slicing swapped for a codec call inside
    mapInPandas)."""
    frames = F.expr(
        "transform(sequence(0, least(int(n_bytes / 64), 3)), "
        "i -> substring(content, i * 64 + 1, 64))"
    )
    return mm.select(
        "item_id",
        "mime",
        F.posexplode(frames).alias("frame_idx", "frame_bytes"),
    ).withColumn("frame_md5", F.md5("frame_bytes"))


def chunk_audio(mm: DataFrame) -> DataFrame:
    """K5 audio path: split each audio payload into 32-byte chunks —
    the segmentation step before any acoustic feature extraction (which
    would slot in as a mapInPandas stage like decode_image_features).
    Pure Column math: chunk count from n_bytes, posexplode of the index
    sequence, substring on the BINARY payload. Rows stay (item, chunk_idx)
    — at 100 TB chunking is map-side with zero shuffle.

    Zero-byte payloads are filtered out BEFORE the explode: sequence(0,
    ceil(0/chunk)-1) = sequence(0,-1) DESCENDS in Spark, which would emit
    two garbage chunks (idx 0 and -1) where the oracle's range(0,0) emits
    none."""
    audio = mm.filter((F.col("mime") == "audio/wav") & (F.col("n_bytes") > 0))
    idx = F.explode(
        F.sequence(F.lit(0), F.ceil(F.col("n_bytes") / 32).cast("bigint") - 1)
    ).alias("chunk_idx")
    out = audio.select("item_id", "n_bytes", "content", idx)
    return out.select(
        "item_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        (F.col("chunk_idx") * 32).cast("bigint").alias("offset"),
        F.least(
            F.lit(32).cast("bigint"),
            F.col("n_bytes") - F.col("chunk_idx") * 32,
        ).alias("chunk_len"),
        F.expr("substring(content, chunk_idx * 32 + 1, 32)")
        .cast("string")
        .alias("chunk_text"),
    )
