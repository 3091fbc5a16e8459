"""Sequence packing (K+): pack tokenized documents into fixed-capacity
training shards — the step between "clean corpus" and "batches a trainer
can consume". Greedy next-fit in deterministic doc order per shard:
documents are hash-bucketed into shards (parallel, reproducible — the
md5-derived bucket does not depend on partitioning or cluster size), and
within a shard a single O(n) scan opens a new bin whenever the next
document would overflow ``max_tokens``.

Next-fit is within 2× of optimal bin count and is the only strategy whose
output is independent of everything except (doc set, capacity) — first-fit
-decreasing packs tighter but any parallel re-ordering changes the result.
At 100 TB: shards are the unit of parallelism (one Arrow batch each);
oversized docs (> max_tokens) get a bin of their own, flagged, so a
truncation policy can be applied downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 512,
    n_shards: int = 16,
) -> DataFrame:
    """→ (shard, bin_id, doc_id, n_tokens, overflow): every input doc in
    exactly one bin; per-bin token sums ≤ max_tokens unless the single doc
    itself exceeds it (overflow=true)."""
    import pandas as pd

    # blank/NULL text splits to [''] (size 1) — count it as 0 tokens explicitly
    n_tokens = F.when(
        F.col("text").isNull() | (F.trim(F.col("text")) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
    counted = docs.select(
        F.col("doc_id"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint")
            % n_shards
        ).alias("shard"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > max_tokens:
                bin_id, fill = bin_id + 1, 0
            bins.append(bin_id)
            fill += n
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["overflow"] = pdf["n_tokens"] > max_tokens
        return pdf[["shard", "bin_id", "doc_id", "n_tokens", "overflow"]]

    # derive the key's type from the input — string ids from JSONL ingest
    # must survive, not be hammered into bigint
    key_type = docs.schema["doc_id"].dataType.simpleString()
    schema = f"shard bigint, bin_id bigint, doc_id {key_type}, n_tokens bigint, overflow boolean"
    return counted.groupBy("shard").applyInPandas(_pack, schema)
