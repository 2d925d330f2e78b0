"""Streaming KMV (bottom-k) distinct-count sketch.

KMV is EXACTLY mergeable: the global bottom-k of a union equals the
bottom-k of the union of per-part bottom-k's (any globally-small hash
is small within its part). That makes the streaming dual trivial and
exact — each micro-batch persists its own bottom-k (k doubles), and
the merged estimate over any batching equals the batch sketch
bit-for-bit (tests/test_r7.py::test_stream_kmv_equals_batch).

Scale: per-epoch state is k hashes (~512 B); the arriving batch
reduces to its bottom-k via TakeOrdered (no shuffle carries the
corpus); the merge reads #epochs × k rows.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_etl_spark.functions.hashing import md5_draw


def kmv_bottom_k(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Bottom-k distinct key hashes: one column ``h`` (double)."""
    return (
        df.select(
            md5_draw(F.col(key_col).cast("string"), uniform=True).alias("h")
        )
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_estimate(bottom: DataFrame, k: int) -> DataFrame:
    """(k_used, kth_hash, est_distinct) from a bottom-k relation.
    Fewer than k survivors => the sketch IS the distinct set (exact);
    otherwise the standard (k-1)/h_k estimator."""
    agg = bottom.agg(
        F.count("*").alias("k_used"), F.max("h").alias("kth")
    )
    est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise((k - 1) / F.col("kth"))
    return agg.select(
        "k_used",
        F.round("kth", 9).alias("kth_hash"),
        F.round(est, 4).alias("est_distinct"),
    )


def kmv_sink(
    store_dir: str, key_col: str, k: int = 64
) -> Callable[[DataFrame, int], None]:
    """foreachBatch: persist each epoch's bottom-k under
    ``epoch=<id>`` (replay-idempotent overwrite)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        kmv_bottom_k(batch_df, key_col, k).write.mode(
            "overwrite"
        ).parquet(os.path.join(store_dir, f"epoch={epoch_id}"))

    return sink


def read_merged_estimate(spark, store_dir: str, k: int = 64) -> DataFrame:
    """Merge all epoch sketches: distinct-union the stored hashes,
    re-take the bottom-k, estimate."""
    merged = (
        spark.read.parquet(store_dir)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    return kmv_estimate(merged, k)
