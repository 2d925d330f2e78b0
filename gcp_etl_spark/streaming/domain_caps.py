"""Streaming PER-DOMAIN document caps: the always-on ingestion dual of
``queries/prep_ops.py::curation_domain_caps`` (RefinedWeb §URL
filtering) — cap election maintained incrementally against an
epoch-partitioned candidate store, never rescanning the corpus.

Why this is batching-invariant (the family's contract): top-k under a
TOTAL order is a MERGEABLE aggregate — the global top-k per host
equals the top-k of the union of per-epoch top-k's. So each epoch
stores only its own per-host top-``cap`` candidates (≤ cap × hosts
rows, ~40 B each — document text never enters state) plus a per-host
arrival count (a mergeable sum), and the READ-time resolution of the
accumulated store equals the one-shot batch query on the full table
however the stream was sliced (pinned in tests/test_streaming.py).

EXACTLY-ONCE: same contract as streaming/dedup_stream.py — a replayed
epoch overwrites its own partitions and reads nothing, so the
observable store is unchanged (replay-idempotence pytest).

The election order is (n_chars DESC, doc_id ASC) — content-determined,
not arrival-determined — which is what makes re-ingestion stable.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CAP = 8


def host_col():
    """The derived registrable host (FIXTURES.md §2 url formula)."""
    hid = F.floor(F.sqrt((F.col("doc_id") % 1600).cast("double"))).cast(
        "int"
    )
    return F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.com"))


def batch_candidates(df: DataFrame, cap: int = DEFAULT_CAP) -> DataFrame:
    """(host, doc_id, n_chars) — THIS batch's per-host top-``cap``
    candidates under the election order. The pure per-batch half both
    the sink and the batch dual use; output ≤ cap × hosts rows."""
    u = df.select("doc_id", "n_chars", host_col().alias("host"))
    w = Window.partitionBy("host").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        u.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def batch_counts(df: DataFrame) -> DataFrame:
    """(host, n) — this batch's per-host arrival counts (mergeable)."""
    return (
        df.select(host_col().alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )


def caps_sink(
    store_dir: str, cap: int = DEFAULT_CAP
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function maintaining
    ``<store_dir>/cands`` and ``<store_dir>/counts`` (both
    epoch-partitioned parquet)."""
    cands_dir = os.path.join(store_dir, "cands")
    counts_dir = os.path.join(store_dir, "counts")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_candidates(batch_df, cap).write.mode("overwrite").parquet(
            f"{cands_dir}/epoch={epoch_id}"
        )
        batch_counts(batch_df).write.mode("overwrite").parquet(
            f"{counts_dir}/epoch={epoch_id}"
        )

    return sink


def read_caps(spark, store_dir: str, cap: int = DEFAULT_CAP) -> DataFrame:
    """Resolve the accumulated store to the SAME relation the batch
    query emits: (host, doc_id, rk, n_host_docs) — global per-host
    top-``cap`` over the merged candidates, joined to the summed
    arrival counts."""
    cands = spark.read.parquet(os.path.join(store_dir, "cands")).drop(
        "epoch"
    )
    counts = (
        spark.read.parquet(os.path.join(store_dir, "counts"))
        .drop("epoch")
        .groupBy("host")
        .agg(F.sum("n").cast("long").alias("n_host_docs"))
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
    )
    return kept.join(counts, "host").select(
        "host", "doc_id", F.col("rk").cast("long").alias("rk"),
        "n_host_docs",
    )
