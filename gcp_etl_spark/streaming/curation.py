"""Streaming CURATION manifest: arriving documents are exact-deduped
against the accumulated corpus, quality-gated, and split-assigned —
the always-on ingestion half of the batch curation pipeline
(queries/prep_ops.py::pipeline_curation_e2e), maintained incrementally
through a persistent digest store.

Reference parity: the reference lands batches and re-runs full-table
jobs (``k8s/dags/etl-gcp-vinicius-campos.py``); the streaming analog
must curate each arriving micro-batch WITHOUT rescanning the corpus.

Design (the 100 TB shape):
- STATE is one epoch-partitioned parquet relation ``docs/epoch=N``
  holding (h = content digest, doc_id = smallest id seen for h, lang,
  n_toks, split) — fixed ~60 B per distinct document, text never
  stored, never re-read.
- Per epoch: the batch reduces to its per-digest min-id survivors
  (map-side), quality-gates, token-counts and split-assigns (all pure
  maps) and appends ONE row per surviving digest; min-doc_id per
  digest is resolved at READ time across epochs, so the final store is
  BATCHING-INVARIANT: however the stream is sliced, the end-of-stream
  manifest equals the batch pipeline on the full table (pinned in
  tests/test_streaming.py). Cross-epoch duplicate digests cost one
  ~60 B row per arrival epoch; periodic compaction reclaims them.
- EXACTLY-ONCE: same contract as streaming/dedup_stream.py — a
  replayed epoch re-reads only ``epoch < epoch_id`` state and
  overwrites its own partition, leaving the observable store unchanged.
- The SPLIT draw hashes the content digest (not arrival order), so an
  assignment never depends on batching — the property that makes
  train/val/test stable under re-ingestion.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gcp_etl_spark.functions.hashing import md5_draw

_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.9


def curate_batch(
    df: DataFrame,
    min_chars: int = 50,
    max_chars: int = 400,
) -> DataFrame:
    """(h, doc_id, lang, n_toks, split) — the pure per-batch half:
    per-digest min-id survivor, quality gate, token count, content-
    keyed split. Deterministic and batching-independent by
    construction; both the streaming sink and the batch dual call
    exactly this."""
    h = df.select(
        "doc_id", "lang", "text", "n_chars", F.md5("text").alias("h")
    )
    surv = h.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    kept = h.join(surv, ["h", "doc_id"]).filter(
        F.col("n_chars").between(min_chars, max_chars)
    )
    u = md5_draw("h", uniform=True)
    return kept.select(
        "h",
        "doc_id",
        "lang",
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), " "), lambda x: x != ""
            )
        ).alias("n_toks"),
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


def curation_sink(
    store_dir: str,
    min_chars: int = 50,
    max_chars: int = 400,
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function maintaining the curated-doc
    store under ``<store_dir>/docs`` (epoch-partitioned parquet)."""
    docs_dir = os.path.join(store_dir, "docs")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        cur = curate_batch(batch_df, min_chars, max_chars)
        # append the epoch's per-digest survivors UNCONDITIONALLY and
        # resolve min-doc_id per digest at READ time (read_manifest):
        # an anti-join against the accumulated store here would drop a
        # smaller-id duplicate arriving in a later epoch before it was
        # ever recorded, breaking batching invariance of the survivor
        # ids. Cross-epoch duplicate digests are bounded by one row per
        # (digest, epoch-it-arrived-in) — 60 B each — and a periodic
        # compaction (io.compact_managed shape) reclaims them.
        cur.write.mode("overwrite").parquet(f"{docs_dir}/epoch={epoch_id}")

    return sink


def read_manifest(spark, store_dir: str) -> DataFrame:
    """The curated corpus manifest: per (split, lang) doc and token
    masses over the min-doc_id-per-digest view of the store. Matches
    the batch dual exactly at end-of-stream for any batching."""
    docs = spark.read.parquet(os.path.join(store_dir, "docs")).drop("epoch")
    # min-id per digest across epochs (supersede larger-id later copies)
    w_min = docs.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    resolved = docs.join(w_min, ["h", "doc_id"])
    return (
        resolved.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )
