"""Streaming execution smoke: the SAME operator functions run as a
real Structured Streaming query (file source → memory sink) must equal
their batch results (SURVEY.md §2B streaming surface, §7 step 8)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from gcp_etl_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
)
from gcp_etl_spark.tables import t
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def events_stream_dir(spark, tmp_path_factory):
    # re-write events as one file, so the stream source sees one
    # deterministic micro-batch
    d = tmp_path_factory.mktemp("events_stream")
    ev = t(spark, SF_SMALL, "events")
    ev.coalesce(1).write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events"), ev.schema


def run_stream(spark, stream_df, mode):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql("SELECT * FROM stream_out")


@pytest.mark.parametrize(
    "op,mode",
    [
        (tumbling_agg, "complete"),
        (sliding_agg, "complete"),
        (session_agg, "complete"),
    ],
)
def test_stream_equals_batch(spark, events_stream_dir, op, mode):
    path, schema = events_stream_dir
    batch = op(spark.read.schema(schema).parquet(path))
    stream = op(spark.readStream.schema(schema).parquet(path))
    assert stream.isStreaming
    got = run_stream(spark, stream, mode)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_dedup_watermarked(spark, events_stream_dir):
    path, schema = events_stream_dir
    stream = stream_dedup(spark.readStream.schema(schema).parquet(path))
    assert stream.isStreaming
    got = run_stream(spark, stream, "append")
    # event_id unique in fixture → dedup keeps everything exactly once
    batch_n = spark.read.schema(schema).parquet(path).count()
    assert got.count() == batch_n


def test_watermark_set_on_streams(spark, events_stream_dir):
    """Watermarks must be attached in streaming mode — unbounded state
    is the #1 scale failure for a 100 TB/day stream."""
    import contextlib
    import io

    path, schema = events_stream_dir
    stream = tumbling_agg(spark.readStream.schema(schema).parquet(path))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        stream.explain(extended=True)
    assert "EventTimeWatermark" in buf.getvalue()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode semantics: once the watermark passes a window, rows
    older than (max event time - delay) arriving in a later micro-batch
    are DROPPED — the bounded-state contract at 100 TB/day."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    d = str(tmp_path / "late")
    # batch 1: events up to t=120min -> watermark advances to 120-30=90min
    b1 = [(i, base + dt.timedelta(minutes=m), 1, "a", 1.0, "{}")
          for i, m in enumerate([5, 60, 120])]
    # batch 2: one on-time event (t=119) and one LATE event (t=10 < 90)
    b2 = [(100, base + dt.timedelta(minutes=119), 1, "a", 1.0, "{}"),
          (101, base + dt.timedelta(minutes=10), 1, "a", 1.0, "{}")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(d)

    stream = tumbling_agg(
        spark.readStream.schema(
            spark.read.parquet(d).schema
        ).option("maxFilesPerTrigger", 1).parquet(d),
        watermark="30 minutes",
    )
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("late_out").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["w_start"].minute + 60 * r["w_start"].hour): r["n_events"]
            for r in spark.sql("SELECT * FROM late_out").collect()}
    # append mode emits only windows the watermark has CLOSED: the
    # t=5 window (1 event — the late t=10 arrival was dropped) and the
    # t=60 window. The 110/120 windows stay open (never emitted here).
    assert rows.get(0) == 1, f"late event leaked into closed window: {rows}"
    assert rows.get(60) == 1


def test_foreachbatch_idempotent_sink(spark, tmp_path):
    """Exactly-once pattern for non-transactional sinks: foreachBatch
    writes each micro-batch to a batch-id-named directory, so a
    replayed epoch overwrites its own output instead of duplicating
    (guide: "for exactly-once sinks: foreachBatch")."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ev = t(spark, SF_SMALL, "events")
    ev.filter("event_id < 300").coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter("event_id >= 300").coalesce(1).write.mode("append").parquet(src)

    def sink(batch_df, epoch_id):
        # idempotent: epoch-keyed overwrite — replays rewrite, never append
        batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    written = spark.read.option("basePath", out).parquet(f"{out}/epoch=*")
    assert written.count() == ev.count()
    assert written.select("event_id").distinct().count() == ev.count()
    # simulate an epoch replay: re-running the sink for epoch 0 with the
    # same data must leave the totals unchanged (overwrite, not append).
    # materialize first — lazily reading the path being overwritten
    # would read-after-delete
    epoch0_rows = spark.read.parquet(f"{out}/epoch=0").collect()
    first_epoch = spark.createDataFrame(epoch0_rows, ev.schema)
    sink(first_epoch, 0)
    again = spark.read.option("basePath", out).parquet(f"{out}/epoch=*")
    assert again.count() == ev.count()


def test_stream_stream_join_equals_batch(spark, events_stream_dir):
    """Stream-stream watermarked interval join (view->purchase
    attribution) must equal the identical batch join."""
    from pyspark.sql import functions as F

    from gcp_etl_spark.streaming.windows import view_purchase_join

    path, schema = events_stream_dir

    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch = view_purchase_join(*split(spark.read.schema(schema).parquet(path)))
    stream = view_purchase_join(
        *split(spark.readStream.schema(schema).parquet(path))
    )
    assert stream.isStreaming
    got = run_stream(spark, stream, "append")
    want = sorted(map(tuple, batch.collect()))
    assert sorted(map(tuple, got.collect())) == want
    assert want, "fixture should produce at least one attribution pair"


def test_stream_stream_left_outer_join(spark, events_stream_dir):
    """Left-outer stream-stream join: every emitted row must appear in
    the batch dual, and every unmatched view OLD enough that the final
    watermark proved no purchase can match must have emitted its null
    row. Tail views (within watermark+gap of stream end) are allowed
    to stay buffered — that is the semantics, not a bug."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from gcp_etl_spark.streaming.windows import view_purchase_join

    path, schema = events_stream_dir

    def split(df):
        return (
            df.filter(F.col("event_type") == "view"),
            df.filter(F.col("event_type") == "purchase"),
        )

    batch = view_purchase_join(
        *split(spark.read.schema(schema).parquet(path)), how="left_outer"
    )
    stream = view_purchase_join(
        *split(spark.readStream.schema(schema).parquet(path)),
        how="left_outer",
    )
    assert stream.isStreaming
    got = sorted(map(tuple, run_stream(spark, stream, "append").collect()))
    want_all = sorted(map(tuple, batch.collect()))
    assert set(got) <= set(want_all)
    # rows safely older than (max_ts - watermark - gap) MUST all emit
    ev = spark.read.schema(schema).parquet(path)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - _dt.timedelta(hours=2, minutes=60)
    vts = {
        r["event_id"]: r["ts"]
        for r in ev.filter(F.col("event_type") == "view")
        .select("event_id", "ts")
        .collect()
    }
    must_emit = {row for row in want_all if vts[row[0]] < cutoff}
    assert must_emit <= set(got), (
        f"{len(must_emit - set(got))} pre-watermark rows missing"
    )
    # and the null (unattributed) side must be non-trivially exercised
    assert any(r[1] is None for r in got), "no null emissions seen"


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Crash-recovery contract: a file-source -> parquet-sink stream
    stopped after its first micro-batch and RESTARTED from the same
    checkpoint must produce every input row exactly once — the
    checkpoint (source offsets + sink commit log) is what turns
    at-least-once replay into exactly-once output. This is the
    recovery half of the exactly-once story; the sink-idempotency
    half is test_foreachbatch_idempotent_sink and the JDBC upsert
    sink test."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev = t(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    for i in range(4):  # 4 files -> 4 deterministic micro-batches
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )

    q = start()
    try:
        # stop after at least one committed batch, before all four
        while q.lastProgress is None or (
            q.lastProgress["numInputRows"] == 0 and q.recentProgress == []
        ):
            time.sleep(0.05)
        time.sleep(0.3)
    finally:
        q.stop()
    partial = spark.read.parquet(out).count()
    assert partial < ev.count(), "stream finished before the kill point"

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_topk_per_window(spark, events_stream_dir):
    """Top-k ranking applied over the materialized streaming sink must
    equal the batch composition — the documented foreachBatch /
    post-sink pattern for rank-after-aggregate in streams."""
    from gcp_etl_spark.streaming.windows import rank_topk

    path, schema = events_stream_dir
    batch = rank_topk(tumbling_agg(spark.read.schema(schema).parquet(path)))
    stream = tumbling_agg(spark.readStream.schema(schema).parquet(path))
    sink = run_stream(spark, stream, "complete")
    got = rank_topk(sink)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_static_join_equals_batch(spark, events_stream_dir):
    """Stream-static join + windowed agg as a REAL streaming query
    must equal the batch dual — the static dim is resolved per
    micro-batch, only the aggregation carries state."""
    from gcp_etl_spark.streaming.windows import static_enriched_agg

    path, schema = events_stream_dir
    dim = t(spark, SF_SMALL, "customer")
    batch = static_enriched_agg(spark.read.schema(schema).parquet(path), dim)
    stream = static_enriched_agg(
        spark.readStream.schema(schema).parquet(path), dim
    )
    assert stream.isStreaming
    got = run_stream(spark, stream, "complete")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_psi_drift_equals_batch(spark, events_stream_dir):
    """PSI drift as a REAL streaming query: the windowed bin count is
    the only stateful stage; share normalization + the static
    reference-profile join run post-sink (the foreachBatch pattern,
    like rank_topk). Streamed result must equal the batch dual."""
    from gcp_etl_spark.streaming.windows import (
        PSI_EDGES,
        psi_binned_counts,
        psi_drift,
        value_bin,
    )

    path, schema = events_stream_dir
    ev = spark.read.schema(schema).parquet(path)
    counts = (
        ev.select(value_bin(F.col("value"), PSI_EDGES).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("__rn"))
    )
    tot = counts.agg(F.sum("__rn").alias("__tot"))
    ref = counts.crossJoin(F.broadcast(tot)).select(
        "bin", (F.col("__rn") / F.col("__tot")).alias("p_ref")
    )
    batch = psi_drift(psi_binned_counts(ev), ref)
    stream = psi_binned_counts(
        spark.readStream.schema(schema).parquet(path)
    )
    assert stream.isStreaming
    sink = run_stream(spark, stream, "complete")
    got = psi_drift(sink, ref)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 StatefulProcessor API):
    final per-user running totals from the stream must equal the batch
    aggregation — the same equality streaming/stateful.py's
    applyInPandasWithState operator pins, through the successor API.
    Skips when the runtime can't run the protobuf-backed state server
    (this container's google.protobuf is broken; see streaming/tws.py)."""
    import pytest as _pytest

    from gcp_etl_spark.streaming import tws

    if not tws.available():
        _pytest.skip(
            "protobuf wheel absent (need protobuf==6.33.*, the runtime "
            "pyspark 4.1.2's generated StateMessage_pb2.py validates): "
            "the streaming python runner exits -2 with ImportError: "
            "cannot import name 'descriptor' from 'google.protobuf' — "
            "re-probed round 10 (find_spec('google') is None, wheel "
            "still absent), see streaming/tws.py"
        )
    from pyspark.sql import functions as F

    from gcp_etl_spark.tables import t as tt

    src = str(tmp_path / "src")
    ev = tt(spark, SF_SMALL, "events").select("user_id", "value")
    ev.filter("user_id % 2 = 0").coalesce(1).write.mode("overwrite").parquet(src)
    ev.filter("user_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("user_id")
    )
    out = tws.running_totals_tws(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_totals")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    res = spark.sql(
        "SELECT user_id, n_events, total_value, max_value FROM ("
        " SELECT *, row_number() OVER (PARTITION BY user_id"
        "  ORDER BY n_events DESC) rn FROM tws_totals) WHERE rn = 1"
    )
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("value").alias("max_value"),
    )
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6), r["max_value"])
        for r in res.collect()
    }
    exp = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6), r["max_value"])
        for r in want.collect()
    }
    assert got == exp


def test_stream_score_calibration_equals_batch(spark, events_stream_dir):
    """The live-calibration monitor as a REAL streaming query (one
    watermarked windowed agg; scoring fused as a map) must equal its
    batch dual."""
    from gcp_etl_spark.streaming.windows import score_calibration_windows

    path, schema = events_stream_dir
    batch = score_calibration_windows(spark.read.schema(schema).parquet(path))
    stream = score_calibration_windows(
        spark.readStream.schema(schema).parquet(path)
    )
    assert stream.isStreaming
    got = run_stream(spark, stream, "complete")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_latency_quantiles_equals_batch(spark, events_stream_dir):
    """Windowed percentile_approx as a REAL streaming aggregation: the
    GK sketch is a mergeable aggregation buffer, so p50/p95 run INSIDE
    the watermarked window groupBy (state = one sketch per window).
    Streamed result must equal the batch dual exactly (both run in the
    sketch's exact regime, accuracy >= rows per window)."""
    from gcp_etl_spark.streaming.windows import latency_quantiles_windowed

    path, schema = events_stream_dir
    batch = latency_quantiles_windowed(spark.read.schema(schema).parquet(path))
    stream = latency_quantiles_windowed(
        spark.readStream.schema(schema).parquet(path)
    )
    assert stream.isStreaming
    got = run_stream(spark, stream, "complete")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_latency_quantiles_approx_regime(spark, events_stream_dir):
    """Production accuracy (default 10000): the sketch's rank error is
    bounded by n / accuracy — assert the approximate p95 lands within
    the declared tolerance of the exact nearest-rank value."""
    from gcp_etl_spark.streaming.windows import latency_quantiles_windowed

    path, schema = events_stream_dir
    ev = spark.read.schema(schema).parquet(path)
    exact = {
        r["w_start"]: (r["p50_latency"], r["p95_latency"])
        for r in latency_quantiles_windowed(ev).collect()
    }
    approx = latency_quantiles_windowed(ev, accuracy=100).collect()
    for r in approx:
        # rank error <= n/accuracy -> value error bounded by the local
        # value spread; assert within 10% of the exact quantile here
        e50, e95 = exact[r["w_start"]]
        assert abs(r["p50_latency"] - e50) <= 0.1 * max(abs(e50), 1.0)
        assert abs(r["p95_latency"] - e95) <= 0.1 * max(abs(e95), 1.0)


@pytest.fixture(scope="module")
def documents_stream_dir(spark, tmp_path_factory):
    # 4 files = 4 deterministic micro-batches (maxFilesPerTrigger=1)
    d = tmp_path_factory.mktemp("docs_stream")
    docs = t(spark, SF_SMALL, "documents")
    src = str(d / "docs")
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    return src, docs.schema


def test_stream_dedup_minhash_equals_batch(spark, documents_stream_dir, tmp_path):
    """The UNION of per-epoch near-dup pairs (each micro-batch deduped
    against the accumulated store AND itself) must equal the one-shot
    batch relation minhash_estimate_pairs on the full table — the
    batching-invariance contract of the streaming dedup."""
    from gcp_etl_spark.llm.dedup import minhash_estimate_pairs
    from gcp_etl_spark.streaming.dedup_stream import (
        minhash_dedup_sink,
        read_pairs,
    )

    src, schema = documents_stream_dir
    store = str(tmp_path / "store")
    sink = minhash_dedup_sink(store, "doc_id", "text", threshold=0.7)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_pairs(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            minhash_estimate_pairs(
                spark.read.schema(schema).parquet(src),
                "doc_id",
                "text",
                threshold=0.7,
            ).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_stream_dedup_minhash_replay_idempotent(
    spark, documents_stream_dir, tmp_path
):
    """Replaying an epoch (at-least-once delivery before the
    checkpoint commit) must leave the observable pair store unchanged:
    the sink re-reads only earlier-epoch state and overwrites its own
    epoch partitions."""
    from gcp_etl_spark.streaming.dedup_stream import (
        minhash_dedup_sink,
        read_pairs,
    )

    src, schema = documents_stream_dir
    docs = spark.read.schema(schema).parquet(src)
    store = str(tmp_path / "store")
    sink = minhash_dedup_sink(store, "doc_id", "text", threshold=0.7)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)
    before = sorted(map(tuple, read_pairs(spark, store).collect()))
    assert len(before) > 0
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)  # replay epoch 1
    after = sorted(map(tuple, read_pairs(spark, store).collect()))
    assert after == before


def test_stream_curation_equals_batch(spark, documents_stream_dir, tmp_path):
    """End-of-stream curation manifest (dedup -> quality gate -> split
    -> token mass, maintained through the epoch-partitioned digest
    store) must equal the one-shot batch relation for any batching —
    survivors key on content digests and min-doc_id resolves at read,
    so slicing the stream can't change the result."""
    from gcp_etl_spark.queries.r6_ops import stream_curation_manifest
    from gcp_etl_spark.streaming.curation import curation_sink, read_manifest

    src, schema = documents_stream_dir
    store = str(tmp_path / "store")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(curation_sink(store))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, read_manifest(spark, store).collect()))
    want = sorted(
        map(tuple, stream_curation_manifest(spark, SF_SMALL).collect())
    )
    assert got == want and len(want) > 0


def test_stream_curation_replay_idempotent(spark, documents_stream_dir, tmp_path):
    """Replaying an epoch (at-least-once delivery before the checkpoint
    commit) leaves the manifest unchanged: the sink overwrites its own
    epoch partition and reads nothing."""
    from gcp_etl_spark.streaming.curation import curation_sink, read_manifest

    src, schema = documents_stream_dir
    docs = spark.read.schema(schema).parquet(src)
    store = str(tmp_path / "store")
    sink = curation_sink(store)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)
    before = sorted(map(tuple, read_manifest(spark, store).collect()))
    assert len(before) > 0
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)  # replay epoch 1
    after = sorted(map(tuple, read_manifest(spark, store).collect()))
    assert after == before


def test_stream_domain_caps_equals_batch(spark, documents_stream_dir, tmp_path):
    """Per-domain caps maintained incrementally (each epoch stores its
    own per-host top-cap candidates + arrival counts) must resolve to
    the one-shot batch election on the full table — top-k under a
    total order is mergeable, so the store is batching-invariant."""
    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.streaming.domain_caps import caps_sink, read_caps

    src, schema = documents_stream_dir
    store = str(tmp_path / "store")
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(caps_sink(store))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(map(tuple, read_caps(spark, store).collect()))
    want = sorted(
        map(
            tuple,
            load_all()["curation_domain_caps"].fn(spark, SF_SMALL).collect(),
        )
    )
    assert got == want and len(want) > 0


def test_stream_domain_caps_replay_idempotent(
    spark, documents_stream_dir, tmp_path
):
    """Replaying an epoch must leave the resolved caps unchanged (the
    sink overwrites its own epoch partitions and reads nothing)."""
    from gcp_etl_spark.streaming.domain_caps import caps_sink, read_caps

    src, schema = documents_stream_dir
    docs = spark.read.schema(schema).parquet(src)
    store = str(tmp_path / "store")
    sink = caps_sink(store)
    for i in range(3):
        sink(docs.filter(F.col("doc_id") % 3 == i), i)
    before = sorted(map(tuple, read_caps(spark, store).collect()))
    assert len(before) > 0
    sink(docs.filter(F.col("doc_id") % 3 == 1), 1)  # replay epoch 1
    after = sorted(map(tuple, read_caps(spark, store).collect()))
    assert after == before


def test_stream_gtest_drift_equals_batch(spark, events_stream_dir):
    """G-test independence drift as a REAL streaming query: the
    windowed contingency-cell count is the only stateful stage (counts
    merge, so the stage is batching-invariant); marginals + the
    log-likelihood fold run post-sink (the psi_drift foreachBatch
    pattern). Streamed result must equal the batch dual."""
    from gcp_etl_spark.streaming.windows import gtest_cells, gtest_drift

    path, schema = events_stream_dir
    batch = gtest_drift(gtest_cells(spark.read.schema(schema).parquet(path)))
    stream = gtest_cells(spark.readStream.schema(schema).parquet(path))
    assert stream.isStreaming
    sink = run_stream(spark, stream, "complete")
    got = gtest_drift(sink)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.collect())
    )
