"""Batch-checkable duals of the streaming operators
(SURVEY.md §2B "Streaming surface").

Each query runs the SAME function the streaming tests run over a
``readStream`` source (gcp_etl_spark.streaming.windows) — here on the
batch DataFrame, so the DuckDB oracle can check the windowing
semantics exactly. Streaming execution (watermarks, output modes,
state) is smoke-tested in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.queries.llm_ops import _URL_HID_SQL
from gcp_etl_spark.queries.prep_ops import (
    _CUR_MAX_CHARS,
    _CUR_MIN_CHARS,
    _DOMAIN_CAP,
    _SPLIT_TRAIN,
    _SPLIT_VAL,
)
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.queries.stats_ops import _BH_Q, _bh_crit_literals
from gcp_etl_spark.streaming.windows import (
    PSI_EDGES,
    psi_binned_counts,
    psi_drift,
    session_agg,
    sliding_agg,
    stream_dedup,
    tumbling_agg,
    value_bin,
)
from gcp_etl_spark.tables import t


@query(
    "stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_tumbling(spark, sf_dir):
    """Tumbling 10-minute windows per event type (epoch-aligned —
    identical to DuckDB time_bucket)."""
    return tumbling_agg(t(spark, sf_dir, "events"))


@query(
    "stream_sliding",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', value
      FROM events
    )
    SELECT w_start, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(value) AS avg_value
    FROM buckets GROUP BY w_start
    """,
    tags=("streaming", "window"),
)
def stream_sliding(spark, sf_dir):
    """Sliding windows (10 min width / 5 min slide): every event lands
    in exactly two windows — the oracle materializes both buckets."""
    return sliding_agg(t(spark, sf_dir, "events"))


@query(
    "stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
           max(ts) AS last_ts,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_no
    """,
    tags=("streaming", "window", "session"),
)
def stream_session(spark, sf_dir):
    """Gap-based session windows (30 min) per user — Spark
    session_window vs the classic gaps-and-islands SQL."""
    return session_agg(t(spark, sf_dir, "events"))


@query(
    "stream_dedup_keys",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_keys(spark, sf_dir):
    """Stateful-dedup dual: first event per (user, type). Batch uses
    an explicit earliest-wins rule so the result is deterministic
    (streaming arrival order == event-time order in the fixture)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@query(
    "stream_dedup_exact_ids",
    # event_id is unique in the fixture, so the arbitrary-pick hazard
    # of dedup-by-id is moot and the operator must be the identity —
    # which the oracle checks value-for-value (the interesting
    # duplicate-carrying path is stream_dedup_keys' row_number form).
    oracle="""
    SELECT user_id, event_type, event_id, ts, value, props FROM events
    """,
    tags=("streaming", "dedup"),
)
def stream_dedup_exact_ids(spark, sf_dir):
    """dropDuplicates on event_id — the streaming watermarked-dedup
    operator run in batch mode. Value-checked: ids are unique in the
    fixture, so dedup must pass every row through untouched."""
    return stream_dedup(t(spark, sf_dir, "events"), keys=("event_id",))


@query(
    "stream_join_attribution",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS v_user
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    tags=("streaming", "join"),
)
def stream_join_attribution(spark, sf_dir):
    """Batch dual of the watermarked stream-stream interval join
    (streaming/windows.py::view_purchase_join — real streaming
    execution asserted in tests/test_streaming.py): view->purchase
    attribution within 60 minutes per user."""
    from gcp_etl_spark.streaming.windows import view_purchase_join

    e = t(spark, sf_dir, "events")
    return view_purchase_join(
        e.filter(F.col("event_type") == "view"),
        e.filter(F.col("event_type") == "purchase"),
    )


@query(
    "stream_join_unattributed",
    oracle="""
    SELECT v.event_id AS view_id, v.user_id AS v_user
    FROM events v
    WHERE v.event_type = 'view'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = v.user_id
          AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
      )
    ORDER BY view_id
    """,
    tags=("streaming", "join", "outer"),
)
def stream_join_unattributed(spark, sf_dir):
    """Batch dual of the watermarked LEFT OUTER stream-stream join:
    views with NO purchase in the attribution window (the null-
    emission side — in streaming, these rows emit exactly when the
    watermark proves no future purchase can match; subset/equality vs
    batch asserted in tests/test_streaming.py). The oracle states the
    same set as NOT EXISTS."""
    from gcp_etl_spark.streaming.windows import view_purchase_join

    e = t(spark, sf_dir, "events")
    return (
        view_purchase_join(
            e.filter(F.col("event_type") == "view"),
            e.filter(F.col("event_type") == "purchase"),
            how="left_outer",
        )
        .filter(F.col("purchase_id").isNull())
        .select("view_id", "v_user")
        .orderBy("view_id")
    )


@query(
    "stream_topk_types",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, event_type,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT w_start, event_type, n_events, sum_value, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY w_start ORDER BY n_events DESC, event_type) AS rk
      FROM b
    ) WHERE rk <= 3
    """,
    tags=("streaming", "window", "topk"),
)
def stream_topk_types(spark, sf_dir):
    """Trending-now: top-3 event types per tumbling 10-minute window —
    the streaming leaderboard shape. The windowed count is the
    stream-safe aggregation (``tumbling_agg``); the rank runs over the
    aggregated relation (per micro-batch via foreachBatch in a live
    stream — see ``rank_topk``); the DuckDB oracle is the identical
    time_bucket + QUALIFY-style rank.
    """
    from gcp_etl_spark.streaming.windows import rank_topk, tumbling_agg

    return rank_topk(tumbling_agg(t(spark, sf_dir, "events")), k=3).select(
        "w_start", "event_type", "n_events", "sum_value", "rk"
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', e.ts) AS w_start,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "window"),
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the event stream joins the bounded
    customer dimension (broadcast, re-resolved per micro-batch — no
    join state, no dim watermark), then windowed counts/sums per
    market segment. The batch dual is the identical plan; real
    readStream equality is asserted in tests/test_streaming.py.
    """
    from gcp_etl_spark.streaming.windows import static_enriched_agg

    return static_enriched_agg(
        t(spark, sf_dir, "events"), t(spark, sf_dir, "customer")
    )


@query(
    "stream_gtest_drift",
    oracle="""
    WITH cells AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             event_type AS r,
             CASE WHEN value > 49.0 THEN 1 ELSE 0 END AS c,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3
    ), m AS (
      SELECT w_start, r, c, n,
             sum(n) OVER (PARTITION BY w_start, r) AS rt,
             sum(n) OVER (PARTITION BY w_start, c) AS ct,
             sum(n) OVER (PARTITION BY w_start) AS nn
      FROM cells
    )
    SELECT w_start, CAST(sum(n) AS BIGINT) AS n,
           CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1)
                AS BIGINT) AS dof,
           round(CAST(sum(CAST(2.0 * n
                               * ln(CAST(n AS DOUBLE) * nn / (rt * ct))
                               AS DECIMAL(28,12))) AS DOUBLE), 6) AS g
    FROM m GROUP BY w_start
    """,
    tags=("streaming", "dq", "drift", "stats", "events"),
)
def stream_gtest_drift(spark, sf_dir):
    """STREAMING INDEPENDENCE-DRIFT monitor — the always-on windowed
    version of stats_g_test: per daily tumbling window, the G
    statistic of the event-type × value-threshold contingency table.
    The windowed cell count (``gtest_cells``) is the only stateful
    streaming stage (counts merge — batching-invariant by
    construction); marginals + the decimal-cast log-likelihood fold
    run per micro-batch via foreachBatch (``gtest_drift``, the
    psi_drift pattern). Streaming-vs-batch equality is asserted in
    tests/test_streaming.py; here the batch dual is value-checked
    against DuckDB.

    Scale: state = (windows in watermark) × |types| × 2 cells; the
    read-time fold runs on that bounded relation."""
    from gcp_etl_spark.streaming.windows import gtest_cells, gtest_drift

    return gtest_drift(gtest_cells(t(spark, sf_dir, "events")))


@query(
    "stream_psi_drift",
    oracle="""
    WITH binned AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             1 + len(list_filter([5.0, 15.0, 35.0, 70.0, 115.0],
                                 x -> x < value)) AS bin
      FROM events
    ), tgt AS (
      SELECT w_start, bin, count(*) AS n FROM binned GROUP BY 1, 2
    ), tot AS (
      SELECT w_start, sum(n) AS wn FROM tgt GROUP BY 1
    ), ref AS (
      SELECT bin, count(*) * 1.0 / (SELECT count(*) FROM binned) AS p_ref
      FROM binned GROUP BY bin
    )
    SELECT t.w_start, CAST(t.bin AS BIGINT) AS bin,
           round(t.n * 1.0 / tot.wn, 6) AS p_tgt,
           round(ref.p_ref, 6) AS p_ref,
           round((t.n * 1.0 / tot.wn - ref.p_ref)
                 * ln((t.n * 1.0 / tot.wn) / ref.p_ref), 6)
             AS psi_contribution
    FROM tgt t JOIN tot USING (w_start) JOIN ref USING (bin)
    """,
    tags=("streaming", "dq", "drift", "events"),
)
def stream_psi_drift(spark, sf_dir):
    """STREAMING PSI DRIFT dual — the always-on version of
    dq_value_drift_psi: daily tumbling-window value-bin shares vs a
    static reference profile, per-bin PSI contributions. The windowed
    bin count (psi_binned_counts) is the only stateful streaming stage
    (state = windows-in-watermark x 6 bins); the share normalization +
    reference join run per micro-batch via foreachBatch (rank_topk
    pattern). Streaming-vs-batch equality asserted in
    tests/test_streaming.py; here the batch dual is value-checked vs
    DuckDB.

    The bin edges are FIXED literals (fitted offline, shipped with the
    job — same deployment shape as a pretrained tokenizer's merges);
    the reference profile is a static relation computed once from the
    reference corpus (here: the whole batch table)."""
    e = t(spark, sf_dir, "events")
    counts = (
        e.select(value_bin(F.col("value"), PSI_EDGES).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("__rn"))
    )
    tot = counts.agg(F.sum("__rn").alias("__tot"))
    ref = counts.crossJoin(F.broadcast(tot)).select(
        "bin", (F.col("__rn") / F.col("__tot")).alias("p_ref")
    )
    return psi_drift(psi_binned_counts(e), ref)


# ------------------------------------ streaming calibration monitor
def _score_w():
    from gcp_etl_spark.streaming.windows import SCORE_W

    return SCORE_W


@query(
    "stream_score_calibration",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
           count(*) AS n,
           round(avg(1.0/(1.0 + exp(-({_score_w()[0]}
                 + {_score_w()[1]} * (value / 100.0)
                 + {_score_w()[2]} * (hour(ts) / 24.0))))), 6)
             AS mean_predicted,
           round(avg(CASE WHEN event_type = 'purchase'
                     THEN 1.0 ELSE 0.0 END), 6) AS actual_rate
    FROM events GROUP BY 1
    """,
    tags=("streaming", "window", "classifier", "calibration"),
)
def stream_score_calibration(spark, sf_dir):
    """Batch dual of the streaming LIVE-CALIBRATION monitor
    (``streaming/windows.py::score_calibration_windows``): per
    tumbling day-window, mean predicted probability of a SHIPPED
    logistic quality model vs the actual positive rate. Streaming
    execution (watermark, state bounded by windows × nothing) is
    pinned by tests/test_streaming.py::
    test_stream_score_calibration_equals_batch; this dual lets DuckDB
    value-verify the windowing + scoring algebra exactly
    (epoch-aligned F.window ≡ time_bucket)."""
    from gcp_etl_spark.streaming.windows import score_calibration_windows

    return score_calibration_windows(t(spark, sf_dir, "events"))


# ------------------------------- streaming latency-quantile monitor
@query(
    "stream_latency_quantiles",
    # percentile_approx run in its EXACT regime (accuracy >= rows per
    # window) == nearest-rank quantile_disc — the agg_approx_quantile
    # policy; the approximate regime is tolerance-asserted in
    # tests/test_streaming.py alongside the equality test
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
           quantile_disc(value, 0.5)  AS p50_latency,
           quantile_disc(value, 0.95) AS p95_latency,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("streaming", "window", "approx", "events"),
)
def stream_latency_quantiles(spark, sf_dir):
    """STREAMING WINDOWED QUANTILES dual — p50/p95 of events.value per
    daily tumbling window via percentile_approx, the canonical
    always-on latency monitor next to stream_psi_drift. The GK sketch
    is a mergeable aggregation buffer, so the quantile runs INSIDE the
    watermarked streaming groupBy (state = one fixed-size sketch per
    in-watermark window); streaming-vs-batch equality is asserted in
    tests/test_streaming.py::test_stream_latency_quantiles_equals_batch.

    Here the batch dual runs at accuracy >= window row count, where
    GK provably collapses to exact nearest-rank — value-checked
    against DuckDB quantile_disc."""
    from gcp_etl_spark.streaming.windows import latency_quantiles_windowed

    e = t(spark, sf_dir, "events")
    return latency_quantiles_windowed(e).orderBy("w_start")


# --------------------------------- streaming incremental minhash dedup


@query("stream_dedup_minhash", oracle=None, tags=("streaming", "llm", "dedup", "lsh"))
def stream_dedup_minhash(spark, sf_dir):
    """STREAMING MINHASH DEDUP dual — the dedup family's streaming
    member (r5 VERDICT ask #5): each arriving micro-batch is deduped
    against the accumulated corpus through a persistent signature +
    bucket store (streaming/dedup_stream.py, foreachBatch, epoch-
    partitioned parquet state, replay-idempotent). This registered
    batch dual is llm/dedup.py::minhash_estimate_pairs — LSH banded
    candidates scored by signature-estimated Jaccard — which the
    streamed union of per-epoch pair sets equals EXACTLY for any
    batching (tests/test_streaming.py::
    test_stream_dedup_minhash_equals_batch; replay idempotence in
    test_stream_dedup_minhash_replay_idempotent).

    No SQL oracle by design (LSH banding + MD5-seeded permutations are
    not reasonably SQL-replicable — same policy as dedup_minhash);
    correctness is pinned by the streaming-equality + replay pytests
    and the family's recall tests.

    100 TB: per-epoch cost is O(|batch| + matched buckets); corpus
    text is hashed once at arrival, after which only 512 B signatures
    and 24 B bucket rows participate. Scoring payload is fixed-width —
    document size never rides a shuffle."""
    from gcp_etl_spark.llm.dedup import minhash_estimate_pairs

    d = t(spark, sf_dir, "documents")
    # one-shot query shape: lazy plan, no eager materialization pass,
    # signature blocks ContextCleaner-freed when the plan is dropped
    return minhash_estimate_pairs(
        d, id_col="doc_id", text_col="text", threshold=0.7,
        materialize=False,
    ).orderBy("id_a", "id_b")


# ------------------------------------- streaming curation manifest
@query(
    "stream_curation_manifest",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, text, n_chars, md5(text) AS h FROM documents
    ),
    surv AS (SELECT h, min(doc_id) AS doc_id FROM h GROUP BY h),
    kept AS (
      SELECT hh.h, hh.lang, hh.text FROM h hh
      JOIN surv USING (h, doc_id)
      WHERE hh.n_chars BETWEEN {_CUR_MIN_CHARS} AND {_CUR_MAX_CHARS}
    ),
    assigned AS (
      SELECT lang,
             CASE WHEN u < {_SPLIT_TRAIN} THEN 'train'
                  WHEN u < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split,
             len(list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '')) AS n_toks
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5(h), 1, 8)) AS UBIGINT)
                 / 4294967296.0 AS u
        FROM kept
      )
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("streaming", "llm", "pipeline", "dedup", "prep"),
)
def stream_curation_manifest(spark, sf_dir):
    """STREAMING CURATION dual — the always-on ingestion half of
    ``pipeline_curation_e2e``: each arriving micro-batch is exact-
    deduped, quality-gated, token-counted and split-assigned through a
    persistent digest store (streaming/curation.py, foreachBatch,
    epoch-partitioned parquet, replay-idempotent), and the manifest is
    the min-doc_id-per-digest view of that store. Because survivors
    key on the CONTENT digest (dedup, split draw) and min-id resolves
    at read, the end-of-stream manifest equals this batch relation for
    ANY batching of the stream (tests/test_streaming.py::
    test_stream_curation_equals_batch; replay idempotence alongside).

    This registered batch dual runs the identical per-batch algebra
    (``curate_batch``) over the full table and aggregates — fully
    value-verified by the five-stage SQL oracle.

    100 TB: per-epoch cost is O(|batch|) maps plus a digest append;
    the manifest aggregation touches ~60 B rows, never text."""
    from gcp_etl_spark.streaming.curation import curate_batch

    d = t(spark, sf_dir, "documents")
    cur = curate_batch(d, _CUR_MIN_CHARS, _CUR_MAX_CHARS)
    return (
        cur.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("split", "lang")
    )


# ----------------------------------------------- streaming ANN probe
@query(
    "stream_ann_probe",
    # rows-only by design (k-means quantizer). The STREAMING side is
    # pinned by tests/test_r7.py::test_stream_ann_probe_equals_batch
    # (per-micro-batch results union == this batch relation, with
    # partition pruning asserted in every micro-batch's executed plan)
    # and ::test_stream_ann_probe_replay_idempotent.
    oracle=None,
    tags=("streaming", "llm", "ann", "ivf", "partition-pruning"),
)
def stream_ann_probe(spark, sf_dir):
    """STREAMING TOP-K ANN SERVING dual (r6 verdict ask #7): the
    partitioned IVF index was persisted and probed in batch only —
    this completes the serving story. Micro-batches of query vectors
    arrive via foreachBatch (streaming/ann_stream.py), each batch
    collects its |centroids|-bounded probe list, reads ONLY those
    inverted-list directories (static partition pruning per
    micro-batch), scores through the SAME probe_topk used here, and
    appends epoch-partitioned, replay-idempotent results.

    This registered batch dual: build the partitioned index from the
    embeddings corpus, probe it with every query vector the stream
    would deliver (vec_id % 37 == 0), return the per-query top-5 —
    the relation the streamed epochs union to exactly, however the
    stream is batched (each query vector is scored independently
    against the static index, so the dual holds for ANY batching)."""
    from gcp_etl_spark.scratch import scratch_dir
    from gcp_etl_spark.streaming.ann_stream import (
        build_partitioned_index,
        probe_relation,
        probe_topk,
        prune_index,
    )

    emb = t(spark, sf_dir, "embeddings")
    idx, centers = build_partitioned_index(
        emb, scratch_dir("ann_serve_idx"), n_centroids=8
    )
    q = probe_relation(
        emb.filter(F.col("vec_id") % 37 == 0), centers, nprobe=2
    )
    return probe_topk(prune_index(idx, q), q, k=5).orderBy("q_id", "rn")


@query(
    "stream_domain_caps",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             'h' || CAST({_URL_HID_SQL} AS VARCHAR) || '.example.com'
               AS host
      FROM documents
    ), r AS (
      SELECT host, doc_id,
             count(*) OVER (PARTITION BY host) AS n_host_docs,
             row_number() OVER (PARTITION BY host
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM u
    )
    SELECT host, doc_id, CAST(rk AS BIGINT) AS rk,
           CAST(n_host_docs AS BIGINT) AS n_host_docs
    FROM r WHERE rk <= {_DOMAIN_CAP}
    """,
    tags=("streaming", "llm", "curation", "url"),
)
def stream_domain_caps(spark, sf_dir):
    """STREAMING PER-DOMAIN CAPS dual (the curation family's always-on
    member): each arriving micro-batch stores only its own per-host
    top-cap candidates (≤ cap × hosts rows, text never enters state)
    plus mergeable arrival counts; top-k under a total order is a
    MERGEABLE aggregate, so the read-time resolution equals this batch
    election exactly for ANY batching (equality + replay-idempotence
    pinned in tests/test_streaming.py). This registered dual computes
    the batch relation through the SAME shared per-batch reducers the
    foreachBatch sink uses (streaming/domain_caps.py)."""
    from gcp_etl_spark.streaming.domain_caps import (
        batch_candidates,
        batch_counts,
    )

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    kept = batch_candidates(d, _DOMAIN_CAP)
    counts = batch_counts(d).select(
        "host", F.col("n").cast("long").alias("n_host_docs")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        kept.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _DOMAIN_CAP)
        .join(counts, "host")
        .select(
            "host", "doc_id", F.col("rk").cast("long").alias("rk"),
            "n_host_docs",
        )
    )


# -------------------------------------------- streaming W1 drift dual
@query(
    "stream_wasserstein_drift",
    oracle="""
    WITH ref AS (
      SELECT CAST(floor(value) AS BIGINT) AS b, count(*) AS n_ref
      FROM events GROUP BY 1
    ), win AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             CAST(floor(value) AS BIGINT) AS b, count(*) AS n
      FROM events GROUP BY 1, 2
    ), grid AS (
      SELECT w.w_start, r.b, r.n_ref, coalesce(win.n, 0) AS n
      FROM (SELECT DISTINCT w_start FROM win) w
      CROSS JOIN ref r
      LEFT JOIN win ON win.w_start = w.w_start AND win.b = r.b
    ), cum AS (
      SELECT w_start, b,
             sum(n) OVER (PARTITION BY w_start ORDER BY b) AS cw,
             sum(n_ref) OVER (PARTITION BY w_start ORDER BY b) AS cr,
             lead(b) OVER (PARTITION BY w_start ORDER BY b) AS b_next,
             sum(n) OVER (PARTITION BY w_start) AS nw,
             sum(n_ref) OVER (PARTITION BY w_start) AS nr
      FROM grid
    )
    SELECT w_start, CAST(nw AS BIGINT) AS n_window,
           round(CAST(sum(abs(cw * nr - cr * nw) * (b_next - b))
                      AS DOUBLE)
                 / (CAST(nw AS DOUBLE) * nr), 6) AS w1_drift
    FROM cum WHERE b_next IS NOT NULL
    GROUP BY w_start, nw, nr
    ORDER BY w_start
    """,
    tags=("streaming", "drift", "wasserstein", "events"),
)
def stream_wasserstein_drift(spark, sf_dir):
    """WINDOWED WASSERSTEIN-1 DRIFT MONITOR (the METRIC member of the
    drift family: PSI and the G-test see reshuffled mass, W₁ also
    sees how FAR it moved along the value axis — a price distribution
    sliding up 10% moves W₁ proportionally while PSI just saturates):
    per tumbling day-window, the exact W₁ between the window's
    floor(value)-bucket distribution and the full-corpus reference
    profile, via the integer CDF-difference identity
    (stats_wasserstein_1d).

    Streaming shape (the psi_drift convention): the additive windowed
    bucket count (streaming/windows.py::w1_binned_counts) is the ONLY
    stateful stage — counts merge across micro-batches, so the monitor
    is batching-invariant (pytest-pinned by splitting the corpus and
    merging); the per-window fold runs per micro-batch via
    foreachBatch in a live stream, identically here in batch.

    Scale: state is |windows-in-watermark| × |buckets|; the fold's
    windows run per w_start partition over the already-aggregated
    grid."""
    from gcp_etl_spark.streaming.windows import (
        w1_binned_counts,
        w1_drift,
    )

    e = t(spark, sf_dir, "events")
    ref = e.groupBy(F.floor("value").cast("long").alias("b")).agg(
        F.count("*").alias("n_ref")
    )
    win = w1_binned_counts(e, watermark=None)
    return w1_drift(win, ref).orderBy("w_start")


# ------------- streaming BH-FDR multi-group drift monitor (r10)
def _fdr_drift_oracle_sql() -> str:
    crits = _bh_crit_literals(m=5, q=_BH_Q)
    vals = ", ".join(f"({i + 1}, {c!r})" for i, c in enumerate(crits))
    return f"""
    WITH f AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             event_type AS g,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), ref AS (
      SELECT g, CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                  / count(*) AS mu,
             sqrt(CAST(sum(CAST(cents AS DECIMAL(38,0))
                           * CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                    / count(*)
                  - (CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                       / count(*))
                    * (CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
                         / count(*))) AS sd
      FROM f GROUP BY g
    ), wm AS (
      SELECT w_start, g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sc
      FROM f GROUP BY 1, 2
    ), z AS (
      SELECT w.w_start, w.g, w.n,
             abs((w.sc / w.n - r.mu) * sqrt(CAST(w.n AS DOUBLE)) / r.sd)
               AS az
      FROM wm w JOIN ref r ON r.g = w.g
    ), crit(i, zc) AS (VALUES {vals}),
    ranked AS (
      SELECT w_start, g, n, az,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY az DESC, g) AS i
      FROM z
    ), marked AS (
      SELECT r.*, CASE WHEN r.az >= CAST(c.zc AS DOUBLE)
                       THEN r.i ELSE 0 END AS hit
      FROM ranked r JOIN crit c ON c.i = r.i
    ), kk AS (
      SELECT w_start, max(hit) AS k FROM marked GROUP BY w_start
    )
    SELECT m.w_start, m.g, CAST(m.n AS BIGINT) AS n_events,
           round(m.az, 6) AS abs_z,
           CAST(m.i AS BIGINT) AS rank_desc,
           (m.i <= kk.k) AS drifted
    FROM marked m JOIN kk USING (w_start)
    ORDER BY m.w_start, m.g
    """


@query(
    "stream_fdr_drift",
    oracle=_fdr_drift_oracle_sql(),
    tags=("streaming", "drift", "fdr", "multiple-testing", "events"),
)
def stream_fdr_drift(spark, sf_dir):
    """STREAMING BH-FDR MULTI-GROUP DRIFT MONITOR — the multiple-
    testing upgrade of the drift family (psi / G-test / Wasserstein
    monitors watch ONE statistic; a segmented dashboard watches m and
    needs FDR control or it pages 'alpha x m' false alarms by
    design): per tumbling day-window, one z-test per event_type of
    windowed mean value vs the static per-type reference profile,
    then the Benjamini-Hochberg step-up WITHIN the window decides
    which drifts survive at q={_BH_Q}. Critical |z| values are
    Acklam literals (no in-engine erf — the stats_bh_fdr contract).

    Stream-safety: the windowed per-group moment agg
    (streaming/windows.py::group_moment_windows — exact DECIMAL sums,
    additive, batching-invariance pinned by the split-and-merge
    pytest) is the ONLY stateful stage; the z/BH algebra is a
    projection plus an m-row per-window sort. The reference profile
    is a static broadcast, exactly like psi_drift's.

    Under this IID fixture the per-window null is TRUE, so windows
    reject nothing or noise-rarely — the pytest pins batching
    invariance and the BH mechanics, not a fake drift."""
    from gcp_etl_spark.streaming.windows import (
        fdr_drift,
        group_moment_windows,
    )

    e = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    ref = e.groupBy(F.col("event_type").alias("g")).agg(
        (
            F.sum(cents.cast("decimal(38,0)")).cast("double") / F.count("*")
        ).alias("mu"),
        F.sqrt(
            F.sum(
                cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")
            ).cast("double")
            / F.count("*")
            - (
                F.sum(cents.cast("decimal(38,0)")).cast("double")
                / F.count("*")
            )
            * (
                F.sum(cents.cast("decimal(38,0)")).cast("double")
                / F.count("*")
            )
        ).alias("sd"),
    )
    crits = _bh_crit_literals(m=5, q=_BH_Q)
    crit = spark.createDataFrame(
        [(i + 1, c) for i, c in enumerate(crits)], "i int, zc double"
    )
    wm = group_moment_windows(e, watermark=None).select(
        "w_start", "g", "n", "sc"
    )
    return fdr_drift(wm, ref, crit).orderBy("w_start", "g")


# ---------------- streaming windowed quantile monitor (r11 extra)
@query(
    "stream_quantile_monitor",
    oracle="""
    WITH win AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS w_start,
             CAST(floor(value) AS BIGINT) AS b, count(*) AS n
      FROM events GROUP BY 1, 2
    ), cum AS (
      SELECT w_start, b,
             sum(n) OVER (PARTITION BY w_start ORDER BY b) AS cum,
             sum(n) OVER (PARTITION BY w_start) AS N
      FROM win
    )
    SELECT w_start,
           CAST(max(N) AS BIGINT) AS n_window,
           -- integer-exact crossing tests: cum*den >= num*N is
           -- ceil(num*N/den) <= cum without any float product
           CAST(min(b) FILTER (cum * 2 >= 1 * N) AS BIGINT)
             AS p50_bucket,
           CAST(min(b) FILTER (cum * 10 >= 9 * N) AS BIGINT)
             AS p90_bucket,
           CAST(min(b) FILTER (cum * 100 >= 99 * N) AS BIGINT)
             AS p99_bucket
    FROM cum GROUP BY w_start ORDER BY w_start
    """,
    tags=("streaming", "quantiles", "monitoring", "events"),
)
def stream_quantile_monitor(spark, sf_dir):
    """STREAMING WINDOWED QUANTILE MONITOR — per tumbling day-window,
    the p50/p90/p99 of the event value as integer BUCKET-CDF crossing
    points (smallest floor(value) bucket whose cumulative count
    reaches ceil(q*N)): the latency/value-dashboard member of the
    drift family (PSI sees reshuffled mass, W1 sees moved mass, this
    sees the headline percentiles every SLO dashboard plots).

    Streaming shape (the psi/w1 convention): the additive windowed
    bucket count (streaming/windows.py::w1_binned_counts) is the ONLY
    stateful stage — counts merge across micro-batches, so the
    monitor is batching-invariant (pinned in tests/test_r11.py by
    split-and-merge); the CDF crossing runs per window partition over
    the already-aggregated grid. Unlike a partition-dependent sketch,
    bucket quantiles are EXACT integers — the streaming quantile path
    stays hash-verified end to end.

    Scale: state is |windows-in-watermark| x |buckets|; the per-window
    fold touches only the bounded bucket grid. The unbounded-accuracy
    batch sibling is agg_kll_quantile_sketch / operators.quantiles."""
    from gcp_etl_spark.streaming.windows import (
        w1_binned_counts,
        window_bucket_quantiles,
    )

    e = t(spark, sf_dir, "events")
    win = w1_binned_counts(e, watermark=None)
    return window_bucket_quantiles(
        win, {"p50_bucket": 0.50, "p90_bucket": 0.90, "p99_bucket": 0.99}
    ).orderBy("w_start")


# --------- streaming windowed KLL quantile monitor (r11 ask #7)
_KLL_PROBS = {"p50_est": 0.50, "p90_est": 0.90, "p99_est": 0.99}


@query(
    "stream_kll_window_quantiles",
    # rows-only by design: sketch survivors depend on partitioning, so
    # no engine-independent SQL oracle exists. Pinned instead in
    # tests/test_r12.py: per-window rank error <= 2% vs exact sorted
    # ranks, per-window total weight == exact row count (mass),
    # streaming-vs-batch bit-equality over the same epoch splits,
    # batching-invariance of mass + error class, replay idempotence.
    oracle=None,
    tags=("streaming", "quantiles", "sketch", "kll", "events"),
)
def stream_kll_window_quantiles(spark, sf_dir):
    """STREAMING WINDOWED KLL QUANTILE MONITOR (batch-mode execution
    of the streaming/kll_stream.py stage, the stream_quantile_monitor
    convention): per tumbling day-window, p50/p90/p99 ESTIMATES of the
    raw event value from per-(window, partition) KLL compactor stacks.

    The exact bucket-CDF monitor (stream_quantile_monitor) needs a
    bounded integer bucket grid; this sketch tier handles
    unbounded-precision values at bounded memory and is the one a 100
    TB latency dashboard actually runs: raw values NEVER shuffle (each
    scan task folds its rows into per-window stacks and emits <=
    k*levels survivors), the union of emissions across tasks or
    micro-batches IS the merged sketch, and the estimate is one
    cumulative window PARTITIONED BY w_start with integer-exact
    rational crossing tests (cum*den >= num*W in longs).

    Scale: sketch relation is #tasks * |windows| * k * levels rows —
    set by the sketch parameters and window policy, not the data; the
    streaming dual persists the identical rows per epoch and merges by
    union (tests pin equality). Sibling tiers: agg_kll_quantile_sketch
    (unwindowed), operators/quantiles.py (exact two-pass)."""
    from gcp_etl_spark.streaming.kll_stream import window_sketches
    from gcp_etl_spark.operators.kll import (
        windowed_quantiles_from_sketch,
    )

    e = t(spark, sf_dir, "events")
    sk = window_sketches(e, "ts", "value", k=256, window="1 day")
    est = windowed_quantiles_from_sketch(sk, "w_start", _KLL_PROBS)
    return est.select(
        "w_start",
        "weighted_n",
        F.round("p50_est", 6).alias("p50_est"),
        F.round("p90_est", 6).alias("p90_est"),
        F.round("p99_est", 6).alias("p99_est"),
    ).orderBy("w_start")
