"""Training-data pipeline prep & data-quality operators (round-4).

Fills the remaining prep gaps a 100 TB curation pipeline hits daily:
sub-document (sentence-level) exact dedup, deterministic stratified
sampling, composite quality scoring, freshness/uniqueness DQ audits,
embedding scalar quantization, and exact cosine range search. Each is
a DuckDB-oracle-gated declared query; the scale notes on each explain
why the plan survives a 1000-executor cluster.

All NS extensions — the reference's data surface has none of these
(SURVEY.md §2A)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.functions.hashing import md5_draw
from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.operators.quantiles import exact_quantiles
from gcp_etl_spark.queries.llm_ops import _URL_HID_SQL
from gcp_etl_spark.queries.ml_ops import (
    _GD_ITERS,
    _GD_LR,
    _gd_oracle_sql,
    _logreg_feats,
    _sigmoid,
)
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.queries.text_ops import _PPL_HELDOUT_SRC
from gcp_etl_spark.tables import t


@query(
    "dedup_paragraph_exact",
    oracle="""
    WITH norm AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
      FROM documents
    ), sent AS (
      SELECT DISTINCT doc_id, md5(sraw) AS h
      FROM (SELECT doc_id, unnest(string_split(s, '. ')) AS sraw FROM norm)
      WHERE sraw <> ''
    ), df AS (
      SELECT h, count(*) AS docs FROM sent GROUP BY 1
    ), per_doc AS (
      SELECT s.doc_id,
             count(*) AS n_sents,
             count(*) FILTER (df.docs > 1) AS n_dup_sents
      FROM sent s JOIN df ON df.h = s.h
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_dup_sents AS BIGINT) AS n_dup_sents,
           round(n_dup_sents * 1.0 / n_sents, 6) AS dup_ratio
    FROM per_doc WHERE n_dup_sents > 0
    """,
    tags=("llm", "dedup", "documents"),
)
def dedup_paragraph_exact(spark, sf_dir):
    """SUB-DOCUMENT exact dedup: split each normalized document into
    sentences ('. ' boundaries), hash each distinct sentence, and
    report per-doc how many of its sentences also appear in at least
    one OTHER document — the sentence-level boilerplate/quote detector
    that whole-doc hashing misses entirely.

    Scale: only (doc_id, sentence_md5) pairs shuffle (never sentence
    text); the document-frequency relation is vocabulary-sized and the
    per-doc rollup is one hash aggregate. This is the C4/RefinedWeb
    'repeated line removal' shape expressed relationally."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    sent = (
        d.select("doc_id", F.explode(F.split(norm, r"\. ")).alias("sraw"))
        .filter(F.col("sraw") != "")
        .select("doc_id", F.md5("sraw").alias("h"))
        .distinct()
    )
    df = sent.groupBy("h").agg(F.count("*").alias("docs"))
    per = (
        sent.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sents"),
            F.count(F.when(F.col("docs") > 1, 1)).alias("n_dup_sents"),
        )
        .filter(F.col("n_dup_sents") > 0)
    )
    return per.select(
        "doc_id",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.col("n_dup_sents").cast("long").alias("n_dup_sents"),
        F.round(F.col("n_dup_sents") * 1.0 / F.col("n_sents"), 6).alias(
            "dup_ratio"
        ),
    )


@query(
    "sample_stratified_exact",
    oracle="""
    WITH ranked AS (
      SELECT lang, source, doc_id,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             count(*) OVER (PARTITION BY lang, source) AS n_total
      FROM documents
    ), taken AS (
      SELECT lang, source, n_total, doc_id
      FROM ranked WHERE rn <= ceil(0.1 * n_total)
    )
    SELECT lang, source,
           CAST(max(n_total) AS BIGINT) AS n_total,
           CAST(count(*) AS BIGINT) AS n_taken,
           CAST(sum(doc_id) AS BIGINT) AS taken_id_sum
    FROM taken GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("sampling", "scale-pattern", "documents"),
)
def sample_stratified_exact(spark, sf_dir):
    """DETERMINISTIC stratified sampling: exactly ceil(10% of stratum)
    documents per (lang, source) stratum, chosen by md5(doc_id) order —
    a content-independent, rerun-stable pseudo-random order (the
    standard hash-ordering trick for reproducible samples with NO rand()
    nondeterminism across retries/partitionings). Emits per-stratum
    take counts plus the taken-id sum as the sample fingerprint.

    Scale: the rank window partitions by stratum (parallel across
    strata; within-stratum sort is the unavoidable cost of EXACT
    per-stratum quotas — for approximate quotas use sample_weighted_
    priority). No driver collect, no rand()."""
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("lang", "source")
    ranked = d.select(
        "lang",
        "source",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n_total"),
    )
    taken = ranked.filter(
        F.col("rn") <= F.ceil(0.1 * F.col("n_total"))
    )
    return (
        taken.groupBy("lang", "source")
        .agg(
            F.max("n_total").cast("long").alias("n_total"),
            F.count("*").cast("long").alias("n_taken"),
            F.sum("doc_id").cast("long").alias("taken_id_sum"),
        )
        .orderBy("lang", "source")
    )


@query(
    "quality_composite_score",
    oracle="""
    WITH feat AS (
      SELECT doc_id, source,
             len(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ',
                 'g'), ' ')) AS n_words,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) * 1.0
               / greatest(length(text), 1) AS punct_ratio,
             len(list_filter(string_split(regexp_replace(trim(lower(text)),
                 '\\s+', ' ', 'g'), ' '),
                 w -> w IN ('the','a','an','and','or','of','to','in','is',
                            'it','that','for','on','with','as'))) * 1.0
               / greatest(len(string_split(regexp_replace(trim(lower(text)),
                 '\\s+', ' ', 'g'), ' ')), 1) AS stop_ratio
      FROM documents
    ), scored AS (
      SELECT source,
             0.4 * least(n_words / 50.0, 1.0)
             + 0.3 * (1 - least(punct_ratio / 0.2, 1.0))
             + 0.3 * least(stop_ratio / 0.4, 1.0) AS score
      FROM feat
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 6) AS mean_score,
           round(quantile_cont(score, 0.5), 6) AS median_score,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "quality", "documents"),
)
def quality_composite_score(spark, sf_dir):
    """COMPOSITE quality score per document — the Gopher/C4-style
    heuristic ensemble as one expression: saturating length credit
    (n_words/50 capped), punctuation-density penalty, stopword-ratio
    credit (the classic 'real prose contains function words' signal) —
    weighted 0.4/0.3/0.3 into [0,1]; reported as per-source
    distribution stats (mean/median/min/max).

    Scale: pure per-row expressions (one projection, zero shuffles
    until the per-source rollup); the stopword list is a 15-element
    literal array — no join. The exact per-source median comes from
    ``operators.exact_quantiles`` (two-pass range-partitioned rank)
    because per-doc scores are unbounded-distinct — the ``percentile``
    aggregate would concentrate a value map of every distinct score on
    one reducer."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    stop = [
        "the", "a", "an", "and", "or", "of", "to", "in", "is",
        "it", "that", "for", "on", "with", "as",
    ]
    ws = F.split(
        F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
    )
    n_words = F.size(ws)
    punct = (
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
        * 1.0
        / F.greatest(F.length("text"), F.lit(1))
    )
    stops = F.size(
        F.filter(ws, lambda w: w.isin(stop))
    ) * 1.0 / F.greatest(n_words, F.lit(1))
    score = (
        0.4 * F.least(n_words / 50.0, F.lit(1.0))
        + 0.3 * (1 - F.least(punct / 0.2, F.lit(1.0)))
        + 0.3 * F.least(stops / 0.4, F.lit(1.0))
    )
    scored = d.select("source", score.alias("score"))
    med = exact_quantiles(scored, "score", {"__med": 0.5}, group_cols=["source"])
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
        )
        .join(F.broadcast(med), "source")
        .select(
            "source",
            "n_docs",
            "mean_score",
            F.round(F.col("__med"), 6).alias("median_score"),
            "min_score",
            "max_score",
        )
        .orderBy("source")
    )


@query(
    "dq_freshness_lag",
    oracle="""
    WITH g AS (SELECT max(ts) AS gmax FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           max(ts) AS latest,
           round((epoch_us((SELECT gmax FROM g)) - epoch_us(max(ts)))
                 / 3600000000.0, 4) AS lag_hours,
           CAST(count(*) FILTER (
             epoch_us(ts) >= epoch_us((SELECT gmax FROM g))
                             - 7 * 24 * 3600000000) AS BIGINT)
             AS n_last_7d
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("dq", "freshness", "events"),
)
def dq_freshness_lag(spark, sf_dir):
    """FRESHNESS audit per event type: latest arrival, its lag behind
    the globally freshest event (hours), and trailing-7-day volume —
    the staleness monitor that catches a dead upstream producer whose
    partition silently stopped filling.

    Scale: one aggregation pass with a broadcast 1-row global-max;
    conditional trailing-window counts ride the same pass (no second
    scan, no window function)."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    g = e.agg(F.max("us").alias("gmax"))
    return (
        e.crossJoin(F.broadcast(g))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("ts").alias("latest"),
            F.round(
                (F.first("gmax") - F.max("us")) / 3600000000.0, 4
            ).alias("lag_hours"),
            F.count(
                F.when(
                    F.col("us")
                    >= F.col("gmax") - F.lit(7 * 24 * 3600000000),
                    1,
                )
            ).cast("long").alias("n_last_7d"),
        )
        .orderBy("event_type")
    )


@query(
    "dq_uniqueness_profile",
    oracle="""
    WITH un AS (
      SELECT 'o_orderkey' AS col, CAST(o_orderkey AS VARCHAR) AS val FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL
      SELECT 'o_orderpriority', o_orderpriority FROM orders
    ), base AS (
      SELECT col, count(*) AS n_rows,
             count(val) AS n_nonnull,
             count(DISTINCT val) AS n_distinct
      FROM un GROUP BY 1
    ), topf AS (
      SELECT col, max(c) AS top_freq
      FROM (SELECT col, val, count(*) AS c FROM un
            WHERE val IS NOT NULL GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT b.col, CAST(b.n_rows AS BIGINT) AS n_rows,
           CAST(b.n_rows - b.n_nonnull AS BIGINT) AS n_nulls,
           CAST(b.n_distinct AS BIGINT) AS n_distinct,
           round(b.n_distinct * 1.0 / b.n_rows, 6) AS uniqueness,
           CAST(t.top_freq AS BIGINT) AS top_freq
    FROM base b JOIN topf t ON t.col = b.col
    ORDER BY b.col
    """,
    tags=("dq", "profiling", "orders"),
)
def dq_uniqueness_profile(spark, sf_dir):
    """PER-COLUMN uniqueness/null/mode profile of the orders table —
    the one-pass column profiler behind key discovery ('is o_orderkey
    actually unique?') and categorical-cardinality audits. Columns are
    unpivoted via ``stack`` into (col, val) rows; distinct counting on
    the injective string cast is cardinality-faithful for every type.

    Scale: the unpivot is a zero-shuffle projection (rows x 4); the
    profile is two hash aggregates — per (col, val), then per col —
    both map-side combining. The mode count never materializes the
    value list, only the max group count."""
    o = t(spark, sf_dir, "orders")
    un = o.selectExpr(
        "stack(4, "
        "'o_orderkey', cast(o_orderkey as string), "
        "'o_custkey', cast(o_custkey as string), "
        "'o_orderstatus', o_orderstatus, "
        "'o_orderpriority', o_orderpriority) as (col, val)"
    )
    base = un.groupBy("col").agg(
        F.count("*").alias("n_rows"),
        F.count("val").alias("n_nonnull"),
        F.countDistinct("val").alias("n_distinct"),
    )
    topf = (
        un.filter(F.col("val").isNotNull())
        .groupBy("col", "val")
        .agg(F.count("*").alias("c"))
        .groupBy("col")
        .agg(F.max("c").alias("top_freq"))
    )
    return (
        base.join(topf, "col")
        .select(
            "col",
            F.col("n_rows").cast("long").alias("n_rows"),
            (F.col("n_rows") - F.col("n_nonnull")).cast("long").alias(
                "n_nulls"
            ),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.col("n_distinct") * 1.0 / F.col("n_rows"), 6
            ).alias("uniqueness"),
            F.col("top_freq").cast("long").alias("top_freq"),
        )
        .orderBy("col")
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), rng AS (
      SELECT dim, min(v) AS mn, max(v) AS mx,
             (max(v) - min(v)) / 255.0 AS scale
      FROM flat GROUP BY 1
    ), err AS (
      SELECT f.dim, r.mn, r.mx,
             avg(pow(f.v - (r.mn + round((f.v - r.mn) / r.scale)
                            * r.scale), 2)) AS mse
      FROM flat f JOIN rng r ON r.dim = f.dim
      GROUP BY 1, 2, 3
    )
    SELECT dim, round(mn, 6) AS dim_min, round(mx, 6) AS dim_max,
           round(mse, 10) AS mse
    FROM err ORDER BY dim
    """,
    tags=("llm", "embedding", "quantization"),
)
def embedding_quantize_int8(spark, sf_dir):
    """SCALAR (per-dimension) int8 QUANTIZATION of the embedding
    corpus — the 4x memory-compression baseline under PQ: per-dim
    min/max range, 255-step uniform code, and the per-dim
    reconstruction MSE that tells you which dimensions survive 8-bit
    storage (the standard pre-check before shipping an int8 ANN
    index).

    Scale: posexplode streams (dim, value) pairs; per-dim ranges are
    a 64-group map-side-combining aggregate, broadcast back for the
    error pass — two scans, no driver math, no vector materializes
    whole. Float values are cast to double BEFORE any arithmetic
    (bit-exact widening on both engines)."""
    e = t(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "v"
        )
    ).select((F.col("dim0") + 1).alias("dim"), "v")
    rng = flat.groupBy("dim").agg(
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        ((F.max("v") - F.min("v")) / 255.0).alias("scale"),
    )
    code = F.round((F.col("v") - F.col("mn")) / F.col("scale"))
    dequant = F.col("mn") + code * F.col("scale")
    return (
        flat.join(F.broadcast(rng), "dim")
        .groupBy("dim", "mn", "mx")
        .agg(F.avg((F.col("v") - dequant) ** 2).alias("mse"))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.round("mn", 6).alias("dim_min"),
            F.round("mx", 6).alias("dim_max"),
            F.round("mse", 10).alias("mse"),
        )
        .orderBy("dim")
    )


@query(
    "ann_range_search",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings
    )
    SELECT q_id, n_id,
           round(list_dot_product(qv, nv)
                 / (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(nv, nv))), 4) AS cos
    FROM q JOIN c ON q_id <> n_id
    WHERE round(list_dot_product(qv, nv)
                / (sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(nv, nv))), 4) >= 0.8
    """,
    tags=("llm", "similarity", "embeddings"),
)
def ann_range_search(spark, sf_dir):
    """Exact cosine RANGE search (radius query): every corpus vector
    within cosine >= 0.8 of each probe — the 'find everything this
    similar' dual of top-k (dedup wants a radius, not a count). The
    threshold compares the ROUNDED cosine on both engines, so the
    decision boundary is identical.

    Scale: broadcast probes x streamed corpus scan (corpus never
    shuffles); at cluster scale the same expression rides the
    LSH/IVF candidate streams instead of the full scan. Elements are
    cast float->double before arithmetic (exact widening, identical
    on both engines)."""
    from gcp_etl_spark.llm.similarity import cosine

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    cos = F.round(cosine(F.col("qv"), F.col("nv")), 4)
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", cos.alias("cos"))
        .filter(F.col("cos") >= 0.8)
    )


@query(
    "corpus_mix_rebalance",
    oracle="""
    WITH cnt AS (
      SELECT source, count(*) AS n FROM documents GROUP BY 1
    ), tot AS (SELECT sum(n) AS tn, count(*) AS k FROM cnt)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           round(n * 1.0 / (SELECT tn FROM tot), 6) AS actual_share,
           round(1.0 / (SELECT k FROM tot), 6) AS target_share,
           round((1.0 / (SELECT k FROM tot)) / (n * 1.0 / (SELECT tn FROM tot)), 6)
             AS sampling_weight,
           CAST(round(n * least((1.0 / (SELECT k FROM tot))
                      / (n * 1.0 / (SELECT tn FROM tot)), 1.0), 0) AS BIGINT)
             AS docs_after_downsample
    FROM cnt ORDER BY source
    """,
    tags=("llm", "sampling", "documents"),
)
def corpus_mix_rebalance(spark, sf_dir):
    """CORPUS MIXTURE REBALANCING plan: per-source sampling weights
    that move the corpus to a target mixture (uniform across sources
    here) — weight = target_share / actual_share, with the
    down-sample-only projection (weights capped at 1; up-weighting is
    a repeat factor for the loader). This is the planning query behind
    every 'we want 30% code, 20% web...' training-mix spec.

    Scale: one count aggregate to a |sources|-row relation; all the
    mixture algebra happens there."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n"))
    tot = cnt.agg(F.sum("n").alias("tn"), F.count("*").alias("k"))
    j = cnt.crossJoin(F.broadcast(tot))
    actual = F.col("n") * 1.0 / F.col("tn")
    target = 1.0 / F.col("k")
    w = target / actual
    return j.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round(actual, 6).alias("actual_share"),
        F.round(target, 6).alias("target_share"),
        F.round(w, 6).alias("sampling_weight"),
        F.round(F.col("n") * F.least(w, F.lit(1.0)), 0)
        .cast("long")
        .alias("docs_after_downsample"),
    ).orderBy("source")


@query(
    "events_inactivity_churn",
    oracle="""
    WITH last_seen AS (
      SELECT user_id, max(epoch_us(ts)) AS last_us, count(*) AS n_events
      FROM events GROUP BY 1
    ), g AS (SELECT max(epoch_us(ts)) AS gmax FROM events)
    SELECT CASE
             WHEN (SELECT gmax FROM g) - last_us <= 3 * 86400000000 THEN 'active_3d'
             WHEN (SELECT gmax FROM g) - last_us <= 7 * 86400000000 THEN 'lapsing_7d'
             WHEN (SELECT gmax FROM g) - last_us <= 14 * 86400000000 THEN 'dormant_14d'
             ELSE 'churned'
           END AS cohort,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           round(avg((((SELECT gmax FROM g) - last_us) / 86400000000.0)), 4)
             AS avg_days_inactive
    FROM last_seen GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "churn", "events"),
)
def events_inactivity_churn(spark, sf_dir):
    """INACTIVITY-BASED churn cohorts: users bucketed by days since
    their last event relative to the corpus watermark (active ≤3d /
    lapsing ≤7d / dormant ≤14d / churned) with per-cohort volume and
    mean inactivity — the retention-ops counterpart of
    retention_cohorts (which tracks acquisition-cohort survival).

    Scale: one per-user max/count aggregate, broadcast watermark,
    4-row rollup."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    last = e.groupBy("user_id").agg(
        F.max("us").alias("last_us"), F.count("*").alias("n_events")
    )
    g = e.agg(F.max("us").alias("gmax"))
    day_us = 86400000000
    j = last.crossJoin(F.broadcast(g))
    gap = F.col("gmax") - F.col("last_us")
    cohort = (
        F.when(gap <= 3 * day_us, "active_3d")
        .when(gap <= 7 * day_us, "lapsing_7d")
        .when(gap <= 14 * day_us, "dormant_14d")
        .otherwise("churned")
    )
    return (
        j.groupBy(cohort.alias("cohort"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.avg(gap / (day_us * 1.0)), 4).alias(
                "avg_days_inactive"
            ),
        )
        .orderBy("cohort")
    )


@query(
    "orders_backlog_aging",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS d FROM orders
                WHERE o_orderstatus = 'O')
    SELECT CASE
             WHEN date_diff('day', CAST(o_orderdate AS DATE),
                            (SELECT d FROM mx)) <= 30 THEN 'a_0_30d'
             WHEN date_diff('day', CAST(o_orderdate AS DATE),
                            (SELECT d FROM mx)) <= 90 THEN 'b_31_90d'
             WHEN date_diff('day', CAST(o_orderdate AS DATE),
                            (SELECT d FROM mx)) <= 365 THEN 'c_91_365d'
             ELSE 'd_over_1y'
           END AS age_bucket,
           CAST(count(*) AS BIGINT) AS n_open,
           round(sum(o_totalprice), 2) AS open_value,
           round(avg(date_diff('day', CAST(o_orderdate AS DATE),
                               (SELECT d FROM mx))), 2) AS avg_age_days
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "dq", "orders"),
)
def orders_backlog_aging(spark, sf_dir):
    """OPEN-ORDER BACKLOG AGING: orders still open ('O') bucketed by
    age against the corpus max date (0-30 / 31-90 / 91-365 / >1y) with
    count, tied-up value, and mean age — the operations
    aging-report shape (receivables/backlog) on the order fact.

    Scale: status filter pushes to the scan; one broadcast max-date
    and a 4-row rollup."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("d"))
    j = o.crossJoin(F.broadcast(mx))
    age = F.datediff(F.col("d"), F.to_date("o_orderdate"))
    bucket = (
        F.when(age <= 30, "a_0_30d")
        .when(age <= 90, "b_31_90d")
        .when(age <= 365, "c_91_365d")
        .otherwise("d_over_1y")
    )
    return (
        j.groupBy(bucket.alias("age_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_open"),
            F.round(F.sum("o_totalprice"), 2).alias("open_value"),
            F.round(F.avg(age), 2).alias("avg_age_days"),
        )
        .orderBy("age_bucket")
    )


@query(
    "embedding_dim_variance",
    oracle="""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), s AS (
      SELECT dim, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
      FROM flat GROUP BY 1
    ), var_ AS (
      SELECT dim, s2 / n - (s1 / n) * (s1 / n) AS var FROM s
    ), ranked AS (
      SELECT dim, var,
             sum(var) OVER (ORDER BY var DESC, dim
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(var) OVER () AS tot,
             row_number() OVER (ORDER BY var DESC, dim) AS rk
      FROM var_
    )
    SELECT CAST(rk AS BIGINT) AS rank, CAST(dim AS BIGINT) AS dim,
           round(var, 10) AS variance,
           round(cum / tot, 6) AS cum_variance_share
    FROM ranked WHERE rk <= 16 ORDER BY rank
    """,
    tags=("llm", "embedding", "documents"),
)
def embedding_dim_variance(spark, sf_dir):
    """PER-DIMENSION VARIANCE spectrum of the embedding corpus: the
    top-16 highest-variance dimensions with their cumulative share of
    total variance — the axis-aligned (no-rotation) screening that
    tells you whether cheap dimension PRUNING suffices before paying
    for PCA (embedding_pca_project) or PQ.

    Scale: posexplode → 64-group power-sum aggregate; the ranking
    windows run over the 64-row variance relation."""
    e = t(spark, sf_dir, "embeddings")
    flat = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "v"
        )
    ).select((F.col("dim0") + 1).alias("dim"), "v")
    s = flat.groupBy("dim").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    var = (
        F.col("s2") / F.col("n")
        - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n"))
    ).alias("var")
    v = s.select("dim", var)
    wseq = Window.orderBy(F.desc("var"), "dim")
    ranked = v.select(
        "dim",
        "var",
        F.sum("var").over(
            wseq.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("var").over(
            Window.partitionBy()
        ).alias("tot"),
        F.row_number().over(wseq).alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 16)
        .select(
            F.col("rk").cast("long").alias("rank"),
            F.col("dim").cast("long").alias("dim"),
            F.round("var", 10).alias("variance"),
            F.round(F.col("cum") / F.col("tot"), 6).alias(
                "cum_variance_share"
            ),
        )
        .orderBy("rank")
    )


@query(
    "analytics_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_buy
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_view
      GROUP BY 1
    ), lat AS (
      SELECT (p.t_buy - v.t_view) / 3600000000.0 AS hours
      FROM p JOIN v ON v.user_id = p.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converters,
           round(quantile_cont(hours, 0.5), 4) AS p50_hours,
           round(quantile_cont(hours, 0.9), 4) AS p90_hours,
           round(quantile_cont(hours, 0.99), 4) AS p99_hours,
           round(avg(hours), 4) AS mean_hours
    FROM lat
    """,
    tags=("analytics", "funnel", "events"),
)
def analytics_conversion_latency(spark, sf_dir):
    """TIME-TO-CONVERT distribution: latency from a user's first view
    to their first subsequent purchase, summarized as exact
    p50/p90/p99/mean hours — the funnel-velocity metric
    funnel_3step's step counts don't expose (how LONG the funnel
    takes, not just who falls through).

    Scale: two min-aggregates with a broadcast survivor join
    (funnel_3step's shape); the latency relation has one row per
    converter — unbounded-distinct doubles — so the tail percentiles
    come from ``operators.exact_quantiles`` (two-pass rank), never the
    single-reducer ``percentile`` value map."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_buy"))
    )
    lat = p.join(F.broadcast(v), "user_id").select(
        ((F.col("t_buy") - F.col("t_view")) / 3600000000.0).alias("hours")
    )
    q = exact_quantiles(
        lat, "hours", {"__p50": 0.5, "__p90": 0.9, "__p99": 0.99}
    )
    return (
        lat.agg(
            F.count("*").cast("long").alias("n_converters"),
            F.round(F.avg("hours"), 4).alias("mean_hours"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            "n_converters",
            F.round(F.col("__p50"), 4).alias("p50_hours"),
            F.round(F.col("__p90"), 4).alias("p90_hours"),
            F.round(F.col("__p99"), 4).alias("p99_hours"),
            "mean_hours",
        )
    )


@query(
    "privacy_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey AS nation, c_mktsegment AS seg,
             count(*) AS grp_n,
             count(DISTINCT CAST(round(c_acctbal, -3) AS BIGINT))
               AS sensitive_diversity
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (grp_n < 5) AS BIGINT) AS groups_below_k5,
           CAST(coalesce(sum(grp_n) FILTER (grp_n < 5), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(min(grp_n) AS BIGINT) AS min_group_size,
           CAST(count(*) FILTER (sensitive_diversity < 2) AS BIGINT)
             AS groups_below_l2
    FROM qi
    """,
    tags=("dq", "privacy", "customer"),
)
def privacy_k_anonymity(spark, sf_dir):
    """K-ANONYMITY / L-DIVERSITY audit over the (nation, segment)
    quasi-identifier: group sizes below k=5 re-identify individuals by
    attribute combination; groups whose bucketed account balance (the
    sensitive attribute, coarsened to $1000 bands) shows fewer than
    l=2 distinct values leak it even when k holds — the release
    pre-check a training-data pipeline runs before shipping any
    user-derived table.

    Scale: one hash aggregate to the QI-bounded group relation; all
    audit algebra runs there."""
    c = t(spark, sf_dir, "customer")
    qi = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(
        F.count("*").alias("grp_n"),
        F.countDistinct(
            F.round(F.col("c_acctbal"), -3).cast("long")
        ).alias("sensitive_diversity"),
    )
    return qi.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.count(F.when(F.col("grp_n") < 5, 1))
        .cast("long")
        .alias("groups_below_k5"),
        F.coalesce(
            F.sum(F.when(F.col("grp_n") < 5, F.col("grp_n"))), F.lit(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
        F.min("grp_n").cast("long").alias("min_group_size"),
        F.count(F.when(F.col("sensitive_diversity") < 2, 1))
        .cast("long")
        .alias("groups_below_l2"),
    )


@query(
    "dq_near_duplicate_rows",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(o_orderdate AS DATE) AS d
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
           round(a.o_totalprice, 2) AS totalprice,
           CAST(date_diff('day', a.d, b.d) AS BIGINT) AS day_gap
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_totalprice = b.o_totalprice
     AND a.o_orderkey < b.o_orderkey
     AND abs(date_diff('day', a.d, b.d)) <= 1
    ORDER BY custkey, orderkey_a, orderkey_b
    """,
    tags=("dq", "dedup", "orders"),
)
def dq_near_duplicate_rows(spark, sf_dir):
    """NEAR-DUPLICATE ROW detector: same customer, identical total,
    order dates within one day — the double-submission / retry-ghost
    pattern exact row-dedup misses because the surrogate key and
    timestamp differ. The equi-join runs on (custkey, totalprice) —
    both sides hash-colocate, the day-gap residual filters after — so
    NO banded replication is needed (the equality columns already
    bound the candidates).

    Scale: one self-equi-join on high-cardinality keys; candidate
    groups are per-(customer, amount) and tiny. The per-key variant of
    snapshot_diff's table-level reconciliation."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.alias("a")
    b = o.alias("b")
    gap = F.datediff(F.col("b.d"), F.col("a.d"))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_totalprice") == F.col("b.o_totalprice"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.abs(gap) <= 1),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            F.round("a.o_totalprice", 2).alias("totalprice"),
            gap.cast("long").alias("day_gap"),
        )
        .orderBy("custkey", "orderkey_a", "orderkey_b")
    )


@query(
    "dedup_cross_source_clones",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h
      FROM documents
    ), clones AS (
      SELECT h, count(*) AS n_copies,
             count(DISTINCT source) AS n_sources,
             min(doc_id) AS keep_id
      FROM fp GROUP BY 1 HAVING count(DISTINCT source) > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clone_groups,
           CAST(coalesce(sum(n_copies), 0) AS BIGINT) AS n_docs_involved,
           CAST(coalesce(max(n_sources), 0) AS BIGINT) AS max_sources,
           CAST(coalesce(min(keep_id), -1) AS BIGINT) AS first_keep_id
    FROM clones
    """,
    tags=("llm", "dedup", "documents"),
)
def dedup_cross_source_clones(spark, sf_dir):
    """CROSS-SOURCE clone detection: normalized-content fingerprints
    that appear under MORE THAN ONE source — the syndication/mirror
    detector (within-source dups are usually re-crawls; cross-source
    dups are wire copy and scraped mirrors, the class that silently
    over-weights one document in a training mix). Summary row keeps
    the gate output bounded; the clone-group relation itself is the
    drop-list artifact.

    Scale: fingerprints shuffle, text doesn't (text_fingerprint's
    contract) with a two-level distinct-source aggregate on top."""
    d = t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        F.md5(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
        ).alias("h"),
    )
    clones = (
        fp.groupBy("h")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_sources") > 1)
    )
    return clones.agg(
        F.count("*").cast("long").alias("n_clone_groups"),
        F.coalesce(F.sum("n_copies"), F.lit(0))
        .cast("long")
        .alias("n_docs_involved"),
        F.coalesce(F.max("n_sources"), F.lit(0))
        .cast("long")
        .alias("max_sources"),
        F.coalesce(F.min("keep_id"), F.lit(-1))
        .cast("long")
        .alias("first_keep_id"),
    )


@query(
    "customer_negative_exposure",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (c_acctbal < 0) AS BIGINT) AS n_negative,
           round(count(*) FILTER (c_acctbal < 0) * 1.0 / count(*), 6)
             AS negative_rate,
           round(coalesce(sum(c_acctbal) FILTER (c_acctbal < 0), 0), 2)
             AS exposure,
           round(coalesce(min(c_acctbal), 0), 2) AS worst_balance
    FROM customer GROUP BY 1 ORDER BY 1
    """,
    tags=("dq", "finance", "customer"),
)
def customer_negative_exposure(spark, sf_dir):
    """NEGATIVE-BALANCE EXPOSURE per segment: count, rate, summed
    exposure, and the worst single balance — the receivables-risk
    audit (which segment carries the credit risk, and is it
    concentrated in a few accounts or endemic).

    Scale: one conditional aggregate pass, |segments| output rows."""
    c = t(spark, sf_dir, "customer")
    neg = F.col("c_acctbal") < 0
    return (
        c.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.count(F.when(neg, 1)).cast("long").alias("n_negative"),
            F.round(
                F.count(F.when(neg, 1)) * 1.0 / F.count("*"), 6
            ).alias("negative_rate"),
            F.round(
                F.coalesce(
                    F.sum(F.when(neg, F.col("c_acctbal"))), F.lit(0.0)
                ),
                2,
            ).alias("exposure"),
            F.round(F.coalesce(F.min("c_acctbal"), F.lit(0.0)), 2).alias(
                "worst_balance"
            ),
        )
        .orderBy("segment")
    )


@query(
    "dq_id_sequence_completeness",
    oracle="""
    WITH ids AS (
      SELECT o_orderkey AS id FROM orders
    ), s AS (
      SELECT count(*) AS n, min(id) AS lo, max(id) AS hi,
             count(DISTINCT id) AS n_distinct
      FROM ids
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(lo AS BIGINT) AS min_id, CAST(hi AS BIGINT) AS max_id,
           CAST(hi - lo + 1 - n_distinct AS BIGINT) AS missing_ids,
           CAST(n - n_distinct AS BIGINT) AS duplicate_ids,
           round(n_distinct * 1.0 / (hi - lo + 1), 6) AS density
    FROM s
    """,
    tags=("dq", "sequence", "orders"),
)
def dq_id_sequence_completeness(spark, sf_dir):
    """SURROGATE-KEY SEQUENCE audit: span vs distinct count of the
    order key — missing ids (holes mean upstream rows were dropped or
    a writer died mid-batch), duplicate ids (key collisions), and the
    fill density of the id space. The counting identity needs no
    islands pass: holes = span − distinct, dups = rows − distinct —
    one aggregation answers both.

    Scale: a single map-side-combining aggregate (distinct-count is
    the only shuffle); the id-space arithmetic is scalar."""
    o = t(spark, sf_dir, "orders")
    s = o.agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
        F.countDistinct("o_orderkey").alias("nd"),
    )
    span = F.col("hi") - F.col("lo") + 1
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("lo").cast("long").alias("min_id"),
        F.col("hi").cast("long").alias("max_id"),
        (span - F.col("nd")).cast("long").alias("missing_ids"),
        (F.col("n") - F.col("nd")).cast("long").alias("duplicate_ids"),
        F.round(F.col("nd") * 1.0 / span, 6).alias("density"),
    )


# --------------------------------------- quality-score calibration
@query(
    "quality_calibration_bins",
    oracle=_gd_oracle_sql().replace(
        """
    SELECT max(w0) AS w0, max(w1) AS w1, max(w2) AS w2,
           round(avg(CASE WHEN (1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) >= 0.5 AND y = 1.0)
                            OR (1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) < 0.5 AND y = 0.0)
                     THEN 1.0 ELSE 0.0 END), 6) AS train_accuracy,
           count(*) AS n_rows
    FROM f CROSS JOIN it3
    """,
        """
    SELECT CAST(least(floor(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2))) * 10), 9)
                AS BIGINT) AS bin,
           count(*) AS n,
           round(avg(1.0/(1.0 + exp(-(w0 + w1*x1 + w2*x2)))), 6)
             AS mean_predicted,
           round(avg(y), 6) AS actual_rate
    FROM f CROSS JOIN it3
    GROUP BY 1 ORDER BY 1
    """,
    ),
    tags=("llm", "classifier", "calibration", "ml"),
)
def quality_calibration_bins(spark, sf_dir):
    """CALIBRATION (reliability diagram) of the trained quality
    classifier: score every row with the GD-trained weights
    (``train_quality_logreg``'s exact recurrence), decile-bin the
    predicted probability, and compare mean predicted vs actual
    positive rate per bin — the check that turns a classifier score
    into a usable sampling weight (a mis-calibrated filter silently
    skews the training mixture).

    Scale: the training passes are ``train_quality_logreg``'s; the
    scoring pass is a pure map + one 10-group hash agg."""
    feats = _logreg_feats(spark, sf_dir)
    w = (0.0, 0.0, 0.0)
    for _ in range(_GD_ITERS):
        p = _sigmoid(w)
        row = feats.agg(
            F.round(
                F.lit(w[0]) - _GD_LR * F.avg(p - F.col("y")), 8
            ).alias("w0"),
            F.round(
                F.lit(w[1]) - _GD_LR * F.avg(F.col("x1") * (p - F.col("y"))),
                8,
            ).alias("w1"),
            F.round(
                F.lit(w[2]) - _GD_LR * F.avg(F.col("x2") * (p - F.col("y"))),
                8,
            ).alias("w2"),
        ).first()
        w = (row["w0"], row["w1"], row["w2"])
    p = _sigmoid(w)
    return (
        feats.select(
            F.least(F.floor(p * 10), F.lit(9)).cast("long").alias("bin"),
            p.alias("p"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p"), 6).alias("mean_predicted"),
            F.round(F.avg("y"), 6).alias("actual_rate"),
        )
        .orderBy("bin")
    )


# ------------------------------------------- corpus snapshot diff
@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS fp FROM documents
    ), v2 AS (
      -- simulated next snapshot: every 10th doc dropped, every 7th
      -- (surviving) doc re-crawled with changed content, the rest
      -- byte-identical — both engines derive v2 from the same rule
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN md5('recrawled:' || text)
                  ELSE md5(text) END AS fp
      FROM documents WHERE doc_id % 10 <> 0
    )
    SELECT CASE
             WHEN v1.doc_id IS NULL THEN 'added'
             WHEN v2.doc_id IS NULL THEN 'removed'
             WHEN v1.fp <> v2.fp THEN 'modified'
             ELSE 'unchanged'
           END AS change,
           count(*) AS n_docs,
           CAST(min(COALESCE(v1.doc_id, v2.doc_id)) AS BIGINT)
             AS min_doc_id,
           CAST(max(COALESCE(v1.doc_id, v2.doc_id)) AS BIGINT)
             AS max_doc_id
    FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "versioning", "dedup", "incremental"),
)
def corpus_snapshot_diff(spark, sf_dir):
    """CORPUS SNAPSHOT DIFF — the incremental-ingestion audit every
    versioned training corpus runs between crawls: full-outer join of
    two snapshots on doc_id, classify each doc added / removed /
    modified (content fingerprint changed) / unchanged, and report
    per-class counts. The second snapshot is simulated from the same
    deterministic rule on both engines (every 10th doc dropped, every
    7th survivor re-crawled).

    Scale: only (doc_id, 32-byte fingerprint) ever shuffles — text is
    fingerprinted in the scan stage and dropped; the full-outer join
    is one co-partitioned shuffle on doc_id; the classification is a
    4-group hash agg. At 100 TB both snapshots would be bucketed by
    doc_id and the join becomes shuffle-free."""
    d = t(spark, sf_dir, "documents")
    v1 = d.select("doc_id", F.md5("text").alias("fp"))
    v2 = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.md5(F.concat(F.lit("recrawled:"), F.col("text"))),
        )
        .otherwise(F.md5("text"))
        .alias("fp"),
    )
    j = v1.withColumnRenamed("fp", "fp1").join(
        v2.withColumnRenamed("fp", "fp2"), "doc_id", "full_outer"
    )
    change = (
        F.when(F.col("fp1").isNull(), "added")
        .when(F.col("fp2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "modified")
        .otherwise("unchanged")
    )
    return (
        j.select("doc_id", change.alias("change"))
        .groupBy("change")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
        )
        .orderBy("change")
    )


# --------------------------------------------- output shard planner

_SHARDS = 64


@query(
    "corpus_shard_plan",
    oracle=f"""
    WITH s AS (
      SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) AS BIGINT) % {_SHARDS} AS shard,
             n_chars
      FROM documents
    ), tot AS (SELECT count(*) AS n FROM documents)
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           round(count(*) * 1.0 * {_SHARDS} / (SELECT n FROM tot), 4)
             AS balance_ratio
    FROM s GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "sharding", "io-planning"),
)
def corpus_shard_plan(spark, sf_dir):
    """OUTPUT SHARD PLAN for tokenizer/training-data export: assign
    every doc to one of 64 shards by content-independent id hash
    (md5 — stable across re-crawls, unlike hash(text)) and report
    per-shard doc count, byte mass, largest doc, and balance ratio
    (shard share × shards; 1.0 = perfectly even). The skew audit run
    BEFORE a 100 TB export burns cluster-days writing hot shards.

    Scale: one map (hash) + one 64-group hash agg; the payload
    column never moves — only (shard, n_chars) pairs shuffle as
    map-side partials."""
    d = t(spark, sf_dir, "documents")
    shard = md5_draw(F.col("doc_id").cast("string")) % _SHARDS
    tot = d.agg(F.count("*").alias("n"))
    return (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n_docs",
            "total_chars",
            "max_chars",
            F.round(
                F.col("n_docs") * 1.0 * _SHARDS / F.col("n"), 4
            ).alias("balance_ratio"),
        )
        .orderBy("shard")
    )


# ------------------------------------------ fill-in-middle transform


@query(
    "prep_fim_transform",
    oracle="""
    WITH spans AS (
      SELECT doc_id,
             length(text) AS n,
             CAST(floor(length(text) / 3) AS BIGINT) AS cut1,
             CAST(floor(length(text) * 2 / 3) AS BIGINT) AS cut2
      FROM documents
    ), parts AS (
      SELECT s.doc_id, s.n, s.cut1, s.cut2,
             substr(d.text, 1, CAST(s.cut1 AS INT)) AS prefix,
             substr(d.text, CAST(s.cut1 AS INT) + 1,
                    CAST(s.cut2 - s.cut1 AS INT)) AS middle,
             substr(d.text, CAST(s.cut2 AS INT) + 1) AS suffix
      FROM spans s JOIN documents d USING (doc_id)
    )
    SELECT doc_id,
           CAST(length(prefix) AS BIGINT) AS n_prefix,
           CAST(length(middle) AS BIGINT) AS n_middle,
           CAST(length(suffix) AS BIGINT) AS n_suffix,
           md5('<PRE>' || prefix || '<SUF>' || suffix
               || '<MID>' || middle) AS fim_fp,
           (prefix || middle || suffix = (SELECT text FROM documents x
                                          WHERE x.doc_id = parts.doc_id))
             AS roundtrip_ok
    FROM parts
    """,
    tags=("llm", "prep", "fim", "text"),
)
def prep_fim_transform(spark, sf_dir):
    """FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022, public) —
    the code-LLM prep step that teaches infilling: split each document
    into prefix / middle / suffix at the 1/3 and 2/3 CHARACTER
    boundaries and re-serialize in PSM order with sentinel markers.
    Output carries the span lengths, the md5 of the PSM serialization
    (both engines build the identical string), and a lossless
    round-trip check (prefix||middle||suffix == original).

    Character (not byte) offsets on both engines, so multibyte text
    (the zh slice) splits identically. Scale: a pure map — three
    substrings + one hash per row, fused into the scan stage; no
    shuffle at all."""
    d = t(spark, sf_dir, "documents")
    n = F.length("text")
    cut1 = F.floor(n / 3).cast("long")
    cut2 = F.floor(n * 2 / 3).cast("long")
    parts = d.select(
        "doc_id",
        "text",
        F.expr("substr(text, 1, CAST(floor(length(text) / 3) AS INT))")
        .alias("prefix"),
        F.expr(
            "substr(text, CAST(floor(length(text) / 3) AS INT) + 1,"
            " CAST(floor(length(text) * 2 / 3)"
            " - floor(length(text) / 3) AS INT))"
        ).alias("middle"),
        F.expr(
            "substr(text, CAST(floor(length(text) * 2 / 3) AS INT) + 1)"
        ).alias("suffix"),
    )
    return parts.select(
        "doc_id",
        F.length("prefix").cast("long").alias("n_prefix"),
        F.length("middle").cast("long").alias("n_middle"),
        F.length("suffix").cast("long").alias("n_suffix"),
        F.md5(
            F.concat(
                F.lit("<PRE>"), F.col("prefix"),
                F.lit("<SUF>"), F.col("suffix"),
                F.lit("<MID>"), F.col("middle"),
            )
        ).alias("fim_fp"),
        (
            F.concat("prefix", "middle", "suffix") == F.col("text")
        ).alias("roundtrip_ok"),
    )


# ------------------------------------------ leakage-free group split
_SPLIT_TRAIN = 0.8
_SPLIT_VAL = 0.9


@query(
    "prep_leakage_split",
    oracle=f"""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
           FROM w, unnest(range(len(ws)-2)) AS t(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(n, m) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    ),
    lab AS (SELECT n AS node, min(m) AS comp FROM reach GROUP BY n),
    grouped AS (
      SELECT d.doc_id, COALESCE(lab.comp, d.doc_id) AS grp
      FROM documents d LEFT JOIN lab ON lab.node = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, grp,
             CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 8))
                  AS UBIGINT) / 4294967296.0 AS u
      FROM grouped
    )
    SELECT CASE WHEN u < {_SPLIT_TRAIN} THEN 'train'
                WHEN u < {_SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM assigned
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "prep", "split", "dedup", "cluster"),
)
def prep_leakage_split(spark, sf_dir):
    """LEAKAGE-FREE train/val/test split: near-duplicate documents must
    never straddle a split boundary (a val doc with a train near-dup
    inflates eval — the contamination mode decontamination can't
    catch because it's WITHIN the corpus). Groups = connected
    components over the exact trigram-Jaccard >= 0.5 edges (the
    survivorship graph); singletons are their own group. Each GROUP —
    not each doc — draws one md5-hash uniform and lands wholly in
    train (<0.8), val (<0.9) or test. Returned relation: per-split
    group and doc counts (the assignment itself is (doc_id, split) —
    aggregate kept small for the gate; every member of a group shares
    its split by construction).

    Determinism: the group id is the component min-label (exact), the
    draw is the engine-standard md5 uniform on the group id — same
    integer arithmetic both engines.

    Scale: edges come from the df-capped postings join, components
    from the distributed min-label loop (both scale-proven members of
    the dedup family); the split draw is one hash per GROUP and the
    output is 3 rows. No stage sees the corpus text after shingling."""
    from gcp_etl_spark.llm.cluster import connected_components
    from gcp_etl_spark.queries.llm_ops import _ngram_jaccard_pairs

    pairs = _ngram_jaccard_pairs(spark, sf_dir, df_cap=None)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    d = t(spark, sf_dir, "documents").select("doc_id")
    grouped = d.join(cc, d.doc_id == cc.node, "left").select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("grp")
    )
    u = md5_draw(F.col("grp").cast("string"), uniform=True)
    assigned = grouped.withColumn(
        "split",
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test"),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("grp").alias("n_groups"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("split")
    )


# -------------------------------------------- global training order
_ORDER_SHARDS = 8


@query(
    "prep_training_order",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    rn AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY hx, doc_id) - 1 AS r
      FROM h
    )
    SELECT doc_id,
           CAST(r % {_ORDER_SHARDS} AS BIGINT) AS shard,
           CAST(r // {_ORDER_SHARDS} AS BIGINT) AS pos
    FROM rn ORDER BY shard, pos
    """,
    tags=("llm", "prep", "ordering"),
)
def prep_training_order(spark, sf_dir):
    """DETERMINISTIC GLOBAL SHUFFLE for training order: every epoch-0
    data loader wants the corpus in a seeded random permutation,
    striped across shards so concurrent readers never overlap. Order =
    md5(doc_id) (a keyed permutation — change the key, change the
    epoch), rank = the engine's two-pass range-partitioned global row
    number (operators/quantiles.global_row_number — NO single-
    partition window), shard/pos = round-robin stripe of the rank.

    Determinism: md5 hex strings compare identically in both engines;
    doc_id tiebreak makes the permutation total.

    Scale: the rank is the zipWithIndex algebra — one range exchange
    on the hash + per-partition offsets — and the stripe arithmetic is
    a map. This is exactly how you materialize a shuffled 100 TB
    training manifest without ever sorting into one reducer."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hx")
    )
    rn = global_row_number(d, order_cols=["hx", "doc_id"], rn_col="rn")
    return (
        rn.select(
            "doc_id",
            ((F.col("rn") - 1) % _ORDER_SHARDS).cast("long").alias("shard"),
            ((F.col("rn") - 1) / _ORDER_SHARDS).cast("long").alias("pos"),
        )
        .orderBy("shard", "pos")
    )


# ------------------------------------------ referential-integrity audit
@query(
    "quality_fk_audit",
    oracle="""
    SELECT 'customer.c_nationkey->nation' AS fk,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    ORDER BY fk
    """,
    tags=("quality", "audit", "join", "integrity"),
)
def quality_fk_audit(spark, sf_dir):
    """REFERENTIAL-INTEGRITY AUDIT — the load-gate report a warehouse
    runs after every ingest (the reference's count-gate generalized
    from row counts to key integrity): for each declared FK edge, how
    many child rows dangle (no matching parent). All four TPC-H-ish
    edges in one relation; a nonzero orphan count is the signal to
    quarantine the batch before queries silently drop rows in inner
    joins.

    Scale: each edge is ONE left-anti join on its key — parent sides
    are dimension-sized (AQE broadcasts them) or co-shuffled fact keys;
    counts collapse map-side. No row data beyond the join key moves."""
    edges = [
        (
            "customer.c_nationkey->nation",
            t(spark, sf_dir, "customer"),
            "c_nationkey",
            t(spark, sf_dir, "nation"),
            "n_nationkey",
        ),
        (
            "lineitem.l_orderkey->orders",
            t(spark, sf_dir, "lineitem"),
            "l_orderkey",
            t(spark, sf_dir, "orders"),
            "o_orderkey",
        ),
        (
            "lineitem.l_partkey->part",
            t(spark, sf_dir, "lineitem"),
            "l_partkey",
            t(spark, sf_dir, "part"),
            "p_partkey",
        ),
        (
            "orders.o_custkey->customer",
            t(spark, sf_dir, "orders"),
            "o_custkey",
            t(spark, sf_dir, "customer"),
            "c_custkey",
        ),
    ]
    out = None
    for name, child, ck, parent, pk in edges:
        rows = child.select(F.col(ck).alias("__k"))
        orphans = rows.join(
            parent.select(F.col(pk).alias("__k")), "__k", "left_anti"
        )
        rel = rows.agg(F.count("*").alias("n_rows")).crossJoin(
            orphans.agg(F.count("*").alias("n_orphans"))
        ).select(F.lit(name).alias("fk"), "n_rows", "n_orphans")
        out = rel if out is None else out.unionByName(rel)
    return out.orderBy("fk")


# --------------------------------------- curation pipeline, end-to-end
_CUR_MIN_CHARS = 50
_CUR_MAX_CHARS = 400
_CUR_BUDGET = 512


@query(
    "pipeline_curation_e2e",
    oracle=f"""
    WITH dedup AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN dedup USING (doc_id)
      WHERE d.n_chars BETWEEN {_CUR_MIN_CHARS} AND {_CUR_MAX_CHARS}
    ),
    split AS (
      SELECT doc_id, lang, text,
             CASE WHEN u < {_SPLIT_TRAIN} THEN 'train'
                  WHEN u < {_SPLIT_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5(md5(text)), 1, 8)) AS UBIGINT)
                 / 4294967296.0 AS u
        FROM kept
      )
    ),
    toks AS (
      SELECT split, lang, doc_id,
             len(list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '')) AS n_toks
      FROM split
    ),
    runs AS (
      SELECT split, lang, n_toks,
             sum(n_toks) OVER (PARTITION BY split, lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks
               AS cum_before
      FROM toks
    )
    SELECT split, lang,
           CAST(cum_before // {_CUR_BUDGET} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM runs
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    tags=("llm", "pipeline", "e2e", "dedup", "prep", "packing"),
)
def pipeline_curation_e2e(spark, sf_dir):
    """THE CURATION PIPELINE, COMPOSED — raw corpus to packed training
    manifest in one declarative plan, every stage an operator this
    engine already ships individually:

      1. EXACT DEDUP — min-doc_id survivor per content digest (text
         never shuffles, digests do);
      2. QUALITY FILTER — length gate ({_CUR_MIN_CHARS}..{_CUR_MAX_CHARS}
         chars; stands in for the composite score, same pushdown shape);
      3. LEAKAGE-SAFE SPLIT — one md5 uniform per CONTENT digest (exact
         dups share a draw by construction), 80/10/10;
      4. TOKEN COUNT + GREEDY PACKING — running-sum bin assignment per
         (split, lang) at a {_CUR_BUDGET}-token budget;
      5. MANIFEST — per (split, lang, bin) doc/token masses, the
         relation a training job reads to schedule shards.

    The value of registering the COMPOSITION: Catalyst fuses the five
    stages into one plan (the dedup agg, the filter pushed to the scan,
    the split as a map, packing as a window over already-grouped
    partitions) — proving the operators compose without materialization
    barriers. The oracle replays the identical five-stage SQL.

    Scale: stages 1-3 are hash-agg/map shapes; stage 4's window
    partitions by (split, lang) — bounded groups at any corpus size
    (the pack_sequences_budget contract). Nothing driver-side."""
    d = t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "lang", "text", "n_chars", F.md5("text").alias("h")
    )
    dedup = h.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    kept = (
        h.join(dedup, ["h", "doc_id"])
        .filter(F.col("n_chars").between(_CUR_MIN_CHARS, _CUR_MAX_CHARS))
    )
    u = md5_draw("h", uniform=True)
    split = kept.select(
        "doc_id",
        "lang",
        "text",
        F.when(u < _SPLIT_TRAIN, "train")
        .when(u < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )
    toks = split.select(
        "split",
        "lang",
        "doc_id",
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), " "), lambda x: x != ""
            )
        ).alias("n_toks"),
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = toks.withColumn(
        "cum_before", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    return (
        runs.select(
            "split",
            "lang",
            F.floor(F.col("cum_before") / _CUR_BUDGET).alias("bin"),
            "n_toks",
        )
        .groupBy("split", "lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_tokens"),
        )
        .orderBy("split", "lang", "bin")
    )


# ------------------------------------------ compression-ratio quality
@query(
    "quality_compression_ratio",
    # rows-only by design: the signal IS zlib's DEFLATE output length,
    # which SQL cannot replay. Pinned by tests/test_r6.py::
    # test_compression_ratio_orders_repetitive_below_diverse —
    # deterministic (zlib level 6 is a pure function of the bytes),
    # planted repetitive text must score below diverse text, and the
    # ratio bounds hold corpus-wide.
    oracle=None,
    tags=("llm", "quality", "text", "filter"),
)
def quality_compression_ratio(spark, sf_dir):
    """COMPRESSION-RATIO quality signal (the Gopher / RefinedWeb
    boilerplate filter, public): highly compressible text (ratio near
    0) is repetitive boilerplate, incompressible text (ratio near or
    above 1) is noise/random — natural prose sits in between, and
    production pipelines drop both tails. Emits per-doc
    deflate_len/raw_len plus the corpus deciles a threshold picker
    reads. zlib at the default level inside mapInPandas — one Arrow
    batch in, two ints per doc out; the text never leaves its scan
    task, which is what makes this a linear single-pass filter at
    100 TB (same shape as the codec ops).

    Output: 20 extreme docs (10 most / 10 least compressible,
    deterministic doc_id tiebreaks) so the gate sees rows, with the
    ratio rounded 6 dp."""
    import pandas as pd

    d = t(spark, sf_dir, "documents")

    def score(it):
        import zlib

        for pdf in it:
            raw = pdf["text"].str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_len": raw.str.len(),
                    "deflate_len": raw.map(lambda b: len(zlib.compress(b))),
                }
            )

    scored = d.select("doc_id", "text").mapInPandas(
        score, "doc_id long, raw_len long, deflate_len long"
    )
    ranked = scored.select(
        "doc_id",
        "raw_len",
        "deflate_len",
        F.round(F.col("deflate_len") / F.col("raw_len"), 6).alias("ratio"),
    )
    low = ranked.orderBy("ratio", "doc_id").limit(10)
    high = ranked.orderBy(F.desc("ratio"), F.desc("doc_id")).limit(10)
    return low.unionByName(high).orderBy("ratio", "doc_id")


# ------------------------------------------ snapshot stats drift
@query(
    "dq_snapshot_stats_drift",
    oracle="""
    WITH v1 AS (
      SELECT source, lang, n_chars FROM documents
    ),
    v2 AS (
      -- simulated next snapshot, same rule as corpus_snapshot_diff:
      -- every 10th doc dropped, every 7th survivor re-crawled with a
      -- 10-char prefix added
      SELECT source, lang,
             CASE WHEN doc_id % 7 = 0 THEN n_chars + 10
                  ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id % 10 <> 0
    ),
    s1 AS (
      SELECT source, count(*) AS n1, sum(n_chars) AS chars1,
             count(DISTINCT lang) AS langs1
      FROM v1 GROUP BY 1
    ),
    s2 AS (
      SELECT source, count(*) AS n2, sum(n_chars) AS chars2,
             count(DISTINCT lang) AS langs2
      FROM v2 GROUP BY 1
    )
    SELECT source,
           n1 AS n_v1, n2 AS n_v2,
           round((n2 - n1) * 100.0 / n1, 4) AS row_delta_pct,
           round(CAST(chars1 AS DOUBLE) / n1, 6) AS avg_chars_v1,
           round(CAST(chars2 AS DOUBLE) / n2, 6) AS avg_chars_v2,
           langs1 AS n_langs_v1, langs2 AS n_langs_v2
    FROM s1 JOIN s2 USING (source) ORDER BY source
    """,
    tags=("data-quality", "drift", "profiling"),
)
def dq_snapshot_stats_drift(spark, sf_dir):
    """COLUMN-LEVEL SNAPSHOT DRIFT REPORT — the per-source statistical
    diff a pipeline owner reads before promoting a new crawl
    (row-count delta, mean document length, language cardinality),
    complementing ``corpus_snapshot_diff`` (which diffs row IDENTITY
    by fingerprint, not distribution). Both engines derive snapshot v2
    from the same rule, so the report is hash-verified end-to-end.

    Determinism: counts and char sums are exact integers; the only
    doubles are final divisions. Scale: two scans of the snapshot pair
    (columnar — only 3 columns read), two hash aggs on the bounded
    source key, broadcast join of two #sources-row relations."""
    d = t(spark, sf_dir, "documents")
    v1 = d.select("source", "lang", "n_chars")
    v2 = d.filter(F.col("doc_id") % 10 != 0).select(
        "source",
        "lang",
        F.when(F.col("doc_id") % 7 == 0, F.col("n_chars") + 10)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )

    def stats(df, sfx):
        return df.groupBy("source").agg(
            F.count("*").alias(f"n{sfx}"),
            F.sum("n_chars").alias(f"chars{sfx}"),
            F.countDistinct("lang").alias(f"langs{sfx}"),
        )

    s1, s2 = stats(v1, "1"), stats(v2, "2")
    return (
        s1.join(s2, "source")
        .select(
            "source",
            F.col("n1").alias("n_v1"),
            F.col("n2").alias("n_v2"),
            F.round(
                (F.col("n2") - F.col("n1")) * 100.0 / F.col("n1"), 4
            ).alias("row_delta_pct"),
            F.round(
                F.col("chars1").cast("double") / F.col("n1"), 6
            ).alias("avg_chars_v1"),
            F.round(
                F.col("chars2").cast("double") / F.col("n2"), 6
            ).alias("avg_chars_v2"),
            F.col("langs1").alias("n_langs_v1"),
            F.col("langs2").alias("n_langs_v2"),
        )
        .orderBy("source")
    )


# --------------------------------------------- stratified group k-fold

_KFOLD_K = 5


@query(
    "prep_stratified_kfold",
    oracle=f"""
    WITH r AS (
      SELECT lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT lang, CAST((rn - 1) % {_KFOLD_K} AS INT) AS fold,
           count(*) AS n_docs
    FROM r GROUP BY 1, 2 ORDER BY lang, fold
    """,
    tags=("llm", "prep", "sampling", "cross-validation"),
)
def prep_stratified_kfold(spark, sf_dir):
    """STRATIFIED K-FOLD ASSIGNMENT — deterministic 5-fold cross-
    validation splits balanced WITHIN each stratum (language): rows
    rank by a seeded hash inside their stratum and fold = rank mod k,
    so every (lang, fold) cell is exactly ±1 of stratum/k — the
    guarantee hash-bucketing alone (``sample_stratified``) cannot give.

    Determinism: the in-stratum order is the md5 hex STRING of doc_id
    (lexicographic, identical in both engines) with doc_id tiebreak.

    Scale: in-stratum ranks route through the engine's two-pass
    range-partitioned global row number (operators/quantiles.py) —
    bounded stratum count, unbounded rows per stratum, no
    single-partition window."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "lang", F.md5(F.col("doc_id").cast("string")).alias("h"), "doc_id"
    )
    ranked = global_row_number(
        d, order_cols=["h", "doc_id"], part_cols=["lang"], rn_col="rn"
    )
    return (
        ranked.select(
            "lang",
            ((F.col("rn") - 1) % _KFOLD_K).cast("int").alias("fold"),
        )
        .groupBy("lang", "fold")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "fold")
    )


# ------------------------------------------------- Gopher quality rules

# thresholds adapted to the synthetic corpus's ~30-90-word documents;
# the RULE STRUCTURE is Rae et al. 2021 (Gopher, public) Appendix A
_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 500
_GOPHER_MIN_MEAN_WLEN = 3.0
_GOPHER_MAX_MEAN_WLEN = 10.0
_GOPHER_MAX_NONALPHA = 0.2
_GOPHER_STOPWORDS = ("the", "a", "value", "table")
_GOPHER_MIN_STOPHITS = 2


@query(
    "quality_gopher_rules",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             len(ws) AS n_words,
             CAST(len(list_filter(ws, w -> NOT regexp_matches(w, '^[a-z]+$')))
                  AS DOUBLE) / len(ws) AS nonalpha_ratio,
             CAST(list_sum(list_transform(ws, w -> strlen(w))) AS DOUBLE)
               / len(ws) AS mean_wlen,
             len(list_filter(ws, w -> w IN
                 ('{_GOPHER_STOPWORDS[0]}', '{_GOPHER_STOPWORDS[1]}',
                  '{_GOPHER_STOPWORDS[2]}', '{_GOPHER_STOPWORDS[3]}')))
               AS stop_hits
      FROM d WHERE len(ws) > 0
    ),
    f AS (
      SELECT source,
             CASE WHEN n_words < {_GOPHER_MIN_WORDS}
                    OR n_words > {_GOPHER_MAX_WORDS} THEN 1 ELSE 0 END
               AS fail_words,
             CASE WHEN mean_wlen < {_GOPHER_MIN_MEAN_WLEN}
                    OR mean_wlen > {_GOPHER_MAX_MEAN_WLEN} THEN 1 ELSE 0 END
               AS fail_wlen,
             CASE WHEN nonalpha_ratio > {_GOPHER_MAX_NONALPHA} THEN 1
                  ELSE 0 END AS fail_symbols,
             CASE WHEN stop_hits < {_GOPHER_MIN_STOPHITS} THEN 1 ELSE 0 END
               AS fail_stop
      FROM m
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(fail_words) AS BIGINT) AS n_fail_word_count,
           CAST(sum(fail_wlen) AS BIGINT) AS n_fail_mean_word_len,
           CAST(sum(fail_symbols) AS BIGINT) AS n_fail_symbol_ratio,
           CAST(sum(fail_stop) AS BIGINT) AS n_fail_stopwords,
           CAST(sum(CASE WHEN fail_words + fail_wlen + fail_symbols
                    + fail_stop = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           round(sum(CASE WHEN fail_words + fail_wlen + fail_symbols
                          + fail_stop = 0 THEN 1 ELSE 0 END)
                 * 100.0 / count(*), 4) AS pass_pct
    FROM f GROUP BY source ORDER BY source
    """,
    tags=("llm", "quality", "filter", "text"),
)
def quality_gopher_rules(spark, sf_dir):
    """GOPHER QUALITY-FILTER RULES (Rae et al. 2021 Appendix A,
    public; thresholds adapted to the synthetic corpus, structure
    verbatim): per document — word-count bounds, mean-word-length
    bounds, non-alphabetic word ratio cap, minimum stop-word hits —
    reported as a per-source audit (failure counts per rule + overall
    pass rate), the table a curation run reviews before applying the
    gate. Complements the shipped logreg quality classifier with the
    rule-based filter every public corpus pipeline starts from.

    Determinism: all rule inputs are exact integers or single-division
    doubles compared against literal thresholds; counts are integers.

    Scale: one corpus scan; every per-doc metric is a map-side array
    expression (no explode — list aggregates run inside the row), one
    hash agg on the bounded source key."""
    ws = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", ws.alias("ws"))
        .filter(F.size("ws") > 0)
    )
    n_words = F.size("ws")
    nonalpha = F.size(
        F.filter("ws", lambda w: ~w.rlike("^[a-z]+$"))
    ).cast("double") / n_words
    mean_wlen = (
        F.aggregate(
            F.transform("ws", lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_words
    )
    stop_hits = F.size(
        F.filter("ws", lambda w: w.isin(*_GOPHER_STOPWORDS))
    )
    m = d.select(
        "source",
        (
            (n_words < _GOPHER_MIN_WORDS) | (n_words > _GOPHER_MAX_WORDS)
        ).cast("int").alias("fail_words"),
        (
            (mean_wlen < _GOPHER_MIN_MEAN_WLEN)
            | (mean_wlen > _GOPHER_MAX_MEAN_WLEN)
        ).cast("int").alias("fail_wlen"),
        (nonalpha > _GOPHER_MAX_NONALPHA).cast("int").alias("fail_symbols"),
        (stop_hits < _GOPHER_MIN_STOPHITS).cast("int").alias("fail_stop"),
    )
    all_pass = (
        F.col("fail_words") + F.col("fail_wlen") + F.col("fail_symbols")
        + F.col("fail_stop")
        == 0
    ).cast("int")
    return (
        m.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("fail_words").alias("n_fail_word_count"),
            F.sum("fail_wlen").alias("n_fail_mean_word_len"),
            F.sum("fail_symbols").alias("n_fail_symbol_ratio"),
            F.sum("fail_stop").alias("n_fail_stopwords"),
            F.sum(all_pass).alias("n_pass"),
            F.round(F.sum(all_pass) * 100.0 / F.count("*"), 4).alias(
                "pass_pct"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------- CCNet perplexity buckets


@query(
    "quality_ccnet_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    train_uni AS (
      SELECT ws[i+1] AS w1, count(*) AS c1
      FROM d, unnest(range(len(ws))) AS t(i)
      WHERE source <> '{_PPL_HELDOUT_SRC}' GROUP BY 1
    ),
    train_bi AS (
      SELECT ws[i+1] AS w1, ws[i+2] AS w2, count(*) AS c2
      FROM d, unnest(range(len(ws) - 1)) AS t(i)
      WHERE source <> '{_PPL_HELDOUT_SRC}' GROUP BY 1, 2
    ),
    v AS (SELECT count(*) AS v FROM train_uni),
    scored_b AS (
      SELECT h.doc_id, h.source,
             CAST(round(
               ln((coalesce(b.c2, 0) + 1.0)
                  / (coalesce(u.c1, 0) + v.v)), 8) AS DECIMAL(18,8)
             ) AS logp
      FROM (SELECT doc_id, source, ws[i+1] AS w1, ws[i+2] AS w2
            FROM d, unnest(range(len(ws) - 1)) AS t(i)) h
      LEFT JOIN train_bi b ON h.w1 = b.w1 AND h.w2 = b.w2
      LEFT JOIN train_uni u ON h.w1 = u.w1
      CROSS JOIN v
    ),
    ppl AS (
      SELECT doc_id, source,
             round(exp(-CAST(sum(logp) AS DOUBLE) / count(*)), 4) AS ppl
      FROM scored_b GROUP BY 1, 2
    ),
    cuts AS (
      SELECT round(quantile_cont(ppl, 1.0/3), 6) AS c1,
             round(quantile_cont(ppl, 2.0/3), 6) AS c2
      FROM ppl
    )
    SELECT source,
           CASE WHEN ppl <= c1 THEN 'head'
                WHEN ppl <= c2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           round(min(ppl), 4) AS min_ppl,
           round(max(ppl), 4) AS max_ppl
    FROM ppl CROSS JOIN cuts
    GROUP BY 1, 2 ORDER BY source, bucket
    """,
    tags=("llm", "quality", "language-model", "curation"),
)
def quality_ccnet_buckets(spark, sf_dir):
    """CCNET HEAD/MIDDLE/TAIL BUCKETS (Wenzek et al. 2020, public):
    score EVERY document's bigram perplexity under the LM trained on
    the non-held-out sources, cut the corpus at the global perplexity
    terciles, and report per-(source, bucket) counts — the exact
    partitioning CCNet ships to let consumers trade quality against
    volume (train on head, sample middle, drop tail).

    Determinism: the per-bigram log-prob policy is shared with
    ``text_perplexity_heldout`` (8 dp round → decimal sum); tercile
    cuts are exact interpolated quantiles rounded at 6 dp before the
    bucket compare, so both engines bucket identical doubles.

    Scale: LM counts are vocabulary-bounded hash aggs; scoring joins
    on bounded keys; the tercile cut is ONE two-pass range-partitioned
    quantile over the per-doc ppl relation (never a single-reducer
    percentile); bucketing is a broadcast of two doubles."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles, prefer_agg

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
            "ws"
        ),
    )
    bigrams = F.expr(
        "transform(sequence(0, size(ws) - 2),"
        " i -> struct(ws[i] AS w1, ws[i+1] AS w2))"
    )
    train = d.filter(F.col("source") != _PPL_HELDOUT_SRC)
    # NOTE (r12): train_uni also feeds the vocabulary count — a
    # re-expansion — but a barrier here was MEASURED SLOWER (+2 s
    # interleaved A/B): the broadcast side of the scoring join then
    # waits on a serial materialization job, where the re-expanded
    # explode+groupBy overlapped with the stream side on idle cores
    train_uni = train.select(F.explode("ws").alias("w1")).groupBy("w1").agg(
        F.count("*").alias("c1")
    )
    train_bi = (
        train.filter(F.size("ws") >= 2)
        .select(F.explode(bigrams).alias("b"))
        .groupBy("b.w1", "b.w2")
        .agg(F.count("*").alias("c2"))
    )
    v = train_uni.agg(F.count("*").alias("v"))
    held = (
        d.filter(F.size("ws") >= 2)
        .select("doc_id", "source", F.explode(bigrams).alias("b"))
        .select("doc_id", "source", "b.w1", "b.w2")
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
        ),
        8,
    ).cast("decimal(18,8)")
    ppl = (
        held.join(train_bi, ["w1", "w2"], "left")
        .join(F.broadcast(train_uni), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", "source", logp.alias("logp"))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.exp(-(F.sum("logp").cast("double")) / F.count("*")), 4
            ).alias("ppl")
        )
    )
    # decide the tercile-cut strategy while Catalyst stats are still
    # attached, THEN cut lineage (r12, guide §1.2): ppl — the whole
    # scan -> bigram explode -> LM joins -> per-doc agg pipeline —
    # feeds the quantile cut AND the final bucketing pass; without the
    # barrier the optimizer re-expanded it into every consumer (16
    # documents scans / 16 Generates in one plan). The gate fires
    # before the barrier so the choice stays scale-adaptive (rank at
    # 100 TB estimates).
    strat = "agg" if prefer_agg(ppl.select(F.col("ppl").cast("double"))) else "rank"
    ppl = ppl.transform(barrier)
    cuts = exact_quantiles(
        ppl, "ppl", {"c1": 1.0 / 3, "c2": 2.0 / 3}, strategy=strat
    ).select(
        F.round("c1", 6).alias("c1"), F.round("c2", 6).alias("c2")
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("c1"), "head")
        .when(F.col("ppl") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    return (
        ppl.crossJoin(F.broadcast(cuts))
        .select("source", bucket.alias("bucket"), "ppl")
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("ppl"), 4).alias("min_ppl"),
            F.round(F.max("ppl"), 4).alias("max_ppl"),
        )
        .orderBy("source", "bucket")
    )


# ------------------------------------------- epoch-resume loader order

_RESUME_EPOCH = 2
_RESUME_OFFSET = 100
_RESUME_TAKE = 20


@query(
    "prep_epoch_resume_order",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             row_number() OVER (
               ORDER BY md5('{_RESUME_EPOCH}:' || CAST(doc_id AS VARCHAR)),
                        doc_id
             ) AS pos
      FROM documents
    )
    SELECT pos, doc_id FROM r
    WHERE pos > {_RESUME_OFFSET} AND pos <= {_RESUME_OFFSET} + {_RESUME_TAKE}
    ORDER BY pos
    """,
    tags=("llm", "prep", "training", "determinism"),
)
def prep_epoch_resume_order(spark, sf_dir):
    """EPOCH-SEEDED RESUME SLICE — the data-loader contract a training
    run needs after a crash: each epoch defines a deterministic global
    permutation (rank by md5 of ``epoch:doc_id``), and resuming from
    step K means serving ranks K+1..K+take of THAT epoch's order, not
    re-shuffling. Completes ``prep_training_order`` (epoch-less global
    order) with the per-epoch reseed + offset semantics.

    Determinism: the permutation key is an md5 hex string compared
    lexicographically — byte-identical in both engines — with doc_id
    tiebreak.

    Scale: ranks come from the two-pass range-partitioned global row
    number; the resume slice is a broadcast-range filter on the rank
    (at 100 TB the loader would ADDITIONALLY range-prune the rank
    relation by partition bounds — same algebra)."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        F.md5(
            F.concat(
                F.lit(f"{_RESUME_EPOCH}:"), F.col("doc_id").cast("string")
            )
        ).alias("h"),
        "doc_id",
    )
    ranked = global_row_number(
        d, order_cols=["h", "doc_id"], rn_col="pos"
    )
    return (
        ranked.filter(
            (F.col("pos") > _RESUME_OFFSET)
            & (F.col("pos") <= _RESUME_OFFSET + _RESUME_TAKE)
        )
        .select("pos", "doc_id")
        .orderBy("pos")
    )


# ----------------------------------------------- Benford digit audit
@query(
    "dq_benford_first_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value > 0
    ),
    digit AS (
      -- sub-cent amounts (cents = 0) carry no leading digit at the
      -- cents granularity this audit runs at; excluded in both engines
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS d
      FROM cents WHERE c >= 1
    ),
    obs AS (SELECT d, count(*) AS n FROM digit GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM obs)
    SELECT d AS digit, CAST(n AS BIGINT) AS n_obs,
           round(CAST(n AS DOUBLE) / total, 6) AS obs_share,
           round(log10(1.0 + 1.0 / d), 6) AS benford_share,
           round(power(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / d), 2)
                 / log10(1.0 + 1.0 / d) * total, 6) AS chi2_term
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
    tags=("data-quality", "audit", "stats"),
)
def dq_benford_first_digit(spark, sf_dir):
    """BENFORD'S LAW FIRST-DIGIT AUDIT — the classic anomaly screen
    for fabricated or truncated numeric columns: observed
    first-significant-digit shares of ``value`` against log10(1+1/d),
    with per-digit chi-square contributions (sum them for the test
    statistic). A pipeline runs this over ingested monetary/metric
    columns as a cheap data-forensics gate.

    Determinism: digits come from the exact cents integer; shares and
    the Benford reference are single-expression doubles rounded at 6
    dp. Scale: one scan, a 9-row hash agg, a broadcast total."""
    cents = (
        t(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(F.round(F.col("value") * 100).cast("long").alias("c"))
        # sub-cent amounts round to 0 cents: no leading digit at this
        # granularity (review finding — digit 0 would emit NULL shares)
        .filter(F.col("c") >= 1)
        .select(
            F.col("c").cast("string").substr(1, 1).cast("int").alias("d")
        )
    )
    obs = cents.groupBy("d").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").alias("total"))
    share = F.col("n").cast("double") / F.col("total")
    benford = F.log10(1.0 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            F.col("n").alias("n_obs"),
            F.round(share, 6).alias("obs_share"),
            F.round(benford, 6).alias("benford_share"),
            F.round(
                F.pow(share - benford, 2) / benford * F.col("total"), 6
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ----------------------------------------------- Luhn checksum audit
@query(
    "pii_luhn_validate",
    oracle="""
    WITH cand AS (
      -- deterministic 16-digit candidate per event: the zero-padded
      -- concatenation both engines derive identically
      SELECT event_id,
             lpad(CAST(user_id AS VARCHAR), 8, '0')
               || lpad(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                       8, '0') AS digits
      FROM events
      WHERE value > 0 AND round(value * 100) < 100000000 AND user_id >= 0
    ),
    luhn AS (
      SELECT event_id, digits,
             list_sum(
               list_transform(range(1, 17), i ->
                 CASE WHEN i % 2 = 1
                      THEN CAST(substr(digits, 17 - i, 1) AS INT)
                      ELSE CASE
                        WHEN CAST(substr(digits, 17 - i, 1) AS INT) * 2 > 9
                        THEN CAST(substr(digits, 17 - i, 1) AS INT) * 2 - 9
                        ELSE CAST(substr(digits, 17 - i, 1) AS INT) * 2
                      END END)
             ) AS s
      FROM cand
    )
    SELECT count(*) AS n_candidates,
           CAST(sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_luhn_valid,
           round(sum(CASE WHEN s % 10 = 0 THEN 1 ELSE 0 END) * 100.0
                 / count(*), 4) AS valid_pct
    FROM luhn
    """,
    tags=("privacy", "pii", "audit"),
)
def pii_luhn_validate(spark, sf_dir):
    """LUHN CHECKSUM VALIDATION — the second stage of credit-card PII
    scanning (regex finds 16-digit candidates, the Luhn mod-10 check
    rejects the ~90% that are coincidental digit runs, cutting the
    redaction false-positive rate 10x). The fixture has no real card
    numbers, so candidates are deterministic 16-digit strings derived
    identically in both engines; the CHECK — double every second digit
    from the right, subtract 9 above 9, sum mod 10 — is the real
    algorithm, exercised digit-for-digit.

    Scale: pure map over candidate strings (the digit fold is an
    in-row array transform, no explode), one global count agg."""
    e = t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cand = e.filter(
        (F.col("value") > 0)
        & (cents < 100000000)
        & (F.col("user_id") >= 0)
    ).select(
        F.concat(
            F.lpad(F.col("user_id").cast("string"), 8, "0"),
            F.lpad(cents.cast("string"), 8, "0"),
        ).alias("digits")
    )
    # i = 1..16 counted from the RIGHT; odd positions keep the digit,
    # even positions double-and-subtract-9-above-9 (Luhn, public)
    s = F.aggregate(
        F.expr(
            "transform(sequence(1, 16), i -> CASE WHEN i % 2 = 1"
            " THEN CAST(substring(digits, 17 - i, 1) AS INT)"
            " ELSE CASE WHEN CAST(substring(digits, 17 - i, 1) AS INT)"
            "   * 2 > 9"
            " THEN CAST(substring(digits, 17 - i, 1) AS INT) * 2 - 9"
            " ELSE CAST(substring(digits, 17 - i, 1) AS INT) * 2"
            " END END)"
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    valid = (s % 10 == 0).cast("long")
    return cand.agg(
        F.count("*").alias("n_candidates"),
        F.sum(valid).alias("n_luhn_valid"),
        F.round(F.sum(valid) * 100.0 / F.count("*"), 4).alias(
            "valid_pct"
        ),
    )


_DOMAIN_CAP = 8


@query(
    "curation_domain_caps",
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
    tags=("llm", "curation", "url", "sampling"),
)
def curation_domain_caps(spark, sf_dir):
    """PER-DOMAIN document caps (RefinedWeb §URL filtering, public):
    group documents by registrable host (www.-stripped), elect at most
    {CAP} survivors per host by a deterministic quality order
    (n_chars DESC, doc_id tiebreak — the in-stratum rank pattern from
    prep_stratified_kfold), and carry the host's total count so the
    drop rate is auditable. The fixture's derived hosts are SKEWED
    (host h holds 2h+1 of every 1600 ids), so the cap genuinely bites
    the heavy domains — the behavior the op exists for.

    Scale: one shuffle on host; the per-host rank is the standard
    top-k-per-group operator (operators/topk.py). Hot-host skew is
    EXACTLY what the cap neutralizes: a host's output is bounded by
    the cap however many documents it holds (the window still sorts
    the hot host's rows in one task; at 100 TB pre-prune with a
    per-partition partial top-k — operators/skew.py — before the
    global rank when single hosts exceed task memory)."""
    from gcp_etl_spark.operators.topk import top_k_per_group

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hid = F.floor(F.sqrt((F.col("doc_id") % 1600).cast("double"))).cast(
        "int"
    )
    u = d.select(
        "doc_id",
        "n_chars",
        F.concat(F.lit("h"), hid.cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
    )
    w = Window.partitionBy("host")
    u = u.withColumn("n_host_docs", F.count("*").over(w))
    kept = top_k_per_group(
        u,
        ["host"],
        [F.col("n_chars").desc(), F.col("doc_id")],
        _DOMAIN_CAP,
        rank_col="rk",
    )
    return kept.select(
        "host",
        "doc_id",
        F.col("rk").cast("long").alias("rk"),
        F.col("n_host_docs").cast("long").alias("n_host_docs"),
    )


# -------------------------------------- C4-style duplicate-text signal
@query(
    "quality_dup_shingle_ratio",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id,
             ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
             ws[i+4] || ' ' || ws[i+5] AS g
      FROM w, unnest(range(len(ws) - 4)) t(i)
    ), df AS (
      SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           round(CAST(count(*) FILTER (df.df >= 2) AS DOUBLE)
                 / count(*), 6) AS dup_ratio,
           (CAST(count(*) FILTER (df.df >= 2) AS DOUBLE)
                 / count(*)) >= 0.5 AS flagged
    FROM g JOIN df USING (g) GROUP BY 1
    """,
    tags=("llm", "quality", "dedup", "ngram"),
)
def quality_dup_shingle_ratio(spark, sf_dir):
    """PER-DOCUMENT duplicated-text ratio (the C4/RefinedWeb "mostly
    duplicated document" signal, public): fraction of a document's
    word-5-gram occurrences whose gram appears in ≥ 2 documents
    corpus-wide, flagging docs above 50%. The PAIR-level dedup family
    says who matches whom; this is the per-DOC curation score a
    pipeline thresholds on.

    Scale: gram document frequency is one map-side-combinable
    count-distinct keyed by the gram; the ratio join ships (gram → is
    it shared) back to |doc × gram| rows keyed by gram — never
    doc × doc. The division is int/int in IEEE double — bit-exact
    cross-engine, so flagged booleans hash-match too."""
    par = spark.sparkContext.defaultParallelism
    from gcp_etl_spark.functions.text import normalize_text

    d = (
        t(spark, sf_dir, "documents")
        .repartition(par)
        .select("doc_id", F.split(normalize_text(F.col("text")), " ").alias("ws"))
    )
    g = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(ws) >= 5,"
                " transform(sequence(0, size(ws) - 5),"
                "  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],"
                "                 ws[i+3], ws[i+4])),"
                " cast(array() as array<string>))"
            )
        ).alias("g"),
    )
    df = g.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    ratio = F.count(F.when(F.col("df") >= 2, 1)).cast("double") / F.count(
        "*"
    )
    return (
        g.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(ratio, 6).alias("dup_ratio"),
            (ratio >= 0.5).alias("flagged"),
        )
    )


# ----------------------------------------- URL curation funnel (e2e)
_FUNNEL_MIN_CHARS = 150
_FUNNEL_CAP = _DOMAIN_CAP


@query(
    "curation_url_funnel",
    oracle=f"""
    WITH s1 AS (SELECT doc_id, text, n_chars FROM documents),
    s2 AS (SELECT * FROM s1 WHERE n_chars >= {_FUNNEL_MIN_CHARS}),
    canon AS (
      SELECT doc_id, n_chars, text,
             'https://h' || CAST({_URL_HID_SQL} AS VARCHAR)
               || '.example.com/p/' || CAST(doc_id % 97 AS VARCHAR)
               || CASE WHEN doc_id % 11 = 0 THEN '?v=2' ELSE '' END
               AS cu,
             'h' || CAST({_URL_HID_SQL} AS VARCHAR) || '.example.com'
               AS host
      FROM s2
    ),
    s3 AS (
      SELECT * FROM canon
      QUALIFY row_number() OVER (PARTITION BY cu ORDER BY doc_id) = 1
    ),
    s4 AS (
      SELECT * FROM s3
      QUALIFY row_number() OVER (PARTITION BY host
                                 ORDER BY n_chars DESC, doc_id)
              <= {_FUNNEL_CAP}
    ),
    -- dup-shingle signal computed over the RAW corpus (contamination
    -- is corpus-wide, not survivor-relative)
    w AS (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ') AS ws FROM s1),
    g AS (SELECT doc_id,
                 ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
                 ws[i+4] || ' ' || ws[i+5] AS g
          FROM w, unnest(range(len(ws) - 4)) t(i)),
    df AS (SELECT g, count(DISTINCT doc_id) AS df FROM g GROUP BY g),
    ratio AS (
      SELECT g.doc_id,
             CAST(count(*) FILTER (df.df >= 2) AS DOUBLE) / count(*) AS r
      FROM g JOIN df USING (g) GROUP BY 1
    ),
    s5 AS (
      SELECT s4.doc_id FROM s4
      JOIN ratio ON ratio.doc_id = s4.doc_id
      WHERE ratio.r < 0.5
    ),
    f AS (
      SELECT 1 AS stage, 'raw' AS stage_name,
             (SELECT count(*) FROM s1) AS n_out
      UNION ALL SELECT 2, 'min_length', (SELECT count(*) FROM s2)
      UNION ALL SELECT 3, 'url_dedup', (SELECT count(*) FROM s3)
      UNION ALL SELECT 4, 'domain_caps', (SELECT count(*) FROM s4)
      UNION ALL SELECT 5, 'dup_shingle', (SELECT count(*) FROM s5)
    )
    SELECT stage, stage_name, CAST(n_out AS BIGINT) AS n_out,
           round(CAST(n_out AS DOUBLE)
                 / (SELECT count(*) FROM s1), 6) AS keep_rate
    FROM f
    """,
    tags=("llm", "curation", "url", "pipeline"),
)
def curation_url_funnel(spark, sf_dir):
    """THE URL-CURATION FUNNEL (RefinedWeb's macro shape, public):
    raw → minimum-length gate → URL-normalized dedup (keep smallest
    doc_id per canonical url) → per-domain caps (≤{CAP}, quality
    order) → corpus-wide duplicated-text screen (word-5-gram dup
    ratio < 50%). One row per stage with survivor count and keep rate
    — the auditable funnel report every curation run publishes, and
    the e2e composition of this round's URL ops.

    Scale: each stage is one hash shuffle on its own key (canonical
    url, host, gram); stages compose lazily so Catalyst prunes columns
    through the whole funnel; the dup-shingle signal is computed over
    the RAW corpus (contamination is corpus-wide), reusing the
    quality_dup_shingle_ratio algebra. Counts are exact longs; the
    keep-rate division is int/int IEEE — bit-exact cross-engine."""
    from gcp_etl_spark.functions.text import normalize_text
    from gcp_etl_spark.operators.topk import top_k_per_group

    par = spark.sparkContext.defaultParallelism
    s1 = (
        t(spark, sf_dir, "documents")
        .repartition(par)
        .select("doc_id", "text", "n_chars")
        .transform(barrier)  # feeds 3 stages + the signal
    )
    s2 = s1.filter(F.col("n_chars") >= _FUNNEL_MIN_CHARS)
    hid = F.floor(F.sqrt((F.col("doc_id") % 1600).cast("double"))).cast(
        "int"
    )
    canon = s2.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://h"),
            hid.cast("string"),
            F.lit(".example.com/p/"),
            (F.col("doc_id") % 97).cast("string"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("?v=2")).otherwise(
                F.lit("")
            ),
        ).alias("cu"),
        F.concat(
            F.lit("h"), hid.cast("string"), F.lit(".example.com")
        ).alias("host"),
    )
    s3 = top_k_per_group(canon, ["cu"], [F.col("doc_id")], 1).drop("rn")
    s4 = top_k_per_group(
        s3, ["host"], [F.col("n_chars").desc(), F.col("doc_id")],
        _FUNNEL_CAP,
    ).drop("rn")

    w = s1.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("ws")
    )
    g = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(ws) >= 5,"
                " transform(sequence(0, size(ws) - 5),"
                "  i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2],"
                "                 ws[i+3], ws[i+4])),"
                " cast(array() as array<string>))"
            )
        ).alias("g"),
    )
    dfr = g.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    ratio = (
        g.join(dfr, "g")
        .groupBy("doc_id")
        .agg(
            (
                F.count(F.when(F.col("df") >= 2, 1)).cast("double")
                / F.count("*")
            ).alias("r")
        )
    )
    s5 = s4.join(ratio, "doc_id").filter(F.col("r") < 0.5)

    total = s1.count()

    def stage(i, name, df):
        return df.agg(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count("*").cast("long").alias("n_out"),
        )

    out = (
        stage(1, "raw", s1)
        .unionByName(stage(2, "min_length", s2))
        .unionByName(stage(3, "url_dedup", s3))
        .unionByName(stage(4, "domain_caps", s4))
        .unionByName(stage(5, "dup_shingle", s5))
    )
    return out.select(
        "stage",
        "stage_name",
        "n_out",
        F.round(F.col("n_out").cast("double") / F.lit(total), 6).alias(
            "keep_rate"
        ),
    )


# ---------------------------------- tabular feature-prep (ML encoders)
_TE_FOLDS = 5
_TE_SMOOTH = 20.0  # pseudo-count toward the global prior


@query(
    "prep_target_encoding",
    oracle=f"""
    WITH rows_ AS (
      SELECT o_orderpriority AS cat,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_TE_FOLDS} AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    prior AS (SELECT avg(CAST(y AS DOUBLE)) AS p FROM rows_),
    cf AS (
      SELECT cat, fold, count(*) AS n, sum(y) AS s
      FROM rows_ GROUP BY 1, 2
    ),
    tot AS (SELECT cat, sum(n) AS n_all, sum(s) AS s_all FROM cf GROUP BY 1)
    SELECT cf.cat, CAST(cf.fold AS INT) AS fold,
           CAST(tot.n_all - cf.n AS BIGINT) AS n_oof,
           round((tot.s_all - cf.s + {_TE_SMOOTH} * prior.p)
                 / (tot.n_all - cf.n + {_TE_SMOOTH}), 6) AS encoding,
           round(prior.p, 6) AS global_prior
    FROM cf JOIN tot USING (cat) CROSS JOIN prior
    """,
    tags=("prep", "ml", "encoding", "orders"),
)
def prep_target_encoding(spark, sf_dir):
    """LEAKAGE-FREE K-FOLD TARGET ENCODING (the mean-encoding recipe
    every tabular pipeline uses; out-of-fold to avoid target leakage):
    for each (category, fold), the encoding is the smoothed mean of
    the binary target over all OTHER folds' rows of that category —
    (Σ_oof y + m·prior)/(n_oof + m), m = {SMOOTH}. Folds are
    md5-deterministic (content-keyed, re-ingestion-stable — the
    prep_stratified_kfold convention). Output is the (category × fold)
    encoding TABLE a training job broadcast-joins onto its rows.

    Scale: one hash agg to (category, fold) cells, the out-of-fold
    sums derived by subtraction from per-category totals — the corpus
    is scanned ONCE however many folds."""
    o = t(spark, sf_dir, "orders")
    rows_ = o.select(
        F.col("o_orderpriority").alias("cat"),
        (md5_draw(F.col("o_orderkey").cast("string")) % _TE_FOLDS).alias("fold"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    prior = rows_.agg(F.avg(F.col("y").cast("double")).alias("p"))
    cf = rows_.groupBy("cat", "fold").agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    )
    tot = cf.groupBy("cat").agg(
        F.sum("n").alias("n_all"), F.sum("s").alias("s_all")
    )
    return (
        cf.join(tot, "cat")
        .crossJoin(F.broadcast(prior))
        .select(
            "cat",
            F.col("fold").cast("int").alias("fold"),
            (F.col("n_all") - F.col("n")).cast("long").alias("n_oof"),
            F.round(
                (
                    F.col("s_all")
                    - F.col("s")
                    + F.lit(_TE_SMOOTH) * F.col("p")
                )
                / (F.col("n_all") - F.col("n") + F.lit(_TE_SMOOTH)),
                6,
            ).alias("encoding"),
            F.round("p", 6).alias("global_prior"),
        )
    )


@query(
    "prep_woe_iv",
    oracle="""
    WITH lab AS (
      SELECT o.o_orderpriority AS bin,
             CASE WHEN max(CASE WHEN l.l_returnflag = 'R'
                                THEN 1 ELSE 0 END) = 1
                  THEN 1 ELSE 0 END AS bad
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
    ),
    cells AS (
      SELECT bin,
             sum(CASE WHEN bad = 0 THEN 1 ELSE 0 END) AS n_good,
             sum(bad) AS n_bad
      FROM lab GROUP BY 1
    ),
    tot AS (SELECT sum(n_good) AS g, sum(n_bad) AS b FROM cells)
    SELECT bin, CAST(n_good AS BIGINT) AS n_good,
           CAST(n_bad AS BIGINT) AS n_bad,
           round(ln((CAST(n_good AS DOUBLE) / tot.g)
                    / (CAST(n_bad AS DOUBLE) / tot.b)), 6) AS woe,
           round((CAST(n_good AS DOUBLE) / tot.g
                  - CAST(n_bad AS DOUBLE) / tot.b)
                 * ln((CAST(n_good AS DOUBLE) / tot.g)
                      / (CAST(n_bad AS DOUBLE) / tot.b)), 6) AS iv_term
    FROM cells CROSS JOIN tot
    """,
    tags=("prep", "ml", "encoding", "orders", "lineitem"),
)
def prep_woe_iv(spark, sf_dir):
    """WEIGHT OF EVIDENCE + INFORMATION VALUE per feature bin (the
    credit-scoring encoder/screen, public): unit = order, bad = the
    order contains a returned line, bins = order priority. WoE_i =
    ln((good_i/G)/(bad_i/B)); the per-bin IV terms sum to the
    feature's screening IV. The standard monotone-risk encoding for
    logistic models and a feature-selection statistic in one.

    Scale: one join + per-order rollup (map-side combinable), then
    bin-bounded cells; ln on 5 cells. Counts exact longs; the
    divisions are int/int IEEE — bit-exact cross-engine."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    lab = (
        li.join(
            o.select("o_orderkey", "o_orderpriority"),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("bin"))
        .agg(
            F.max((F.col("l_returnflag") == "R").cast("int")).alias("bad")
        )
    )
    cells = lab.groupBy("bin").agg(
        F.sum((F.col("bad") == 0).cast("long")).alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    tot = cells.agg(
        F.sum("n_good").alias("g"), F.sum("n_bad").alias("b")
    )
    good_r = F.col("n_good").cast("double") / F.col("g")
    bad_r = F.col("n_bad").cast("double") / F.col("b")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("n_good").cast("long").alias("n_good"),
            F.col("n_bad").cast("long").alias("n_bad"),
            F.round(F.log(good_r / bad_r), 6).alias("woe"),
            F.round((good_r - bad_r) * F.log(good_r / bad_r), 6).alias(
                "iv_term"
            ),
        )
    )


# ------------------------------------------- mixture weights
_MX_TAU = 0.7  # sampling temperature (multilingual-LM convention)


@query(
    "curation_mixture_weights",
    oracle=f"""
    WITH tk AS (
      SELECT lang, sum(len(string_split(lower(text), ' '))) AS toks
      FROM documents GROUP BY lang
    ), tot AS (SELECT sum(toks) AS tt FROM tk),
    pw AS (
      SELECT lang, toks,
             pow(CAST(toks AS DOUBLE) / tt, {_MX_TAU}) AS pt
      FROM tk CROSS JOIN tot
    ), z AS (SELECT sum(CAST(pt AS DECIMAL(28,18))) AS zz FROM pw)
    SELECT lang, CAST(toks AS BIGINT) AS n_tokens,
           round(CAST(toks AS DOUBLE)
                 / (SELECT tt FROM tot), 6) AS p_natural,
           round(pt / CAST((SELECT zz FROM z) AS DOUBLE), 6) AS w_sample,
           round(pt / CAST((SELECT zz FROM z) AS DOUBLE)
                 * (SELECT tt FROM tot) / toks, 6) AS epochs_at_budget
    FROM pw
    """,
    tags=("llm", "curation", "mixture", "documents"),
)
def curation_mixture_weights(spark, sf_dir):
    """TRAINING-MIXTURE WEIGHTS by temperature sampling (the
    multilingual-LM upsampling rule, τ = {TAU}): per language,
    w_i = p_i^τ / Σ_j p_j^τ over natural token shares p_i, plus the
    implied per-language epoch count at a one-corpus token budget
    (w_i·T / tok_i > 1 ⇒ that language repeats — the practical
    overfitting signal mixture designers watch). Token counts are
    integers; each pow term is one libm op on identical rationals,
    cast to DECIMAL before the k-term normalizer fold (order-free).

    Scale: one map-side token-count aggregation over the corpus; the
    mixture algebra runs on the |langs|-row relation."""
    d = t(spark, sf_dir, "documents")
    tk = d.groupBy("lang").agg(
        F.sum(F.size(F.split(F.lower("text"), " "))).alias("toks")
    )
    tot = tk.agg(F.sum("toks").alias("tt"))
    pw = tk.crossJoin(F.broadcast(tot)).select(
        "lang",
        "toks",
        "tt",
        F.pow(F.col("toks").cast("double") / F.col("tt"), _MX_TAU).alias(
            "pt"
        ),
    )
    z = pw.agg(
        F.sum(F.col("pt").cast("decimal(28,18)")).alias("zz")
    )
    j = pw.crossJoin(F.broadcast(z))
    w = F.col("pt") / F.col("zz").cast("double")
    return j.select(
        "lang",
        F.col("toks").cast("long").alias("n_tokens"),
        F.round(F.col("toks").cast("double") / F.col("tt"), 6).alias(
            "p_natural"
        ),
        F.round(w, 6).alias("w_sample"),
        F.round(w * F.col("tt") / F.col("toks"), 6).alias(
            "epochs_at_budget"
        ),
    )


# --------------------------------------- curriculum phase assignment

_CUR_PHASES = 3


@query(
    "curation_curriculum_phases",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n_words
      FROM documents
    ), r AS (
      SELECT doc_id, n_words,
             row_number() OVER (ORDER BY n_words, doc_id) AS rn,
             count(*) OVER () AS n
      FROM d
    )
    SELECT CAST(floor((rn - 1) * {_CUR_PHASES} * 1.0 / n) + 1 AS BIGINT) AS phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_words) AS BIGINT) AS min_words,
           CAST(max(n_words) AS BIGINT) AS max_words,
           CAST(sum(n_words) AS BIGINT) AS total_words
    FROM r GROUP BY 1
    """,
    tags=("llm", "curation", "curriculum", "documents"),
)
def curation_curriculum_phases(spark, sf_dir):
    """CURRICULUM PHASE ASSIGNMENT: order the corpus by a difficulty
    proxy (document length in words — short-to-long curriculum) and
    split it into {PHASES} equal-population phases by GLOBAL RANK,
    phase = ⌊(rank−1)·{PHASES}/n⌋ + 1 — the integer-exact equivalent of
    NTILE that the engine can compute WITHOUT a single-partition
    window: ranks come from the two-pass range-partitioned
    ``global_row_number`` (range exchange → in-partition row_number →
    broadcast prefix offsets), so phase assignment scales to any
    corpus. Tie-break (n_words, doc_id) makes the order total, hence
    the assignment engine-exact.

    Scale: one range exchange + one bounded offset broadcast; the
    DuckDB oracle uses the window-function formulation of the same
    rank — equal by construction."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("n_words"),
    )
    n1 = d.agg(F.count("*").alias("n"))
    r = global_row_number(d, ["n_words", "doc_id"], rn_col="rn")
    phase = (
        F.floor((F.col("rn") - 1) * _CUR_PHASES / F.col("n")).cast("long")
        + 1
    )
    return (
        r.crossJoin(F.broadcast(n1))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("n_words").cast("long").alias("min_words"),
            F.max("n_words").cast("long").alias("max_words"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
    )


# ------------------------------------------------------ l-diversity
_LDIV_L = 3


@query(
    "privacy_l_diversity",
    oracle=f"""
    WITH cell AS (
      SELECT c_nationkey AS nation, c_mktsegment AS segment,
             count(*) AS group_size,
             count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
               AS l_distinct
      FROM customer GROUP BY 1, 2
    )
    SELECT nation, segment, group_size, l_distinct,
           CASE WHEN l_distinct < {_LDIV_L} THEN 1 ELSE 0 END
             AS violates_l{_LDIV_L}
    FROM cell
    WHERE group_size > 0
    ORDER BY l_distinct, nation, segment
    LIMIT 25
    """,
    tags=("privacy", "anonymity", "customer"),
)
def privacy_l_diversity(spark, sf_dir):
    """l-DIVERSITY AUDIT (Machanavajjhala et al. — the successor
    check to privacy_k_anonymity, which this complements: k-anonymity
    bounds group SIZE, l-diversity bounds the variety of the SENSITIVE
    attribute within each group): per quasi-identifier group
    (nation × market segment), the number of distinct sensitive values
    (account-balance kilobuckets) and whether it falls below l=3 —
    groups where every member shares a balance bucket leak the bucket
    even under k-anonymity.

    Scale: one grouped count-distinct (Spark expands it to a two-level
    aggregate; the QI-group grid is tiny); the worst-25 report is a
    deterministic TopK."""
    c = t(spark, sf_dir, "customer")
    cell = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
    ).agg(
        F.count("*").alias("group_size"),
        F.countDistinct(
            F.floor(F.col("c_acctbal") / 1000).cast("long")
        ).alias("l_distinct"),
    )
    return (
        cell.filter(F.col("group_size") > 0)
        .select(
            "nation",
            "segment",
            "group_size",
            "l_distinct",
            F.when(F.col("l_distinct") < _LDIV_L, 1)
            .otherwise(0)
            .alias(f"violates_l{_LDIV_L}"),
        )
        .orderBy("l_distinct", "nation", "segment")
        .limit(25)
    )


# --------------------------------------------- rank normalization
@query(
    "prep_rank_normalize",
    oracle="""
    WITH ranked AS (
      SELECT source,
             (rank() OVER (PARTITION BY source ORDER BY n_chars)
              + (count(*) OVER (PARTITION BY source, n_chars) - 1)
                / 2.0
              - 0.5)
             / count(*) OVER (PARTITION BY source) AS u
      FROM documents
    ), decile AS (
      SELECT source,
             least(CAST(floor(u * 10) AS BIGINT), 9) AS dec_
      FROM ranked
    )
    SELECT source, dec_ AS decile, count(*) AS n_docs
    FROM decile GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("prep", "normalization", "documents"),
)
def prep_rank_normalize(spark, sf_dir):
    """RANK (QUANTILE) NORMALIZATION across sources — the
    distribution-free feature transform (van der Waerden's u without
    the normal quantile): within each source, doc length maps to its
    mid-rank percentile u = (midrank − 0.5)/n, making every source's
    transformed feature uniform-on-[0,1] and hence COMPARABLE across
    sources whose raw length distributions differ (the cross-source
    prerequisite for pooled quality models — the prep twin of
    dq_value_drift_psi, which only MEASURES the incomparability).
    Output: per-source occupancy of the u-deciles — flat ≈ n/10 rows
    per bucket everywhere certifies the transform (ties distort only
    their own bucket).

    EXACTNESS: mid-rank u = (rank_min + (ties−1)/2 − 0.5)/n is two
    exact divisions of integer operands; the decile floor is exact.

    Scale: one rank window per source partition (shuffles on source —
    at 100 TB partition the window by (source, hash-bucket) and
    two-pass merge, the global_row_number_twopass pattern); output is
    |sources|×10 rows."""
    d = t(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("n_chars")
    wtie = Window.partitionBy("source", "n_chars")
    wall = Window.partitionBy("source")
    ranked = d.select(
        "source",
        (
            (
                F.rank().over(wsrc)
                + (F.count("*").over(wtie) - 1) / 2.0
                - 0.5
            )
            / F.count("*").over(wall)
        ).alias("u"),
    )
    return (
        ranked.select(
            "source",
            F.least(
                F.floor(F.col("u") * 10).cast("long"), F.lit(9)
            ).alias("decile"),
        )
        .groupBy("source", "decile")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "decile")
    )


# -------------------------------------------- hashed feature crosses
_FC_BUCKETS = 64
_FC_MOD = 2147483647  # Mersenne prime for the rolling segment hash


@query(
    "prep_hashed_feature_cross",
    oracle=f"""
    WITH crossed AS (
      SELECT c_nationkey, c_mktsegment,
             (c_nationkey * 31 + list_reduce(
                list_transform(range(1, length(c_mktsegment) + 1),
                               i -> CAST(ascii(c_mktsegment[i])
                                         AS BIGINT)),
                (h, a) -> (h * 31 + a) % {_FC_MOD}))
             % {_FC_BUCKETS} AS bucket
      FROM customer
    ), per_bucket AS (
      SELECT bucket, count(*) AS n,
             count(DISTINCT (c_nationkey, c_mktsegment)) AS n_crosses
      FROM crossed GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS buckets_used,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(n_crosses) AS BIGINT) AS cross_slots,
           CAST((SELECT count(DISTINCT (c_nationkey, c_mktsegment))
                 FROM customer) AS BIGINT) AS distinct_crosses,
           round(1.0 - count(*) * 1.0
                       / (SELECT count(DISTINCT (c_nationkey,
                                                 c_mktsegment))
                          FROM customer), 6) AS collision_gain,
           CAST(max(n_crosses) AS BIGINT) AS worst_bucket_crosses
    FROM per_bucket
    """,
    tags=("prep", "feature-hashing", "customer"),
)
def prep_hashed_feature_cross(spark, sf_dir):
    """HASHED FEATURE CROSS (the hashing trick for categorical
    crosses — nation × market-segment crossed into {_FC_BUCKETS}
    buckets, the fixed-width embedding-table input large-scale
    recommenders use instead of a vocabulary that grows with the
    data): bucket = (nation·31 + rollhash(segment)) mod {_FC_BUCKETS},
    with bucket occupancy, how many distinct raw crosses share each
    bucket, and the collision rate the width choice costs:
    collision_gain = 1 − buckets_used / distinct_crosses — the share
    of distinct crosses that LOST their own bucket to a collision.
    (An earlier formulation compared distinct_crosses against
    Σ n_crosses over buckets, which are identical by construction —
    bucket is a deterministic function of the cross — so it was
    identically 0; r9 ADVICE. The fixture pin in tests/test_r9b.py
    asserts the fixture really collides: 125 crosses into 64 buckets
    forces collision_gain > 0 by pigeonhole.)

    PORTABLE HASH, DELIBERATELY: builtin hash() differs between
    engines (Spark = Murmur3, DuckDB = its own), so the segment hashes
    via an explicit base-31 ASCII rolling hash both engines compute
    identically — the same engine-portability constraint a real
    feature store faces when training (Spark) and serving (another
    runtime) must bucket identically.

    Scale: pure per-row map + one grouped count; the audit relation is
    ≤ {_FC_BUCKETS} rows."""
    e = t(spark, sf_dir, "customer")
    rollhash = F.expr(
        f"""aggregate(sequence(1, length(c_mktsegment)), 0L,
          (h, i) -> (h * 31 + ascii(substring(c_mktsegment, i, 1)))
                    % {_FC_MOD})"""
    )
    crossed = e.select(
        "c_nationkey",
        "c_mktsegment",
        ((F.col("c_nationkey") * 31 + rollhash) % _FC_BUCKETS).alias(
            "bucket"
        ),
    )
    per_bucket = crossed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.countDistinct("c_nationkey", "c_mktsegment").alias("n_crosses"),
    )
    tot = crossed.agg(
        F.countDistinct("c_nationkey", "c_mktsegment").alias(
            "distinct_crosses"
        )
    )
    return per_bucket.crossJoin(F.broadcast(tot)).agg(
        F.count("*").cast("long").alias("buckets_used"),
        F.sum("n").cast("long").alias("n_rows"),
        F.sum("n_crosses").cast("long").alias("cross_slots"),
        F.max("distinct_crosses").cast("long").alias("distinct_crosses"),
        F.round(
            1.0 - F.count("*") * 1.0 / F.max("distinct_crosses"),
            6,
        ).alias("collision_gain"),
        F.max("n_crosses").cast("long").alias("worst_bucket_crosses"),
    )


# -------------- length-bucket batching waste curve (r11 extra)
_LB_BATCH = 16          # sequences per batch
_LB_BUCKETS = (1, 8, 64)  # bucketing policies swept


@query(
    "prep_length_bucket_batching",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS len FROM documents
    ), pol AS (
      SELECT unnest([{', '.join(str(b) for b in _LB_BUCKETS)}])
        AS n_buckets
    ), bucketed AS (
      SELECT p.n_buckets, d.len,
             ntile(p.n_buckets) OVER (PARTITION BY p.n_buckets
                                      ORDER BY d.len, d.doc_id) AS bkt,
             row_number() OVER (PARTITION BY p.n_buckets
                                ORDER BY d.len, d.doc_id) AS rn
      FROM docs d CROSS JOIN pol p
    ), batched AS (
      -- batch on the PER-BUCKET rank (native row_number inside the
      -- bucket — independent of the Spark side's closed-form offset),
      -- so no batch straddles a bucket boundary
      SELECT n_buckets, bkt,
             (row_number() OVER (PARTITION BY n_buckets, bkt
                                 ORDER BY rn) - 1)
               // {_LB_BATCH} AS batch, len
      FROM bucketed
    ), per_batch AS (
      SELECT n_buckets, bkt, batch,
             CAST(count(*) AS BIGINT) AS bsz,
             CAST(max(len) AS BIGINT) AS mx,
             CAST(sum(len) AS BIGINT) AS s
      FROM batched GROUP BY 1, 2, 3
    )
    SELECT n_buckets,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(bsz * mx) AS BIGINT) AS padded_tokens,
           CAST(sum(s) AS BIGINT) AS real_tokens,
           round(1.0 - CAST(sum(s) AS DOUBLE) / sum(bsz * mx), 6)
             AS padding_waste
    FROM per_batch GROUP BY n_buckets ORDER BY n_buckets
    """,
    tags=("llm", "prep", "batching", "packing"),
)
def prep_length_bucket_batching(spark, sf_dir):
    """LENGTH-BUCKET BATCHING WASTE CURVE — the policy sweep behind
    every training dataloader's bucketing knob: sequences are grouped
    into {_LB_BUCKETS} length buckets (ntile over the global length
    order), batched {_LB_BATCH} at a time within each bucket, and
    each batch pads to its own max length; padding waste =
    1 - real/padded. One bucket = naive global batching (worst); more
    buckets = tighter batches (the dynamic-batching limit). The curve
    prices the knob next to the sequence-PACKING alternative
    (pack_sequences_budget / pack_padding_waste — packing eliminates
    padding by concatenation, bucketing merely reduces it; a team
    picks by whether their attention kernel allows packing).

    Exactness: ntile/row_number over deterministic (len, doc_id)
    order; all token counts exact BIGINTs; one division. Batch ids
    come from the PER-BUCKET rank (r11 ADVICE: the old global-rank
    formula let a 16-row chunk straddle a bucket boundary, splitting
    it into two partial batches and mispricing the curve) — Spark
    derives it closed-form from the ntile algebra (rank minus the
    bucket's start offset), the oracle from a native row_number inside
    the bucket, so the two derivations stay independent. Assumes
    N >= max(buckets) (documents is never that small; the closed form
    still guards its divisor so an N < buckets corner nulls rather
    than divides by zero).

    Scale: the global rank is WIRED through
    operators.global_row_number's two-pass range-partitioned shape
    (no single-partition WindowExec anywhere — the conformal-family
    lesson), materialized once and shared by all three policy grid
    points; bucket ids come from the closed-form ntile of (rank, N).
    Only the (len, rank) projection replicates per policy — lengths,
    never text."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("len")
    )
    # GLOBAL rank via the two-pass range-partitioned primitive (never
    # a single-partition WindowExec over the corpus — the conformal
    # lesson), materialized once for all three policy grid points;
    # ntile is then the CLOSED FORM of (rank, N): the first N%b
    # buckets take ceil(N/b) rows, the rest floor(N/b) — identical to
    # both engines' native ntile definition (oracle keeps native
    # ntile as the independent check).
    ranked = global_row_number(d, ["len", "doc_id"], rn_col="rn")
    ranked = ranked.transform(barrier)
    ncnt = ranked.agg(F.count("*").alias("N"))
    out = None
    for b in _LB_BUCKETS:
        q = F.floor(F.col("N") / b).cast("long")
        r = (F.col("N") % b).cast("long")
        big = r * (q + 1)  # rows covered by the size-(q+1) buckets
        bucketed = ranked.crossJoin(F.broadcast(ncnt)).select(
            "len",
            "rn",
            "N",  # start-offset below still needs N via q/r/big
            F.when(
                F.col("rn") <= big,
                F.ceil(F.col("rn") / (q + 1)),
            )
            .otherwise(
                # greatest() guards the N < b corner (q = 0): that
                # branch is never TAKEN there (big = N covers all
                # rows) but the divisor must still be nonzero
                r + F.ceil((F.col("rn") - big) / F.greatest(q, F.lit(1)))
            )
            .cast("int")
            .alias("bkt"),
        )
        # per-bucket rank = rn - (bucket start offset), closed-form
        # from the same ntile algebra: bucket i starts at (i-1)(q+1)
        # for the first r buckets, r(q+1) + (i-1-r)q after
        start = F.when(
            F.col("bkt") <= r,
            (F.col("bkt") - 1) * (q + 1),
        ).otherwise(big + (F.col("bkt") - 1 - r) * q)
        per_batch = (
            bucketed.select(
                "len",
                "bkt",
                ((F.col("rn") - start - 1) / _LB_BATCH)
                .cast("long")
                .alias("batch"),
            )
            .groupBy("bkt", "batch")
            .agg(
                F.count("*").cast("long").alias("bsz"),
                F.max("len").alias("mx"),
                F.sum("len").alias("s"),
            )
        )
        rel = per_batch.agg(
            F.lit(b).cast("int").alias("n_buckets"),
            F.count("*").cast("long").alias("n_batches"),
            F.sum(F.col("bsz") * F.col("mx"))
            .cast("long")
            .alias("padded_tokens"),
            F.sum("s").cast("long").alias("real_tokens"),
            F.round(
                1.0
                - F.sum("s").cast("double")
                / F.sum(F.col("bsz") * F.col("mx")),
                6,
            ).alias("padding_waste"),
        )
        out = rel if out is None else out.unionByName(rel)
    return out.orderBy("n_buckets")


# --------------- token-budget apportionment (r12)
_TB_BUDGET = 1_000_000


@query(
    "prep_token_budget_allocation",
    oracle=f"""
    WITH sizes AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS sz
      FROM documents GROUP BY source
    ), wts AS (
      SELECT source, sz,
             CAST(round(sqrt(CAST(sz AS DOUBLE)), 6)
                  AS DECIMAL(38,6)) AS w
      FROM sizes
    ), quotas AS (
      SELECT source, sz,
             {_TB_BUDGET} * (CAST(w AS DOUBLE)
               / CAST(sum(w) OVER () AS DOUBLE)) AS quota
      FROM wts
    ), based AS (
      SELECT source, sz, quota,
             CAST(floor(quota) AS BIGINT) AS base,
             quota - floor(quota) AS rem
      FROM quotas
    ), ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rr,
             {_TB_BUDGET} - sum(base) OVER () AS leftover
      FROM based
    )
    SELECT source, sz AS corpus_chars,
           round(quota, 6) AS quota,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked ORDER BY source
    """,
    tags=("llm", "prep", "mixing", "apportionment", "documents"),
)
def prep_token_budget_allocation(spark, sf_dir):
    """TOKEN-BUDGET APPORTIONMENT across corpus sources by the
    largest-remainder (Hamilton) method — the exact-integer version of
    the sqrt-proportional mixing rule training-data pipelines use
    (sample each source ~ sqrt(size) to flatten the head): quotas =
    budget * sqrt(size)/sum, floors, then the leftover tokens go to
    the largest fractional remainders. Hamilton is the apportionment
    that sums EXACTLY to the budget — the property a downstream
    sampler needs, and what naive per-source rounding violates.

    Exactness: sqrt is IEEE correctly-rounded (cross-engine exact from
    identical integer operands); weights round 6dp into DECIMAL(38,6)
    so the weight SUM is exact; quotas/floors/remainders are then
    identical IEEE ops; the remainder ranking has a source tiebreak.

    Scale: one grouped sum over documents; everything after runs on
    the bounded source grid (the OVER () windows span |sources| rows,
    never data)."""
    from pyspark.sql import Window as W

    sizes = (
        t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("sz"))
    )
    wts = sizes.select(
        "source",
        "sz",
        F.round(F.sqrt(F.col("sz").cast("double")), 6)
        .cast("decimal(38,6)")
        .alias("w"),
    )
    # bounded |sources| relation: the unpartitioned windows below are
    # data-independent (the documented bounded-window convention)
    quotas = wts.select(
        "source",
        "sz",
        (
            F.lit(_TB_BUDGET)
            * (
                F.col("w").cast("double")
                / F.sum("w").over(W.partitionBy()).cast("double")
            )
        ).alias("quota"),
    )
    based = quotas.select(
        "source",
        "sz",
        "quota",
        F.floor("quota").cast("long").alias("base"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    )
    ranked = based.select(
        "*",
        F.row_number()
        .over(W.partitionBy().orderBy(F.col("rem").desc(), "source"))
        .alias("rr"),
        (F.lit(_TB_BUDGET) - F.sum("base").over(W.partitionBy())).alias(
            "leftover"
        ),
    )
    return ranked.select(
        "source",
        F.col("sz").alias("corpus_chars"),
        F.round("quota", 6).alias("quota"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    ).orderBy("source")


# --------------- Krippendorff's alpha (r12)


@query(
    "prep_krippendorff_alpha",
    oracle="""
    WITH ratings AS (
      SELECT item, user_id, event_type AS label FROM (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS item, user_id,
               event_type,
               row_number() OVER (PARTITION BY date_trunc('day', ts),
                 user_id ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1
    ), per_item AS (
      SELECT item, CAST(sum(cnt) AS BIGINT) AS m,
             CAST(sum(cnt) * (sum(cnt) - 1) AS BIGINT) AS pairs_all,
             CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS pairs_agree
      FROM (SELECT item, label, count(*) AS cnt
            FROM ratings GROUP BY 1, 2)
      GROUP BY item HAVING sum(cnt) >= 2
    ), do_sum AS (
      SELECT CAST(sum(m) AS BIGINT) AS n_total,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(round(
               CAST(pairs_all - pairs_agree AS DOUBLE) / (m - 1), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS do_raw
      FROM per_item
    ), label_tot AS (
      SELECT CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
             CAST(sum(cnt) AS BIGINT) AS n
      FROM (
        SELECT r.label, count(*) AS cnt
        FROM ratings r JOIN per_item p USING (item)
        GROUP BY r.label
      )
    )
    SELECT d.n_items, d.n_total,
           round(d.do_raw / d.n_total, 6) AS d_observed,
           round(CAST(l.n * l.n - l.sum_sq AS DOUBLE)
                 / (l.n * (l.n - 1)), 6) AS d_expected,
           round(1.0 - (d.do_raw / d.n_total)
                 / (CAST(l.n * l.n - l.sum_sq AS DOUBLE)
                    / (l.n * (l.n - 1))), 6) AS alpha
    FROM do_sum d CROSS JOIN label_tot l
    """,
    tags=("prep", "labeling", "agreement", "events"),
)
def prep_krippendorff_alpha(spark, sf_dir):
    """KRIPPENDORFF'S ALPHA (nominal data; Krippendorff 1970/2004,
    public) — the inter-annotator agreement coefficient labeling
    pipelines gate on (more general than Fleiss' kappa: arbitrary
    incomplete rater-item designs): items are days, raters are users,
    a user's label for a day is their FIRST event type that day.
    alpha = 1 - D_o/D_e with the observed disagreement averaged over
    the pairable values and the expected disagreement from the pooled
    label marginals.

    Exactness: per-item disagreeing-pair counts are pure integers
    (m(m-1) - sum c(c-1)); the per-item /(m-1) ratio rounds 12dp into
    DECIMAL(38,12) before the cross-engine sum (the house policy);
    D_e is one ratio of integers; single-rater items drop per the
    definition, identically both sides (HAVING >= 2).

    Scale: two hash aggregates (ratings, per-item counts) + one
    5-label marginal; no window over the corpus anywhere."""
    r = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("item"),
            "user_id",
        )
        .agg(
            F.min_by(
                "event_type", F.struct("ts", "event_id")
            ).alias("label")
        )
    ).transform(barrier)  # feeds per-item AND marginals
    per_label = r.groupBy("item", "label").agg(
        F.count("*").alias("cnt")
    )
    per_item = (
        per_label.groupBy("item")
        .agg(
            F.sum("cnt").cast("long").alias("m"),
            F.sum(F.col("cnt") * (F.col("cnt") - 1))
            .cast("long")
            .alias("pairs_agree"),
        )
        .filter(F.col("m") >= 2)
        .select(
            "item",
            "m",
            (F.col("m") * (F.col("m") - 1)).alias("pairs_all"),
            "pairs_agree",
        )
    ).transform(barrier)  # feeds do_sum AND the marginal join
    do_sum = per_item.agg(
        F.sum("m").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_items"),
        F.sum(
            F.round(
                (F.col("pairs_all") - F.col("pairs_agree")).cast(
                    "double"
                )
                / (F.col("m") - 1),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("do_raw"),
    )
    label_tot = (
        r.join(per_item.select("item"), "item")
        .groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias(
                "sum_sq"
            ),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    d_obs = F.col("do_raw") / F.col("n_total")
    d_exp = (F.col("n") * F.col("n") - F.col("sum_sq")).cast(
        "double"
    ) / (F.col("n") * (F.col("n") - 1))
    return do_sum.crossJoin(F.broadcast(label_tot)).select(
        "n_items",
        "n_total",
        F.round(d_obs, 6).alias("d_observed"),
        F.round(d_exp, 6).alias("d_expected"),
        F.round(1.0 - d_obs / d_exp, 6).alias("alpha"),
    )
