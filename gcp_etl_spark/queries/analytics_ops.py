"""Product/behavioral analytics over the events stream + TF-IDF text
ranking — classic warehouse workloads (funnels, cohort retention,
term relevance) composed from core operators, each with a full DuckDB
oracle. All NS extensions (the reference has no aggregations beyond
count, SURVEY.md §2A).
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.operators.quantiles import exact_quantiles
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.queries.stats_ops import _DAILY_SQL, _daily
from gcp_etl_spark.tables import t


@query(
    "funnel_3step",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT 'view' AS stage, count(*) AS n_users FROM v
    UNION ALL SELECT 'view>click', count(*) FROM c
    UNION ALL SELECT 'view>click>purchase', count(*) FROM p
    """,
    tags=("analytics", "funnel", "events"),
)
def funnel_3step(spark, sf_dir):
    """Ordered conversion funnel (first view -> first later click ->
    first later purchase): per-user min-timestamp chain. Each stage
    joins the (tiny) per-user survivor table back to events — the
    survivor side shrinks monotonically and broadcasts; events is
    scanned, never shuffled whole."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(df, name):
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "view")
        .unionByName(stage(c, "view>click"))
        .unionByName(stage(p, "view>click>purchase"))
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH firstact AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY 1
    ), act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week,
                                  CAST(date_trunc('day', e.ts) AS TIMESTAMP))
                        / 7) AS INT) AS week_offset
      FROM events e JOIN firstact f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, count(*) AS n_users
    FROM act GROUP BY 1, 2
    """,
    tags=("analytics", "retention", "events"),
)
def retention_cohorts(spark, sf_dir):
    """Weekly cohort retention: cohort = week of first activity,
    counted distinct-active per week offset. One agg for cohorts
    (broadcast back), one distinct + agg for the matrix."""
    e = t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp_ntz").alias("cohort_week")
    )
    act = (
        e.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("cohort_week")) / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_users")
    )


@query(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df_t AS (
      SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY 1
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n_docs + 1.0) / (df_t.dfreq + 1.0)), 4)
               AS tfidf
      FROM tf JOIN df_t USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    WHERE rk <= 3 AND doc_id % 20 = 0
    """,
    tags=("llm", "text", "tfidf"),
)
def text_tfidf_topk(spark, sf_dir):
    """TF-IDF term relevance, top-3 terms per doc (subset): token
    explode -> (doc, term) hash agg -> doc-frequency agg -> smoothed
    idf join -> per-doc window top-k. The doc-frequency table is
    vocabulary-sized (zipf-small vs corpus) and broadcasts; the only
    big shuffle is the (doc, term) agg, which partial-aggregates
    map-side. ln() is libm-identical on both engines; score rounded
    4dp, term tiebreak makes the top-k total-ordered."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("dfreq") + 1.0)),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") % 20 == 0))
        .select("doc_id", "term", "tfidf")
    )


@query(
    "gaps_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    r AS (
      SELECT user_id, day,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INTEGER) AS rn
      FROM d
    ),
    isl AS (
      SELECT user_id, day - rn AS anchor, count(*) AS len
      FROM r GROUP BY user_id, day - rn
    )
    SELECT user_id,
           count(*) AS n_islands,
           max(len) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM isl GROUP BY user_id
    ORDER BY longest_streak DESC, user_id
    LIMIT 20
    """,
    tags=("analytics", "window", "gaps-islands", "events"),
)
def gaps_islands(spark, sf_dir):
    """Gaps-and-islands (consecutive-day activity streaks) via the
    classic day-minus-row_number anchor: within a user, consecutive
    days share ``day - rn``, so one hash agg per (user, anchor) yields
    island lengths with no self-join. The window partitions by
    user_id (high cardinality — full parallelism at any scale) and the
    per-user distinct-day state is bounded by the calendar. Output is
    the top-20 longest streaks, totally ordered (user_id tiebreak)."""
    e = t(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w).cast("int"))
    isl = r.groupBy(
        "user_id", F.date_sub("day", F.col("rn")).alias("anchor")
    ).agg(F.count("*").alias("len"))
    return (
        isl.groupBy("user_id")
        .agg(
            F.count("*").alias("n_islands"),
            F.max("len").alias("longest_streak"),
            F.sum("len").alias("active_days"),
        )
        .orderBy(F.desc("longest_streak"), "user_id")
        .limit(20)
    )


@query(
    "anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(sum(CASE WHEN abs((e.value - s.mu) / s.sd) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(abs((e.value - s.mu) / s.sd)), 2) AS max_z
    FROM events e JOIN s ON e.event_type = s.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("analytics", "anomaly", "events"),
)
def anomaly_zscore(spark, sf_dir):
    """Per-group z-score outlier detection: one grouped agg for
    (mu, sd), broadcast the per-group stats back onto the stream, flag
    |z| > 3. Two scans of the fact, zero fact-side shuffles beyond the
    final per-type agg — the stats table is group-cardinality-sized and
    always broadcasts. mu/sd are generic-real accumulations (engine
    summation order differs by ulps), so the only rounded output is
    max_z at 2dp; the |z|>3 threshold sits on a continuous distribution
    where an ulp cannot flip membership."""
    e = t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = F.abs((F.col("value") - F.col("mu")) / F.col("sd"))
    return (
        e.join(F.broadcast(s), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(z > 3, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.max(z), 2).alias("max_z"),
        )
        .orderBy("event_type")
    )


@query(
    "skyline_pareto",
    oracle="""
    SELECT x.p_partkey, x.p_retailprice, x.p_size
    FROM part x
    WHERE NOT EXISTS (
      SELECT 1 FROM part y
      WHERE y.p_retailprice <= x.p_retailprice
        AND y.p_size >= x.p_size
        AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size)
    )
    ORDER BY x.p_retailprice, x.p_partkey
    """,
    tags=("analytics", "skyline", "window"),
)
def skyline_pareto(spark, sf_dir):
    """2-D skyline (Pareto frontier: minimize price, maximize size)
    WITHOUT the quadratic NOT-EXISTS self-join the oracle runs: a part
    is on the frontier iff its size equals the max size at its price
    AND strictly exceeds the max size over all cheaper prices. That is
    one hash agg to per-price maxima (output bounded by |distinct
    price|, shuffle is on the price key) followed by a running-max
    window over the TINY aggregated table, then a broadcast join back.
    O(n) + O(p log p) vs the oracle's O(n^2). The single-partition
    window is over per-price maxima only; at 100 TB the agg output is
    still ~|distinct price| rows — if even that overflowed one task,
    compute bucket-local skylines first and merge (same algebra,
    associative)."""
    p = t(spark, sf_dir, "part")
    pp = p.groupBy("p_retailprice").agg(F.max("p_size").alias("msize"))
    w = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = pp.withColumn("best_cheaper", F.max("msize").over(w)).filter(
        F.col("best_cheaper").isNull()
        | (F.col("msize") > F.col("best_cheaper"))
    )
    return (
        p.join(F.broadcast(sky), "p_retailprice")
        .filter(F.col("p_size") == F.col("msize"))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


@query(
    "locf_gap_fill",
    oracle="""
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      FROM events WHERE user_id < 40
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1
    ),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )
    SELECT s.user_id, s.day,
           o.day_value AS observed,
           last_value(o.day_value IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM spine s LEFT JOIN obs o
      ON s.user_id = o.user_id AND s.day = o.day
    ORDER BY s.user_id, s.day
    """,
    tags=("analytics", "timeseries", "gap-fill", "window"),
)
def locf_gap_fill(spark, sf_dir):
    """Calendar gap-filling with last-observation-carried-forward:
    per-user day spine (sequence() between observed bounds — generated
    executor-side, never a driver loop), left join of observations,
    then last_value(ignoreNulls) forward fill. The spine explode is
    bounded by the calendar span, the fill window partitions by
    user_id (full parallelism). This is the batch dual of what a
    streaming state store does for sensor/metric feeds; the per-day
    observed aggregate uses the exact decimal-sum policy so join-key
    alignment is bit-stable."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    obs = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_value")
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("day_value").alias("observed"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "ewma_per_user",
    # DuckDB 1.0.0's list_reduce returns batch-layout-dependent
    # results over full-table scans (caught red-handed on integer folds
    # in running_balance_clamped's first draft and on string folds in
    # scalar_array_sort_comparator), so the oracle folds through a
    # recursive CTE instead — same element order, same IEEE expression,
    # one recursion step per sequence position.
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    rec(user_id, i, n, acc) AS (
      SELECT user_id, i, n, value FROM seq WHERE i = 1
      UNION ALL
      SELECT s.user_id, s.i, s.n, 0.25 * s.value + 0.75 * r.acc
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
    ),
    lastv AS (SELECT user_id, value AS last_value FROM seq WHERE i = n)
    SELECT r.user_id, CAST(r.n AS BIGINT) AS n_events,
           l.last_value, r.acc AS ewma_value
    FROM rec r JOIN lastv l ON l.user_id = r.user_id
    WHERE r.i = r.n
    """,
    tags=("analytics", "timeseries", "fold"),
)
def ewma_per_user(spark, sf_dir):
    """EWMA (alpha = 0.25) over each user's event-value series — a
    linear recurrence no Spark window frame expresses (sliding frames
    re-aggregate; EWMA needs ordered foldLeft). Realized as a
    higher-order ``aggregate`` fold over the per-key ordered series;
    both engines fold in the identical (ts, event_id) order with the
    identical IEEE expression, so the doubles match bit-exactly and no
    rounding policy is needed.

    Scale shape: one hash agg keyed by user (map-side combinable
    collect), fold runs inside the map stage after it. The per-KEY
    series must fit an executor (fine for per-user event streams);
    unbounded keys move to the applyInPandasWithState operator in
    streaming/windows.py, which carries the same recurrence as
    incremental state."""
    e = t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, value))),"
            " s -> s.value)"
        ).alias("vals"),
        F.count("*").alias("n_events"),
    )
    return seq.select(
        "user_id",
        "n_events",
        F.element_at("vals", -1).alias("last_value"),
        F.expr(
            "aggregate(slice(vals, 2, size(vals) - 1),"
            " element_at(vals, 1),"
            " (acc, x) -> 0.25d * x + 0.75d * acc)"
        ).alias("ewma_value"),
    )


@query(
    "window_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT n_name,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS nation_rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, nation_rev,
           round(nation_rev / sum(nation_rev) OVER (), 6) AS share
    FROM rev
    """,
    tags=("window", "analytics", "share"),
)
def window_ratio_to_report(spark, sf_dir):
    """Ratio-to-report: each nation's share of global revenue via an
    empty-frame window sum — the percent-of-total BI staple. The
    global denominator is a window over the 25-row AGGREGATE (not the
    fact table), so the 'global' window costs nothing at any scale;
    numerators are exact decimal sums, the one share division rounds
    at 6dp."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("nation_rev")
        )
    )
    w = Window.partitionBy()
    return rev.select(
        "n_name",
        "nation_rev",
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6).alias(
            "share"
        ),
    )


@query(
    "metric_cumulative_uniques",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d
      FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, count(*) AS new_users FROM first_seen GROUP BY d)
    SELECT d, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily
    """,
    tags=("analytics", "window", "distinct"),
)
def metric_cumulative_uniques(spark, sf_dir):
    """Cumulative unique users per day — the growth-accounting metric.
    A naive running COUNT(DISTINCT) over an expanding window re-scans
    every prefix; the scalable identity is dedup-then-cumsum: each
    user contributes on their FIRST day only (one hash agg keyed by
    user), then a running sum over the tiny daily series. The window
    runs over #days rows, not #events."""
    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        "d",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query(
    "ab_test_proportions",
    oracle="""
    WITH assign AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
             CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) >= 4
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted,
             sum(converted) / CAST(count(*) AS DOUBLE) AS rate
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT max(CASE WHEN variant = 0 THEN n_users END) AS n0,
             max(CASE WHEN variant = 0 THEN n_converted END) AS c0,
             max(CASE WHEN variant = 1 THEN n_users END) AS n1,
             max(CASE WHEN variant = 1 THEN n_converted END) AS c1
      FROM arms
    )
    SELECT n0, c0, n1, c1,
           round(c0 / CAST(n0 AS DOUBLE), 6) AS rate0,
           round(c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
           round(
             (c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / nullif(sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)), 0),
             4) AS z_score
    FROM wide
    """,
    tags=("analytics", "stats", "experiment"),
)
def ab_test_proportions(spark, sf_dir):
    """Two-proportion z-test for an A/B experiment: deterministic
    variant assignment (user_id parity), per-user conversion
    (>= 4 purchase events; 'any purchase' is degenerate on this
    fixture — every user has one), pooled-variance z on the rate
    difference (nullif-guarded against zero variance) — the
    experimentation readout computed entirely in aggregates (two hash
    aggs + a 2-row pivot; the z arithmetic runs on 4 scalars).
    Rounding at 4dp absorbs sqrt/division ulps."""
    e = t(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 4,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("variant"), "converted"
    )
    arms = assign.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_converted"))).alias("c1"),
    )
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pool = (F.col("c0") + F.col("c1")) / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    z = (p1 - p0) / F.nullif(
        F.sqrt(
            pool * (1 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
        ),
        F.lit(0.0),
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(z, 4).alias("z_score"),
    )


@query(
    "basket_cooccurrence",
    oracle="""
    WITH lines AS (
      SELECT DISTINCT l_orderkey, p_type
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM lines),
    pairs AS (
      SELECT a.p_type AS type_a, b.p_type AS type_b,
             count(*) AS n_together
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      GROUP BY 1, 2
    ),
    singles AS (
      SELECT p_type, count(*) AS n_orders_with
      FROM lines GROUP BY 1
    )
    SELECT type_a, type_b,
           CAST(n_together AS BIGINT) AS n_together,
           round(n_together / CAST(n.n AS DOUBLE), 6) AS support,
           round(n_together / CAST(sa.n_orders_with AS DOUBLE), 6)
             AS confidence_a_to_b
    FROM pairs
    JOIN singles sa ON sa.p_type = type_a, n_orders n
    ORDER BY n_together DESC, type_a, type_b
    LIMIT 20
    """,
    tags=("analytics", "join", "basket"),
)
def basket_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence (association-rules support +
    confidence): distinct (order, item-type) pairs self-joined per
    order with canonical type_a < type_b — pair fan-out is C(types-
    in-order, 2), bounded by basket width, never corpus-quadratic.
    Support/confidence are int/int divisions rounded at 6dp; the
    global order count rides as a broadcast 1-row aggregate, not a
    driver-side count."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    # lazy localCheckpoint (r12, guide §1.2): lines feeds the order
    # count, both self-join sides, and the per-type singles — without
    # the barrier the optimizer re-expanded the join + distinct into
    # all four consumers (16 parquet scans in one plan); downstream
    # joins keep their explicit broadcast hints, so no strategy
    # depends on the stats the barrier drops
    lines = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
        .transform(barrier)
    )
    n_orders = lines.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    a = lines.alias("a")
    b = lines.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_type") < F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("type_a"),
            F.col("b.p_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_together"))
    )
    singles = lines.groupBy(F.col("p_type").alias("type_a")).agg(
        F.count("*").alias("n_orders_with")
    )
    return (
        pairs.join(F.broadcast(singles), "type_a")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "type_a",
            "type_b",
            "n_together",
            F.round(
                F.col("n_together") / F.col("n_orders").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("n_together") / F.col("n_orders_with").cast("double"),
                6,
            ).alias("confidence_a_to_b"),
        )
        .orderBy(F.desc("n_together"), "type_a", "type_b")
        .limit(20)
    )


@query(
    "rfm_scoring",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           CAST(ntile(4) OVER (ORDER BY last_order DESC, o_custkey)
                AS INT) AS r_quartile,
           CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
                AS INT) AS f_quartile,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
                AS INT) AS m_quartile,
           CAST(frequency AS BIGINT) AS frequency,
           monetary
    FROM base
    """,
    tags=("analytics", "window", "scoring"),
)
def rfm_scoring(spark, sf_dir):
    """RFM customer scoring: recency / frequency / monetary quartiles
    via three ntile windows over the per-customer AGGREGATE (windows
    run over #customers rows, the fact table is reduced first; each
    ORDER BY carries the custkey tiebreaker so quartile boundaries
    are total-ordered and cross-engine stable). Monetary is the exact
    decimal sum."""
    o = t(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    wr = Window.orderBy(F.desc("last_order"), "o_custkey")
    wf = Window.orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.orderBy(F.desc("monetary"), "o_custkey")
    return base.select(
        "o_custkey",
        F.ntile(4).over(wr).alias("r_quartile"),
        F.ntile(4).over(wf).alias("f_quartile"),
        F.ntile(4).over(wm).alias("m_quartile"),
        "frequency",
        "monetary",
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    outdeg AS (SELECT prev_type, sum(n) AS total FROM trans GROUP BY 1)
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(total AS DOUBLE), 6) AS p_transition
    FROM trans JOIN outdeg USING (prev_type)
    """,
    tags=("analytics", "sequence", "markov"),
)
def event_transition_matrix(spark, sf_dir):
    """First-order event-transition matrix (the Markov/Sankey input):
    lag(event_type) per user in event-time order -> transition counts
    -> row-normalized probabilities. One window pass over the events
    plus two tiny aggs (the matrix is #types^2 whatever the corpus
    size); probabilities are int/int divisions rounded at 6dp."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").alias("n"))
    outdeg = trans.groupBy("prev_type").agg(F.sum("n").alias("total"))
    return trans.join(F.broadcast(outdeg), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
            "p_transition"
        ),
    )


@query(
    "running_balance_clamped",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) * CASE
               WHEN event_type = 'purchase' THEN -1 ELSE 1 END AS delta
      FROM events
    ),
    runs AS (
      SELECT user_id, delta,
             sum(delta) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS prefix
      FROM d
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(delta) - least(CAST(0 AS BIGINT), min(prefix))
                AS BIGINT) AS final_balance_cents
    FROM runs GROUP BY user_id
    """,
    tags=("analytics", "window", "recurrence"),
)
def running_balance_clamped(spark, sf_dir):
    """Floor-clamped running balance — balance(t) = max(0, balance +
    delta) — looks like a non-associative fold, but the clamp has a
    prefix-sum CLOSED FORM (the reflection identity):
    final = S_n - min(0, min_k S_k). That turns the sequential
    recurrence into one running-sum window + one hash agg — fully
    parallel, integer-exact, no per-key fold at all (and no DuckDB
    list_reduce, whose fold is batch-layout-buggy in 1.0.0 — see
    scalar_array_sort_comparator). Recurrences WITHOUT a closed form
    take the applyInPandasWithState operator instead."""
    e = t(spark, sf_dir, "events")
    delta = (
        F.round(F.col("value") * 100).cast("long")
        * F.when(F.col("event_type") == "purchase", -1).otherwise(1)
    )
    d = e.select("user_id", "ts", "event_id", delta.alias("delta"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = d.withColumn("prefix", F.sum("delta").over(w))
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (
            F.sum("delta")
            - F.least(F.lit(0).cast("long"), F.min("prefix"))
        ).alias("final_balance_cents"),
    )


@query(
    "histogram_equi_depth",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM ranked GROUP BY bucket
    """,
    tags=("analytics", "histogram", "window"),
)
def histogram_equi_depth(spark, sf_dir):
    """Equi-DEPTH histogram (quantile buckets: equal row counts,
    data-driven boundaries) via a total-ordered ntile — the
    complement of `histogram_fixed_bins`' equi-width bins and the
    statistic a cost optimizer keeps per column. The orderkey
    tiebreaker makes bucket assignment of duplicate prices
    deterministic cross-engine."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "resample_linear_interpolate",
    oracle="""
    WITH obs AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      FROM events WHERE user_id < 40 GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM obs GROUP BY 1
    ),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1,
             INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    ctx AS (
      SELECT s.user_id, s.day, o.day_value AS observed,
             last_value(o.day_value IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN o.day_value IS NOT NULL THEN s.day END
                        IGNORE NULLS) OVER wp AS pd,
             first_value(o.day_value IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN o.day_value IS NOT NULL THEN s.day END
                         IGNORE NULLS) OVER wn AS nd
      FROM spine s LEFT JOIN obs o
        ON s.user_id = o.user_id AND s.day = o.day
      WINDOW wp AS (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY s.user_id ORDER BY s.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day, observed,
           round(CASE
             WHEN observed IS NOT NULL THEN observed
             ELSE pv + (nv - pv) * date_diff('day', pd, day)
                       / date_diff('day', pd, nd)
           END, 6) AS interpolated
    FROM ctx
    ORDER BY user_id, day
    """,
    tags=("analytics", "timeseries", "resample", "window"),
)
def resample_linear_interpolate(spark, sf_dir):
    """Calendar resampling with LINEAR interpolation between the
    surrounding observations — the numeric companion of
    `locf_gap_fill` (sensor/metric feeds where a step function is
    wrong). Same per-user day spine; gap values are
    pv + (nv-pv) * (t-tp)/(tn-tp) from the nearest non-null neighbors
    on each side, found with two ignore-nulls windows (one forward,
    one backward) over the spine join — O(n) per partition, no
    self-join of the spine against observations. Identical IEEE
    expression on both engines -> hash-verified."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    obs = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_value")
    )
    bounds = obs.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    ctx = (
        spine.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.col("day_value").alias("observed"),
            F.last("day_value", ignorenulls=True).over(wp).alias("pv"),
            F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
            F.first("day_value", ignorenulls=True).over(wn).alias("nv"),
            F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
        )
    )
    interp = F.when(F.col("observed").isNotNull(), F.col("observed")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * F.datediff("day", "pd")
        / F.datediff("nd", "pd")
    )
    return ctx.select(
        "user_id",
        "day",
        "observed",
        F.round(interp, 6).alias("interpolated"),
    ).orderBy("user_id", "day")


@query(
    "period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY month
    )
    SELECT month, revenue,
           (revenue - lag(revenue, 1) OVER m) / lag(revenue, 1) OVER m
             AS mom_pct,
           (revenue - lag(revenue, 12) OVER m) / lag(revenue, 12) OVER m
             AS yoy_pct
    FROM monthly
    WINDOW m AS (ORDER BY month)
    """,
    tags=("analytics", "window", "orders", "exact-decimal"),
)
def period_over_period(spark, sf_dir):
    """Period-over-period BI staple: monthly revenue with
    month-over-month and year-over-year percent change (lag 1 / lag 12
    over the month series; NULL where no prior period exists).

    Scale: the global window runs over the MONTH AGGREGATE — bounded
    by the calendar (≤ a few thousand rows at any data scale), so the
    single-partition window costs nothing; the fact table sees one
    hash agg. Revenue is an exact decimal sum; the pct quotients are
    single IEEE divisions of identical operands — emitted unrounded.
    """
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    m = Window.orderBy("month")
    rev = F.col("revenue")
    mom = F.lag("revenue", 1).over(m)
    yoy = F.lag("revenue", 12).over(m)
    return monthly.select(
        "month",
        "revenue",
        ((rev - mom) / mom).alias("mom_pct"),
        ((rev - yoy) / yoy).alias("yoy_pct"),
    )


@query(
    "pattern_v_shape",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             lag(value, 2) OVER w AS v2,
             lag(value, 1) OVER w AS v1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           count(*) AS n_points,
           count(*) FILTER (WHERE v2 > v1 AND value > v1) AS n_vshapes
    FROM seq GROUP BY user_id
    HAVING count(*) FILTER (WHERE v2 > v1 AND value > v1) > 0
    """,
    tags=("analytics", "pattern", "window", "events"),
)
def pattern_v_shape(spark, sf_dir):
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite): count strict
    local minima (down-then-up, a V) in each user's value sequence —
    the lag-composition form of row-pattern matching that covers most
    fixed-length patterns without a state machine.

    Scale: one per-user window pass + one hash agg on the same key;
    fixed-length patterns need exactly pattern_len-1 lag columns, all
    in a single WindowExec. (Variable-length patterns are the
    documented escape to ``applyInPandasWithState``.)
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 1).over(w).alias("v1"),
    )
    is_v = (F.col("v2") > F.col("v1")) & (F.col("value") > F.col("v1"))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("*").alias("n_points"),
            F.count(F.when(is_v, 1)).alias("n_vshapes"),
        )
        .filter(F.col("n_vshapes") > 0)
    )


@query(
    "analytics_acf1",
    oracle="""
    WITH seq AS (
      SELECT user_id, value AS x,
             lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y
      FROM events
    ), m AS (
      SELECT user_id,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)))
                  AS DOUBLE) AS syy
      FROM seq WHERE y IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS acf1
    FROM m
    WHERE n >= 20 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
    tags=("analytics", "timeseries", "stats", "events"),
)
def analytics_acf1(spark, sf_dir):
    """Per-user lag-1 autocorrelation of the event value series — the
    first ACF coefficient, the building block of seasonality / trend
    diagnostics. Pairs (x_t, x_{t-1}) via one lag window, then the
    exact-decimal Pearson moment construction of ``agg_corr``
    (aggregates.py): per-row products are single IEEE ops on 2-dp
    operands, sums are exact decimals, so the final round(…, 6) is
    bit-stable across engines.

    Scale: one shuffle on user_id serves both the lag window and the
    moment aggregation (same key); higher lags are additional lag
    columns in the SAME WindowExec, not extra passes.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("value").alias("x"),
        F.lag("value").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    dx = F.col("x").cast("decimal(18,2)")
    dy = F.col("y").cast("decimal(18,2)")
    m = seq.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(18,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
        F.sum(dy * dy).cast("double").alias("syy"),
    )
    var_x = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    var_y = m["n"] * m["syy"] - m["sy"] * m["sy"]
    acf = (m["n"] * m["sxy"] - m["sx"] * m["sy"]) / (
        F.sqrt(var_x) * F.sqrt(var_y)
    )
    return (
        m.filter((m["n"] >= 20) & (var_x > 0) & (var_y > 0))
        .select(
            "user_id",
            m["n"].cast("long").alias("n_pairs"),
            F.round(acf, 6).alias("acf1"),
        )
    )


@query(
    "analytics_benford",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                    1, 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), g AS (
      SELECT digit, count(*) AS n FROM d GROUP BY digit
    )
    SELECT digit, n,
           round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6)
             AS pct,
           round(log10(1 + 1.0 / CAST(digit AS INTEGER)), 6)
             AS benford_expected
    FROM g
    """,
    tags=("analytics", "profiling", "orders"),
)
def analytics_benford(spark, sf_dir):
    """Benford's-law first-digit profile of order totals: observed
    first-significant-digit frequency vs the expected log10(1 + 1/d)
    distribution — a standard fraud / synthetic-data screen. The digit
    is extracted through an exact decimal(18,2) → string cast (both
    engines render plain notation), never via float log10 whose floor
    could flip at power-of-ten boundaries.

    Scale: full scan → 9-group hash agg (map-side partial), then a
    window over the 9-row aggregate — constant-size state regardless
    of input scale.
    """
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = (
        F.col("o_totalprice")
        .cast("decimal(18,2)")
        .cast("string")
        .substr(1, 1)
        .alias("digit")
    )
    g = o.select(digit).groupBy("digit").agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy())
    return g.select(
        "digit",
        "n",
        F.round(F.col("n") / tot.cast("double"), 6).alias("pct"),
        F.round(
            F.log10(F.lit(1) + F.lit(1.0) / F.col("digit").cast("int")), 6
        ).alias("benford_expected"),
    )


@query(
    "analytics_cusum_changepoint",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, ts,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS prefix,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS k,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id) AS DOUBLE)
               / CAST(count(*) OVER (PARTITION BY user_id) AS DOUBLE) AS mu
      FROM events
    ), c AS (
      SELECT user_id, event_id, abs(prefix - k * mu) AS a
      FROM s
    ), r AS (
      SELECT user_id, event_id, a,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY a DESC, event_id) AS rn
      FROM c
    )
    SELECT user_id, event_id AS cp_event_id, round(a, 6) AS max_abs_cusum
    FROM r WHERE rn = 1
    """,
    tags=("analytics", "timeseries", "changepoint", "events"),
)
def analytics_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection: for each user, the event where the
    cumulative deviation from the user's mean value peaks — the argmax
    of |Σ(x_i − μ)|, the classic single-changepoint statistic.

    FP determinism without casting noisy doubles: the running deviation
    sum is algebraically rewritten as prefix_k − k·μ, where prefix_k is
    an EXACT decimal running sum of the 2-dp values and k·μ is one IEEE
    multiply of bit-identical operands — no intermediate double→decimal
    rounding anywhere.

    Scale: every window (prefix sum, row count, partition total) shares
    the user_id shuffle — one exchange, one sort, three window frames
    in the same WindowExec chain; the argmax is a fourth frame on the
    same key.
    """
    e = t(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    dec = F.col("value").cast("decimal(18,2)")
    s = e.select(
        "user_id",
        "event_id",
        F.sum(dec)
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("prefix"),
        F.row_number().over(wo).cast("double").alias("k"),
        (F.sum(dec).over(wp).cast("double") / F.count("*").over(wp).cast("double")).alias(
            "mu"
        ),
    )
    c = s.select(
        "user_id",
        "event_id",
        F.abs(F.col("prefix") - F.col("k") * F.col("mu")).alias("a"),
    )
    wr = Window.partitionBy("user_id").orderBy(F.desc("a"), "event_id")
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("cp_event_id"),
            F.round("a", 6).alias("max_abs_cusum"),
        )
    )


@query(
    "analytics_auc",
    oracle="""
    WITH g AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'purchase') AS np,
             count(*) FILTER (WHERE event_type <> 'purchase') AS nn
      FROM events GROUP BY value
    ), c AS (
      SELECT np, nn,
             CAST(coalesce(sum(nn) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS DOUBLE) AS cum_nn
      FROM g
    )
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           round(sum(np * (cum_nn + 0.5 * nn))
                 / (CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)), 6)
             AS auc
    FROM c
    """,
    tags=("analytics", "ml-eval", "events"),
)
def analytics_auc(spark, sf_dir):
    """ROC AUC of ``value`` as a score for the 'purchase' label, via
    the Mann-Whitney U identity with PROPER tie handling: AUC =
    Σ_v np(v)·(#neg below v + ½·#neg at v) / (N⁺·N⁻) — equivalent to
    average-rank ties, no arbitrary tie-break needed.

    Scale: the global-order window runs over the DISTINCT-score
    relation (2-dp scores → bounded cardinality), not the event rows —
    the row-level work is one hash aggregation. Every addend is an
    exact multiple of 0.5 below 2^53, so the double sum is
    order-independent and cross-engine exact.
    """
    e = t(spark, sf_dir, "events")
    g = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np"),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias("nn"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).cast("double").alias("cum_nn"),
    )
    num = F.sum(F.col("np") * (F.col("cum_nn") + 0.5 * F.col("nn")))
    return c.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.round(
            num
            / (F.sum("np").cast("double") * F.sum("nn").cast("double")),
            6,
        ).alias("auc"),
    )


@query(
    "analytics_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
             sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
               PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    ), f AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn
      FROM w WHERE 2 * cum_w >= tot_w
    )
    SELECT l_returnflag, l_extendedprice AS weighted_median_price
    FROM f WHERE rn = 1
    """,
    tags=("analytics", "stats", "lineitem"),
)
def analytics_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag: the smallest
    price whose cumulative weight reaches half the group total — the
    lower weighted median, picked by exact decimal comparison
    (2·cum ≥ total), so no float boundary can flip the selected row.

    Scale: one shuffle on l_returnflag serves the running-weight
    window, the partition-total frame, and the final pick; the
    selected-row filter is a residual predicate, not a second pass.
    At extreme group widths the escape is the two-pass
    ``global_row_number_twopass`` algebra per group.
    """
    li = t(spark, sf_dir, "lineitem")
    order_cols = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    wo = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("l_returnflag")
    dec = F.col("l_quantity").cast("decimal(18,2)")
    w = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.sum(dec).over(wo).alias("cum_w"),
        F.sum(dec).over(wp).alias("tot_w"),
    )
    wr = Window.partitionBy("l_returnflag").orderBy(*order_cols)
    return (
        w.filter(2 * F.col("cum_w") >= F.col("tot_w"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
        )
    )


@query(
    "analytics_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(month(o_orderdate) AS INT) AS mon,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT mon, n, CAST(rev AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) * 12 / CAST(sum(rev) OVER () AS DOUBLE),
                 6) AS seasonal_index
    FROM m
    """,
    tags=("analytics", "timeseries", "orders"),
)
def analytics_seasonality_index(spark, sf_dir):
    """Month-of-year seasonality index: each calendar month's revenue
    relative to the uniform monthly share (index 1.0 = no seasonality).
    Revenue stays an exact decimal through BOTH the per-month sum and
    the 12-row window total, so the final double ratio is bit-stable.

    Scale: full scan → 12-group hash agg; the window runs over 12
    rows. Constant-size state at any input scale.
    """
    o = t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.month("o_orderdate").cast("int").alias("mon")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"),
        F.count("*").alias("n"),
    )
    tot = F.sum("rev").over(Window.partitionBy())
    return m.select(
        "mon",
        "n",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") * 12 / tot.cast("double"), 6
        ).alias("seasonal_index"),
    )


@query(
    "analytics_ks_test",
    oracle="""
    WITH g AS (
      SELECT value,
             count(*) FILTER (WHERE event_type = 'click') AS na,
             count(*) FILTER (WHERE event_type = 'purchase') AS nb
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ), c AS (
      SELECT value,
             CAST(sum(na) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST((SELECT sum(na) FROM g) AS DOUBLE) AS fa,
             CAST(sum(nb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST((SELECT sum(nb) FROM g) AS DOUBLE) AS fb
      FROM g
    ), r AS (
      SELECT value, abs(fa - fb) AS d,
             row_number() OVER (ORDER BY abs(fa - fb) DESC, value) AS rn
      FROM c
    )
    SELECT CAST((SELECT sum(na) FROM g) AS BIGINT) AS n_a,
           CAST((SELECT sum(nb) FROM g) AS BIGINT) AS n_b,
           value AS ks_at_value, round(d, 6) AS ks_stat
    FROM r WHERE rn = 1
    """,
    tags=("analytics", "stats", "drift", "events"),
)
def analytics_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the click and
    purchase value distributions: max |F_a(x) − F_b(x)| plus the value
    where the gap peaks — the standard nonparametric drift detector,
    complementing the KL (``text_source_divergence``) and PSI-style
    checks.

    FP determinism: cumulative counts are exact integers; each CDF
    ratio, difference, and abs is one IEEE op on identical operands,
    and the argmax tie-breaks on value.

    Scale: the CDF window runs over the DISTINCT-value relation (2-dp
    values → bounded), not events; the row-level work is one hash agg.
    """
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    g = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("na"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("nb"),
    )
    wc = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    c = g.select(
        "value",
        (
            F.sum("na").over(wc).cast("double")
            / F.sum("na").over(wt).cast("double")
        ).alias("fa"),
        (
            F.sum("nb").over(wc).cast("double")
            / F.sum("nb").over(wt).cast("double")
        ).alias("fb"),
        F.sum("na").over(wt).alias("tot_a"),
        F.sum("nb").over(wt).alias("tot_b"),
    )
    d = F.abs(F.col("fa") - F.col("fb"))
    wr = Window.orderBy(F.desc("d"), "value")
    return (
        c.withColumn("d", d)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            F.col("tot_a").cast("long").alias("n_a"),
            F.col("tot_b").cast("long").alias("n_b"),
            F.col("value").alias("ks_at_value"),
            F.round("d", 6).alias("ks_stat"),
        )
    )


@query(
    "analytics_chi_square",
    oracle="""
    WITH o AS (
      SELECT event_type AS et, CAST(dayofweek(ts) AS INT) AS dow,
             count(*) AS obs
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT et, dow, obs,
             sum(obs) OVER (PARTITION BY et) AS row_tot,
             sum(obs) OVER (PARTITION BY dow) AS col_tot,
             sum(obs) OVER () AS n
      FROM o
    ), term AS (
      SELECT n,
             CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
               / CAST(n AS DOUBLE) AS e,
             CAST(obs AS DOUBLE) AS od
      FROM m
    )
    SELECT CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(CAST((od - e) * (od - e) / e AS DECIMAL(18,10)))
                      AS DOUBLE), 6) AS chi2
    FROM term
    """,
    tags=("analytics", "stats", "events"),
)
def analytics_chi_square(spark, sf_dir):
    """Chi-square independence statistic for event_type × day-of-week:
    Σ (observed − expected)² / expected over the contingency table —
    the classic categorical-association screen (compare to the
    critical value for (r−1)(c−1) dof offline).

    FP determinism: the contingency table is exact integers; expected
    counts and each cell term are fixed IEEE op chains, and terms are
    cast to decimal(18,10) so the final sum is order-independent.

    Scale: one hash agg to the (types × 7)-cell table, then windows
    over that constant-size relation.
    """
    e = t(spark, sf_dir, "events")
    o = e.groupBy(
        F.col("event_type").alias("et"),
        F.dayofweek("ts").cast("int").alias("dow"),
    ).agg(F.count("*").alias("obs"))
    m = o.select(
        "obs",
        F.sum("obs").over(Window.partitionBy("et")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = (
        F.col("row_tot").cast("double")
        * F.col("col_tot").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("obs").cast("double")
    term = ((od - exp) * (od - exp) / exp).cast("decimal(18,10)")
    return m.select("n", term.alias("term")).agg(
        F.max("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum("term").cast("double"), 6).alias("chi2"),
    )


@query(
    "analytics_gini",
    oracle="""
    WITH r AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey
    ), k AS (
      SELECT rev,
             CAST(row_number() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i
      FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev) AS DOUBLE) AS total_revenue,
           round(CAST(2 * sum(i * rev) - (count(*) + 1) * sum(rev) AS DOUBLE)
                 / CAST(count(*) * sum(rev) AS DOUBLE), 6) AS gini
    FROM k
    """,
    tags=("analytics", "stats", "orders"),
)
def analytics_gini(spark, sf_dir):
    """Gini coefficient of customer revenue concentration — the
    inequality summary behind "top x% of customers drive y% of
    revenue" (Lorenz) dashboards: G = (2·Σ i·x_(i) − (n+1)·Σx) /
    (n·Σx) with revenues ranked ascending, custkey tie-break.

    FP determinism: rank·revenue products and all sums stay exact
    decimal/integer until two final double casts and one division.

    Scale: the ranked relation is per-customer (aggregated, not raw
    orders); at extreme customer counts the global rank swaps to the
    two-pass ``global_row_number_twopass`` algebra — the Gini sums
    themselves are plain map-side-combining aggregates either way.
    """
    o = t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    k = r.select(
        "rev",
        F.row_number()
        .over(Window.orderBy("rev", "o_custkey"))
        .cast("long")
        .alias("i"),
    )
    n = F.count("*")
    srev = F.sum("rev")
    sirev = F.sum(F.col("i") * F.col("rev"))
    return k.agg(
        n.cast("long").alias("n_customers"),
        srev.cast("double").alias("total_revenue"),
        F.round(
            (2 * sirev - (n + 1) * srev).cast("double")
            / (n * srev).cast("double"),
            6,
        ).alias("gini"),
    )


@query(
    "profile_entropy",
    oracle="""
    WITH u AS (
      SELECT 'events.event_type' AS col_name, event_type AS v FROM events
      UNION ALL
      SELECT 'documents.lang', lang FROM documents
      UNION ALL
      SELECT 'documents.source', source FROM documents
    ), c AS (
      SELECT col_name, v, count(*) AS cnt FROM u GROUP BY 1, 2
    ), p AS (
      SELECT col_name, cnt,
             CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY col_name)
                                        AS DOUBLE) AS pr,
             count(*) OVER (PARTITION BY col_name) AS k
      FROM c
    )
    SELECT col_name, CAST(max(k) AS BIGINT) AS n_categories,
           round(CAST(sum(CAST(-pr * ln(pr) AS DECIMAL(18,12))) AS DOUBLE),
                 6) AS entropy,
           round(CAST(sum(CAST(-pr * ln(pr) AS DECIMAL(18,12))) AS DOUBLE)
                 / ln(CAST(max(k) AS DOUBLE)), 6) AS norm_entropy
    FROM p GROUP BY col_name
    """,
    tags=("analytics", "profiling", "events", "documents"),
)
def profile_entropy(spark, sf_dir):
    """Shannon entropy profile of categorical columns (event_type,
    document lang/source): H = −Σ p·ln p plus the 0-1 normalized
    H/ln(k) — the data-profiling signal for skewed / near-constant
    columns that should become partition keys or be dropped.

    FP determinism: probabilities are exact-count ratios; each −p·ln p
    term is cast to decimal(18,12) so per-column sums are
    order-independent.

    Scale: one union of column scans → hash agg to (column, category)
    cardinality, then constant-size windows per column.
    """
    e = t(spark, sf_dir, "events").select(
        F.lit("events.event_type").alias("col_name"),
        F.col("event_type").alias("v"),
    )
    docs = t(spark, sf_dir, "documents")
    u = e.unionByName(
        docs.select(
            F.lit("documents.lang").alias("col_name"), F.col("lang").alias("v")
        )
    ).unionByName(
        docs.select(
            F.lit("documents.source").alias("col_name"),
            F.col("source").alias("v"),
        )
    )
    c = u.groupBy("col_name", "v").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("col_name")
    p = c.select(
        "col_name",
        (F.col("cnt").cast("double") / F.sum("cnt").over(w).cast("double")).alias(
            "pr"
        ),
        F.count("*").over(w).alias("k"),
    )
    term = (-F.col("pr") * F.log("pr")).cast("decimal(18,12)")
    h = F.sum(term).cast("double")
    return p.select("col_name", "k", term.alias("term")).groupBy("col_name").agg(
        F.max("k").cast("long").alias("n_categories"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy"),
        F.round(
            F.sum("term").cast("double") / F.log(F.max("k").cast("double")), 6
        ).alias("norm_entropy"),
    )


@query(
    "analytics_cohort_ltv",
    oracle="""
    WITH first AS (
      SELECT o_custkey,
             min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT))
               AS cohort_m
      FROM orders GROUP BY o_custkey
    ), rev AS (
      SELECT f.cohort_m,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS INT)
               - f.cohort_m AS offset_m,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ), size_ AS (
      SELECT cohort_m, count(*) AS n_cust FROM first GROUP BY 1
    )
    SELECT r.cohort_m, r.offset_m, s.n_cust,
           CAST(r.rev AS DOUBLE) AS revenue,
           round(CAST(sum(r.rev) OVER (PARTITION BY r.cohort_m
                   ORDER BY r.offset_m
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / CAST(s.n_cust AS DOUBLE), 6)
             AS cum_ltv_per_customer
    FROM rev r JOIN size_ s ON r.cohort_m = s.cohort_m
    """,
    tags=("analytics", "cohort", "orders"),
)
def analytics_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value curve: customers grouped by first-order
    month, revenue tracked by month offset since acquisition, and the
    running cumulative LTV per cohort customer — the standard
    retention-economics readout (complements ``cohort_retention``,
    which tracks activity, not value).

    FP determinism: month indices are integer arithmetic; revenue
    stays exact decimal through the per-cell sums AND the cumulative
    window; the single division per row is IEEE on identical operands.

    Scale: first-order months via one agg on custkey; the join back is
    on the same key (no extra shuffle under AQE reuse); the cumulative
    window partitions by cohort over the bounded (cohort × offset)
    grid.
    """
    o = t(spark, sf_dir, "orders")
    mcol = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int")
    first = o.groupBy("o_custkey").agg(F.min(mcol).alias("cohort_m"))
    rev = (
        o.join(first, "o_custkey")
        .groupBy("cohort_m", (mcol - F.col("cohort_m")).alias("offset_m"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )
    size = first.groupBy("cohort_m").agg(F.count("*").alias("n_cust"))
    wc = (
        Window.partitionBy("cohort_m")
        .orderBy("offset_m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(size, "cohort_m")
        .select(
            "cohort_m",
            "offset_m",
            "n_cust",
            F.col("rev").cast("double").alias("revenue"),
            F.round(
                F.sum("rev").over(wc).cast("double")
                / F.col("n_cust").cast("double"),
                6,
            ).alias("cum_ltv_per_customer"),
        )
    )


@query(
    "analytics_calibration",
    oracle="""
    WITH g AS (
      SELECT value, count(*) AS c,
             count(*) FILTER (WHERE event_type = 'purchase') AS cp
      FROM events GROUP BY value
    ), cum AS (
      SELECT value, c, cp,
             coalesce(sum(c) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_excl,
             sum(c) OVER () AS n
      FROM g
    ), b AS (
      SELECT least(9, CAST(floor(10.0 * cum_excl / n) AS INT)) + 1 AS bin,
             value, c, cp
      FROM cum
    )
    SELECT CAST(bin AS INTEGER) AS bin, CAST(sum(c) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)) * c) AS DOUBLE)
                 / CAST(sum(c) AS DOUBLE), 6) AS avg_score,
           round(CAST(sum(cp) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
             AS purchase_rate
    FROM b GROUP BY bin
    """,
    tags=("analytics", "ml-eval", "events"),
)
def analytics_calibration(spark, sf_dir):
    """Calibration / reliability curve for ``value`` as a purchase
    score: equal-frequency decile bins, each reporting mean score vs
    observed purchase rate — read alongside ``analytics_auc`` (AUC
    ranks, calibration checks the probabilities themselves).

    Scale: bins derive from the DISTINCT-score relation's cumulative
    counts (bounded, 2-dp scores) — never an ntile over raw rows — so
    the row-level work is one hash agg; ties share a bin by
    construction. All ratios are exact-count/exact-decimal quotients.
    """
    e = t(spark, sf_dir, "events")
    g = e.groupBy("value").agg(
        F.count("*").alias("c"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("cp"),
    )
    wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, -1)
    wt = Window.partitionBy()
    cum = g.select(
        "value",
        "c",
        "cp",
        F.coalesce(F.sum("c").over(wc), F.lit(0)).alias("cum_excl"),
        F.sum("c").over(wt).alias("n"),
    )
    bin_ = (
        F.least(
            F.lit(9),
            F.floor(10.0 * F.col("cum_excl") / F.col("n")).cast("int"),
        )
        + 1
    ).alias("bin")
    return (
        cum.select(bin_, "value", "c", "cp")
        .groupBy("bin")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)") * F.col("c"))
                .cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("avg_score"),
            F.round(
                F.sum("cp").cast("double") / F.sum("c").cast("double"), 6
            ).alias("purchase_rate"),
        )
    )


@query(
    "analytics_abc_pareto",
    oracle="""
    WITH r AS (
      SELECT l_partkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
               AS rev
      FROM lineitem GROUP BY l_partkey
    ), c AS (
      SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(rev) OVER () AS tot
      FROM r
    ), k AS (
      SELECT CASE
               WHEN CAST(cum AS DOUBLE) <= 0.80 * CAST(tot AS DOUBLE)
                 THEN 'A'
               WHEN CAST(cum AS DOUBLE) <= 0.95 * CAST(tot AS DOUBLE)
                 THEN 'B'
               ELSE 'C' END AS abc_class,
             rev, tot
      FROM c
    )
    SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS DOUBLE) AS class_revenue,
           round(CAST(sum(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6)
             AS revenue_share
    FROM k GROUP BY abc_class
    """,
    tags=("analytics", "pareto", "lineitem"),
)
def analytics_abc_pareto(spark, sf_dir):
    """ABC / Pareto classification of parts by revenue contribution
    (A = first 80% of cumulative revenue, B = next 15%, C = tail) —
    the inventory-management standard for "which SKUs matter".

    FP determinism: revenue and its cumulative stay exact decimal; the
    class boundaries compare two IEEE products of identical operands
    (a tie at exactly 0.80 of total revenue is a measure-zero event on
    money data).

    Scale: ranking runs over the per-part AGGREGATE (bounded by part
    count, not lineitem rows); at extreme part counts the cumulative
    switches to the two-pass prefix-offset algebra
    (``global_row_number_twopass``).
    """
    li = t(spark, sf_dir, "lineitem")
    r = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("rev")
    )
    wc = Window.orderBy(F.desc("rev"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    c = r.select(
        "rev",
        F.sum("rev").over(wc).alias("cum"),
        F.sum("rev").over(wt).alias("tot"),
    )
    cls = (
        F.when(
            F.col("cum").cast("double") <= 0.80 * F.col("tot").cast("double"),
            "A",
        )
        .when(
            F.col("cum").cast("double") <= 0.95 * F.col("tot").cast("double"),
            "B",
        )
        .otherwise("C")
    )
    return (
        c.select(cls.alias("abc_class"), "rev", "tot")
        .groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("double").alias("class_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


@query(
    "analytics_new_vs_returning",
    oracle="""
    WITH f AS (
      SELECT o_custkey,
             min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT))
               AS first_m
      FROM orders GROUP BY 1
    ), act AS (
      SELECT DISTINCT
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m,
             o_custkey
      FROM orders
    )
    SELECT act.m, CAST(count(*) AS BIGINT) AS n_active,
           CAST(count(*) FILTER (WHERE f.first_m = act.m) AS BIGINT)
             AS n_new,
           CAST(count(*) FILTER (WHERE f.first_m < act.m) AS BIGINT)
             AS n_returning
    FROM act JOIN f ON act.o_custkey = f.o_custkey
    GROUP BY act.m
    """,
    tags=("analytics", "cohort", "orders"),
)
def analytics_new_vs_returning(spark, sf_dir):
    """Monthly active customers decomposed into new vs returning —
    the growth-accounting counterpart of ``analytics_cohort_ltv``
    (same first-order anchor, activity instead of value).

    Scale: both the first-month anchor and the distinct activity grid
    aggregate on o_custkey — the join is same-key (no extra exchange
    under AQE reuse); everything else is exact integer counting.
    """
    o = t(spark, sf_dir, "orders")
    mcol = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int")
    f = o.groupBy("o_custkey").agg(F.min(mcol).alias("first_m"))
    act = o.select(mcol.alias("m"), "o_custkey").distinct()
    return (
        act.join(f, "o_custkey")
        .groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.count(F.when(F.col("first_m") == F.col("m"), 1))
            .cast("long")
            .alias("n_new"),
            F.count(F.when(F.col("first_m") < F.col("m"), 1))
            .cast("long")
            .alias("n_returning"),
        )
    )


@query(
    "funnel_time_bound",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
       AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL '1 hour'
      WHERE e.event_type = 'click' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
       AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL '24 hours'
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT 'view' AS stage, count(*) AS n_users FROM v
    UNION ALL SELECT 'view>click(1h)', count(*) FROM c
    UNION ALL SELECT 'view>click(1h)>purchase(24h)', count(*) FROM p
    """,
    tags=("analytics", "funnel", "events"),
)
def funnel_time_bound(spark, sf_dir):
    """Conversion funnel with per-step time budgets (click within 1 h
    of first view, purchase within 24 h of that click) — the
    attribution-window variant of ``funnel_3step``; the unbounded
    funnel overcounts conversions that took weeks.

    Scale: same shape as the unbounded funnel — each stage is one
    min-aggregate on user_id joined back on the same key with the
    window bound as a residual predicate; no new shuffle keys.
    """
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.lit("view").alias("stage"), F.count("*").alias("n_users"))
        .unionByName(
            c.agg(
                F.lit("view>click(1h)").alias("stage"),
                F.count("*").alias("n_users"),
            )
        )
        .unionByName(
            p.agg(
                F.lit("view>click(1h)>purchase(24h)").alias("stage"),
                F.count("*").alias("n_users"),
            )
        )
    )


@query(
    "pattern_rising_runs",
    oracle="""
    WITH s AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN lag(value) OVER w IS NULL
                    OR value <= lag(value) OVER w THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM s
    ), lens AS (
      SELECT user_id, run_id, count(*) AS len
      FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(len) AS BIGINT) AS longest_run
    FROM lens WHERE len >= 3 GROUP BY user_id
    """,
    tags=("analytics", "pattern", "gaps-islands", "events"),
)
def pattern_rising_runs(spark, sf_dir):
    """Variable-length pattern matching via the islands algebra:
    maximal strictly-increasing runs of ``value`` per user, reporting
    users with runs of length >= 3 — the unbounded-repetition
    (``A B+ C``-style) case ``pattern_v_shape``'s fixed-lag
    composition cannot express; run boundaries become a running sum of
    break flags, turning the state machine into two window passes.

    Scale: both windows and the run aggregation share the user_id
    shuffle — one exchange end to end.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = (
        F.when(
            F.lag("value").over(w).isNull()
            | (F.col("value") <= F.lag("value").over(w)),
            1,
        )
        .otherwise(0)
        .alias("brk")
    )
    runs = e.select("user_id", "ts", "event_id", brk).select(
        "user_id",
        F.sum("brk")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_id"),
    )
    lens = runs.groupBy("user_id", "run_id").agg(F.count("*").alias("len"))
    return (
        lens.filter(F.col("len") >= 3)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_runs"),
            F.max("len").cast("long").alias("longest_run"),
        )
    )


@query(
    "analytics_holt_trend",
    # recursive-CTE fold (list_reduce is batch-layout-buggy in DuckDB
    # 1.0.0 — see ewma_per_user); identical expression trees keep the
    # doubles bit-exact with Spark's aggregate() fold
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    rec(user_id, i, n, l, b) AS (
      SELECT s2.user_id, 2, s2.n, s2.value, s2.value - s1.value
      FROM seq s1 JOIN seq s2
        ON s1.user_id = s2.user_id AND s1.i = 1 AND s2.i = 2
      UNION ALL
      SELECT s.user_id, s.i, s.n,
             0.5 * s.value + 0.5 * (r.l + r.b),
             0.25 * ((0.5 * s.value + 0.5 * (r.l + r.b)) - r.l)
               + 0.75 * r.b
      FROM rec r JOIN seq s ON s.user_id = r.user_id AND s.i = r.i + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           l AS level, b AS trend, l + b AS forecast_next
    FROM rec WHERE i = n
    """,
    tags=("analytics", "timeseries", "fold", "events"),
)
def analytics_holt_trend(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend, α=0.5 β=0.25)
    per user with a one-step-ahead forecast — the trend-aware upgrade
    of ``ewma_per_user``; a TWO-state linear recurrence no window
    frame expresses. Realized as a higher-order ``aggregate`` fold
    with a struct accumulator over the per-key ordered series; both
    engines fold in the identical order with identical IEEE
    expression trees, so the doubles match bit-exactly (no rounding).

    Scale shape: identical to the EWMA fold — one hash agg keyed by
    user, fold inside the map stage; unbounded keys escape to the
    ``applyInPandasWithState`` recurrence operator.
    """
    e = t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, value))),"
            " s -> s.value)"
        ).alias("vals"),
        F.count("*").alias("n_events"),
    )
    acc = F.expr(
        "aggregate(slice(vals, 3, size(vals) - 2),"
        " named_struct('l', element_at(vals, 2),"
        "              'b', element_at(vals, 2) - element_at(vals, 1)),"
        " (acc, x) -> named_struct("
        "   'l', 0.5d * x + 0.5d * (acc.l + acc.b),"
        "   'b', 0.25d * ((0.5d * x + 0.5d * (acc.l + acc.b)) - acc.l)"
        "        + 0.75d * acc.b))"
    )
    return (
        seq.filter(F.col("n_events") >= 2)
        .select("user_id", "n_events", acc.alias("acc"))
        .select(
            "user_id",
            "n_events",
            F.col("acc.l").alias("level"),
            F.col("acc.b").alias("trend"),
            (F.col("acc.l") + F.col("acc.b")).alias("forecast_next"),
        )
    )


@query(
    "analytics_seasonal_zscore",
    oracle="""
    WITH m AS (
      SELECT o_orderkey, o_totalprice,
             CAST(month(o_orderdate) AS INT) AS mon
      FROM orders
    ), mm AS (
      SELECT mon,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mu_m
      FROM m GROUP BY mon
    ), r AS (
      SELECT m.o_orderkey, m.o_totalprice - mm.mu_m AS resid
      FROM m JOIN mm ON m.mon = mm.mon
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(resid AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(resid * resid AS DECIMAL(24,6))) AS DOUBLE) AS sxx
      FROM r
    ), z AS (
      SELECT o_orderkey,
             resid / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)) AS zval
      FROM r, s
    )
    SELECT o_orderkey, round(zval, 6) AS seasonal_z
    FROM z ORDER BY abs(zval) DESC, o_orderkey LIMIT 100
    """,
    tags=("analytics", "anomaly", "orders"),
)
def analytics_seasonal_zscore(spark, sf_dir):
    """Seasonally-adjusted anomaly detection: z-score of each order
    total against its calendar-month mean — deseasonalizing first
    stops December-sized orders from flagging as anomalies the way a
    raw z-score (``zscore_outliers``) would. Top-100 by |z|,
    deterministic tie-break.

    FP determinism: month means are exact-decimal/count quotients;
    residuals are single IEEE subtractions; the residual variance uses
    the exact-decimal moment policy (resid rounds to decimal(18,6) —
    1e-12 from a 6-dp boundary never flips on money data); the final
    divide and round are IEEE on identical operands.

    Scale: the 12-row month means broadcast back; the variance is one
    more scalar aggregate broadcast into the scoring pass; top-100 is
    TakeOrderedAndProject.
    """
    o = t(spark, sf_dir, "orders")
    m = o.select(
        "o_orderkey",
        "o_totalprice",
        F.month("o_orderdate").cast("int").alias("mon"),
    )
    mm = m.groupBy("mon").agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mu_m")
    )
    r = m.join(F.broadcast(mm), "mon").select(
        "o_orderkey", (F.col("o_totalprice") - F.col("mu_m")).alias("resid")
    )
    s = r.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("resid").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("resid") * F.col("resid")).cast("decimal(24,6)"))
        .cast("double")
        .alias("sxx"),
    )
    z = r.crossJoin(F.broadcast(s)).select(
        "o_orderkey",
        (
            F.col("resid")
            / F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            )
        ).alias("zval"),
    )
    return (
        z.orderBy(F.abs(F.col("zval")).desc(), "o_orderkey")
        .limit(100)
        .select("o_orderkey", F.round("zval", 6).alias("seasonal_z"))
    )


@query(
    "analytics_mutual_information",
    oracle="""
    WITH c AS (
      SELECT lang, source, count(*) AS c_xy
      FROM documents GROUP BY 1, 2
    ), m AS (
      SELECT c_xy,
             sum(c_xy) OVER (PARTITION BY lang)   AS c_x,
             sum(c_xy) OVER (PARTITION BY source) AS c_y,
             sum(c_xy) OVER ()                    AS n
      FROM c
    )
    SELECT CAST(max(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(CAST(
             (CAST(c_xy AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(c_xy AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))
             AS DECIMAL(18,12))) AS DOUBLE), 6) AS mi_nats
    FROM m
    """,
    tags=("analytics", "stats", "documents"),
)
def analytics_mutual_information(spark, sf_dir):
    """Mutual information I(lang; source) over the documents corpus —
    the feature-association screen a data-mixture designer runs to see
    whether two partitioning dimensions are redundant (high MI) or
    independent (MI ~ 0) before choosing stratification keys:
    I = Σ p(x,y)·ln(p(x,y) / (p(x)p(y))) over the contingency table.

    FP determinism: cell counts are exact integers (< 2^53, exact in
    double); each cell term is a fixed IEEE op chain mirrored
    operand-for-operand in the oracle, then cast to decimal(18,12) so
    the final sum is order-independent; 6dp rounding absorbs ln ulps.

    Scale: one hash agg to the |langs|×|sources| contingency table
    (map-side combinable — raw rows never shuffle), then windows over
    that constant-size relation. Identical shape at 100 TB.
    """
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("c_xy"))
    m = c.select(
        "c_xy",
        F.sum("c_xy").over(Window.partitionBy("lang")).alias("c_x"),
        F.sum("c_xy").over(Window.partitionBy("source")).alias("c_y"),
        F.sum("c_xy").over(Window.partitionBy()).alias("n"),
    )
    cd = F.col("c_xy").cast("double")
    nd = F.col("n").cast("double")
    term = (cd / nd) * F.log(
        cd * nd / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    return m.select("n", term.cast("decimal(18,12)").alias("term")).agg(
        F.max("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(F.sum("term").cast("double"), 6).alias("mi_nats"),
    )


@query(
    "analytics_attribution_utouch",
    oracle="""
    WITH p AS (
      SELECT user_id, min(ts) AS tp
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), pv AS (
      SELECT p.user_id, p.tp, e.value AS conv_value
      FROM p JOIN events e
        ON e.user_id = p.user_id AND e.ts = p.tp
       AND e.event_type = 'purchase'
    ), touch AS (
      SELECT e.user_id, e.event_type, pv.conv_value,
             row_number() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS r,
             count(*)  OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN pv ON e.user_id = pv.user_id AND e.ts < pv.tp
      WHERE e.event_type IN ('view', 'click')
    ), credit AS (
      SELECT event_type,
             CAST(conv_value * (CASE
               WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
               WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
               WHEN r = 1 OR r = n THEN CAST(0.4 AS DOUBLE)
               ELSE CAST(0.2 AS DOUBLE) / (n - 2) END) AS DECIMAL(18,10)) AS c
      FROM touch
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           round(CAST(sum(c) AS DOUBLE), 4) AS credited_value
    FROM credit GROUP BY event_type
    """,
    tags=("analytics", "attribution", "events"),
)
def analytics_attribution_utouch(spark, sf_dir):
    """U-SHAPED (position-based) multi-touch attribution: each user's
    first purchase value is credited across their pre-purchase
    view/click touchpoints — 40% to the first touch, 40% to the last,
    the remaining 20% split evenly over the middle touches (degenerate
    cases: 1 touch → 100%, 2 touches → 50/50) — the standard
    position-based model marketing warehouses run nightly.

    FP determinism: the weight is a CASE over exact integers (0.2 /
    (n−2) is one IEEE division), credit = value·weight is one
    multiply, and each credit is cast to decimal(18,10) so the
    per-channel sums are order-independent; 4dp rounding absorbs the
    final-cast ulp.

    Scale: conversions are one min-agg on user_id; touches join on
    the same user key with the time bound as a residual predicate (no
    new shuffle key); ranking windows partition per user. Every stage
    is user-keyed — co-partitioned end-to-end, skew bounded by events
    per user.
    """
    e = t(spark, sf_dir, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    pv = (
        e.filter(F.col("event_type") == "purchase")
        .join(p, "user_id")
        .filter(F.col("ts") == F.col("tp"))
        .select("user_id", "tp", F.col("value").alias("conv_value"))
    )
    wu = Window.partitionBy("user_id")
    touch = (
        e.filter(F.col("event_type").isin("view", "click"))
        .join(pv, "user_id")
        .filter(F.col("ts") < F.col("tp"))
        .select(
            "user_id",
            "event_type",
            "conv_value",
            F.row_number().over(wu.orderBy("ts", "event_id")).alias("r"),
            F.count("*").over(wu).alias("n"),
        )
    )
    weight = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("r") == 1) | (F.col("r") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    credit = (F.col("conv_value") * weight).cast("decimal(18,10)")
    return (
        touch.select("event_type", credit.alias("c"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.round(F.sum("c").cast("double"), 4).alias("credited_value"),
        )
    )


@query(
    "analytics_lttb_downsample",
    oracle="""
    WITH pts AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS r
      FROM events
    ), bk AS (
      SELECT user_id, event_id, value, x, r,
             CAST((r - 1) // 10 AS BIGINT) AS b
      FROM pts
    ), bs AS (
      SELECT user_id, b,
             CAST(sum(x) AS DOUBLE) / count(*) AS mx,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
               AS my
      FROM bk GROUP BY 1, 2
    ), nb AS (
      SELECT user_id, b,
             lag(mx)  OVER w AS px, lag(my)  OVER w AS py,
             lead(mx) OVER w AS nx, lead(my) OVER w AS ny
      FROM bs
      WINDOW w AS (PARTITION BY user_id ORDER BY b)
    ), scored AS (
      SELECT k.user_id, k.b, k.event_id, k.value, k.r,
             CASE WHEN n.px IS NOT NULL AND n.nx IS NOT NULL
                  THEN abs((n.px - n.nx) * (CAST(k.value AS DOUBLE) - n.py)
                           - (n.px - CAST(k.x AS DOUBLE)) * (n.ny - n.py))
                  ELSE CAST(0.0 AS DOUBLE) END AS score,
             (n.px IS NOT NULL AND n.nx IS NOT NULL) AS interior,
             n.nx IS NULL AS is_last
      FROM bk k JOIN nb n ON k.user_id = n.user_id AND k.b = n.b
    ), ranked AS (
      SELECT user_id, b, event_id, value, score,
             row_number() OVER (
               PARTITION BY user_id, b
               ORDER BY CASE WHEN interior THEN -score
                             ELSE CAST(0.0 AS DOUBLE) END,
                        CASE WHEN is_last AND NOT interior THEN -r
                             ELSE r END) AS pick
      FROM scored
    )
    SELECT user_id, CAST(b AS BIGINT) AS bucket, event_id, value
    FROM ranked WHERE pick = 1
    """,
    tags=("analytics", "timeseries", "events"),
)
def analytics_lttb_downsample(spark, sf_dir):
    """Largest-Triangle time-series downsampling (the LTTB family,
    bucketed-anchor variant): split each user's event series into
    10-point buckets and keep, per bucket, the point forming the
    LARGEST TRIANGLE with the neighboring buckets' mean points — the
    standard lossy downsample that preserves visual extrema far
    better than striding or averaging. Boundary buckets keep their
    first (leading) / last (trailing) point, as canonical LTTB pins
    the series endpoints.

    Unlike sequential LTTB (each choice depends on the previous one),
    the bucket-MEAN anchor variant is embarrassingly parallel — a
    groupBy + lag/lead + one ranking window, all partitioned by the
    series key.

    FP determinism: bucket means are exact-integer / exact-decimal
    sums cast once to double and the area is one fixed IEEE chain,
    but engines may still differ in the final ulp (~1e-16 relative) —
    far below any real ranking gap, so the SELECTION is stable and
    only the chosen points (exact ints + raw parquet doubles) are
    emitted; the raw score stays internal.

    Scale: series-key partitioning end-to-end (one shuffle on
    user_id serves ranking, bucket stats and selection); bucket stats
    are a 10×-reduced relation. At 100 TB × billions of series this
    is the shape you want — no global state, skew bounded by points
    per series.
    """
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = e.select(
        "user_id",
        "event_id",
        "value",
        F.unix_micros(F.to_utc_timestamp("ts", "UTC")).alias("x"),
        F.row_number().over(wu).alias("r"),
    )
    bk = pts.withColumn(
        "b", F.floor((F.col("r") - 1) / 10).cast("long")
    )
    bs = bk.groupBy("user_id", "b").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("mx"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("my"),
    )
    wb = Window.partitionBy("user_id").orderBy("b")
    nb = bs.select(
        "user_id",
        "b",
        F.lag("mx").over(wb).alias("px"),
        F.lag("my").over(wb).alias("py"),
        F.lead("mx").over(wb).alias("nx"),
        F.lead("my").over(wb).alias("ny"),
    )
    k = bk.join(nb, ["user_id", "b"])
    interior = F.col("px").isNotNull() & F.col("nx").isNotNull()
    area = F.abs(
        (F.col("px") - F.col("nx"))
        * (F.col("value").cast("double") - F.col("py"))
        - (F.col("px") - F.col("x").cast("double"))
        * (F.col("ny") - F.col("py"))
    )
    scored = k.select(
        "user_id",
        "b",
        "event_id",
        "value",
        "r",
        F.when(interior, area).otherwise(F.lit(0.0)).alias("score"),
        interior.alias("interior"),
        F.col("nx").isNull().alias("is_last"),
    )
    pick = F.row_number().over(
        Window.partitionBy("user_id", "b").orderBy(
            F.when(F.col("interior"), -F.col("score")).otherwise(F.lit(0.0)),
            F.when(
                F.col("is_last") & ~F.col("interior"), -F.col("r")
            ).otherwise(F.col("r")),
        )
    )
    return (
        scored.withColumn("pick", pick)
        .filter(F.col("pick") == 1)
        .select(
            "user_id",
            F.col("b").cast("long").alias("bucket"),
            "event_id",
            "value",
        )
    )


@query(
    "analytics_survival_km",
    oracle="""
    WITH g AS (SELECT max(ts) AS tmax FROM events),
    u AS (
      SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS te
      FROM events GROUP BY 1
    ), durs AS (
      SELECT user_id,
             CAST(date_diff('day', t0, coalesce(te, g.tmax)) AS BIGINT)
               AS dur,
             (te IS NOT NULL) AS ev
      FROM u, g
    ), agg AS (
      SELECT dur,
             count(*) FILTER (WHERE ev) AS d,
             count(*) AS leaving
      FROM durs GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             sum(leaving) OVER () -
               coalesce(sum(leaving) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM agg
    ), terms AS (
      SELECT dur, d, n_at_risk,
             CAST(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
                  AS DECIMAL(18,12)) AS lnterm
      FROM risk WHERE d > 0 AND d < n_at_risk
    )
    SELECT dur AS day, CAST(d AS BIGINT) AS d_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(exp(CAST(sum(lnterm) OVER (ORDER BY dur) AS DOUBLE)), 6)
             AS survival
    FROM terms
    """,
    tags=("analytics", "survival", "events"),
)
def analytics_survival_km(spark, sf_dir):
    """KAPLAN-MEIER survival curve for time-to-first-purchase with
    right-censoring — the survival-analysis estimator behind churn
    and conversion-latency dashboards: users who never purchase are
    censored at the corpus end; at each event day t,
    S(t) = Π_{t_i <= t} (1 − d_i / n_i) with d_i purchases and n_i
    users still at risk. Days with d = n (everyone at risk converts)
    would zero the curve and are the curve's terminal point; the
    standard product skips them, as here (d < n_at_risk guard).

    FP determinism: d/n is int/int (exact doubles), each ln term is
    cast to decimal(18,12) so the PREFIX sums are exact regardless of
    how either engine's windowed sum associates, and the single
    exp + 6dp round at the end absorbs the last-ulp.

    Scale: one user-level min-agg (user-keyed shuffle), then ALL
    remaining relations are per-distinct-duration — bounded by the
    observation window in days, not the corpus; the global-order
    windows run over that tiny relation.
    """
    e = t(spark, sf_dir, "events")
    g = e.agg(F.max("ts").alias("tmax"))
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "te"
        ),
    )
    durs = u.crossJoin(F.broadcast(g)).select(
        F.datediff(
            F.coalesce(F.col("te"), F.col("tmax")).cast("date"),
            F.col("t0").cast("date"),
        )
        .cast("long")
        .alias("dur"),
        F.col("te").isNotNull().alias("ev"),
    )
    agg = durs.groupBy("dur").agg(
        F.count(F.when(F.col("ev"), 1)).alias("d"),
        F.count("*").alias("leaving"),
    )
    wprev = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = agg.select(
        "dur",
        "d",
        (
            F.sum("leaving").over(wall)
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    terms = risk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk"))
    ).select(
        "dur",
        "d",
        "n_at_risk",
        F.log(
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk").cast("double")
        )
        .cast("decimal(18,12)")
        .alias("lnterm"),
    )
    return terms.select(
        F.col("dur").alias("day"),
        F.col("d").cast("long").alias("d_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round(
            F.exp(F.sum("lnterm").over(Window.orderBy("dur")).cast("double")),
            6,
        ).alias("survival"),
    )


@query(
    "retention_triangle",
    oracle="""
    WITH first_m AS (
      SELECT user_id, min(date_trunc('month', CAST(ts AS DATE))) AS cohort
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort,
             date_diff('month', f.cohort,
                       date_trunc('month', CAST(e.ts AS DATE))) AS age
      FROM events e JOIN first_m f ON f.user_id = e.user_id
    ), size_ AS (
      SELECT cohort, count(*) AS n0 FROM first_m GROUP BY 1
    )
    SELECT CAST(a.cohort AS DATE) AS cohort_month,
           CAST(max(s.n0) AS BIGINT) AS cohort_size,
           round(count(DISTINCT a.user_id) FILTER (a.age = 0)
                 * 1.0 / max(s.n0), 4) AS m0,
           round(count(DISTINCT a.user_id) FILTER (a.age = 1)
                 * 1.0 / max(s.n0), 4) AS m1,
           round(count(DISTINCT a.user_id) FILTER (a.age = 2)
                 * 1.0 / max(s.n0), 4) AS m2,
           round(count(DISTINCT a.user_id) FILTER (a.age = 3)
                 * 1.0 / max(s.n0), 4) AS m3
    FROM activity a JOIN size_ s ON s.cohort = a.cohort
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "retention", "events"),
)
def retention_triangle(spark, sf_dir):
    """RETENTION TRIANGLE, pivoted: per acquisition cohort (first-
    activity month), the share of the cohort active at age 0..3
    months as columns — the BI artifact retention_cohorts' long format
    feeds; the pivot makes the diagonal readable (each cohort's curve
    on one row). Conditional distinct counts per age bucket — no
    pivot() call, so the column set is schema-stable.

    Scale: first-month anchors and the distinct (user, age) activity
    grid are entity-bounded; everything aggregates on cohort."""
    e = t(spark, sf_dir, "events")
    mon = F.date_trunc("month", F.to_date("ts")).cast("date")
    first_m = e.groupBy("user_id").agg(F.min(mon).alias("cohort"))
    activity = (
        e.join(F.broadcast(first_m), "user_id")
        .select(
            "user_id",
            "cohort",
            F.months_between(mon, F.col("cohort")).cast("int").alias("age"),
        )
        .distinct()
    )
    size = first_m.groupBy("cohort").agg(F.count("*").alias("n0"))

    def share(age):
        return F.round(
            F.countDistinct(
                F.when(F.col("age") == age, F.col("user_id"))
            )
            * 1.0
            / F.max("n0"),
            4,
        )

    return (
        activity.join(F.broadcast(size), "cohort")
        .groupBy(F.col("cohort").alias("cohort_month"))
        .agg(
            F.max("n0").cast("long").alias("cohort_size"),
            share(0).alias("m0"),
            share(1).alias("m1"),
            share(2).alias("m2"),
            share(3).alias("m3"),
        )
        .orderBy("cohort_month")
    )


@query(
    "events_decay_engagement",
    oracle="""
    WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
    scored AS (
      SELECT user_id,
             value * exp(-0.1 * ((SELECT m FROM mx) - epoch_us(ts))
                         / 86400000000.0) AS w
      FROM events
    ), per_user AS (
      SELECT user_id, sum(w) AS score, count(*) AS n FROM scored GROUP BY 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           round(score, 4) AS decay_score
    FROM per_user
    ORDER BY decay_score DESC, user_id LIMIT 100
    """,
    tags=("analytics", "engagement", "events"),
)
def events_decay_engagement(spark, sf_dir):
    """EXPONENTIAL TIME-DECAY engagement score: each event contributes
    value·e^(−0.1·age_days) against the corpus watermark (half-life ≈
    7 days) — the recency-weighted activity ranking behind churn-risk
    and re-engagement lists, where a purchase yesterday outweighs ten
    from last month. Top-100 users, deterministic tie-break.

    Scale: one broadcast watermark + one per-user aggregate; exp() is
    per-row IEEE on identical doubles in both engines, summed per user
    then rounded — no cross-partition order sensitivity at 4 dp on
    bounded per-user event counts."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mx = e.agg(F.max("us").alias("m"))
    w = F.col("value") * F.exp(
        -0.1 * (F.col("m") - F.col("us")) / 86400000000.0
    )
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum(w), 4).alias("decay_score"),
        )
        .orderBy(F.desc("decay_score"), "user_id")
        .limit(100)
    )


@query(
    "lineitem_abc_xyz",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS p, sum(l_extendedprice) AS rev,
             avg(l_quantity) AS mq,
             sqrt(greatest(sum(l_quantity * l_quantity) / count(*)
                  - avg(l_quantity) * avg(l_quantity), 0)) AS sq
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT p, rev, sq / mq AS cv,
             sum(rev) OVER (ORDER BY rev DESC, p
                            ROWS UNBOUNDED PRECEDING)
               / sum(rev) OVER () AS cum_share
      FROM per_part
    ), classed AS (
      SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN cv <= 0.5 THEN 'X'
                  WHEN cv <= 1.0 THEN 'Y' ELSE 'Z' END AS xyz,
             rev
      FROM ranked
    )
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(rev), 2) AS revenue
    FROM classed GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("analytics", "inventory", "lineitem"),
)
def lineitem_abc_xyz(spark, sf_dir):
    """ABC×XYZ inventory classification matrix: parts classed by
    cumulative revenue share (A ≤80%, B ≤95%, C rest — the Pareto
    axis) and by demand variability (coefficient of variation of
    quantity: X steady ≤0.5, Y ≤1.0, Z erratic) — the 9-cell planning
    matrix ('AX: automate, CZ: make-to-order'). Population CV from
    power sums (engine-portable).

    Scale: per-part aggregate first (fact rows collapse to |parts|);
    the cumulative-share window runs over that bounded relation —
    same altitude as analytics_abc_pareto, which classifies the one
    axis this query crosses with variability."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    per_part = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.sum("l_extendedprice").alias("rev"),
        F.avg(q).alias("mq"),
        F.sqrt(
            F.greatest(
                F.sum(q * q) / F.count("*") - F.avg(q) * F.avg(q),
                F.lit(0.0),
            )
        ).alias("sq"),
    )
    wcum = Window.orderBy(F.desc("rev"), "p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = per_part.select(
        "p",
        "rev",
        (F.col("sq") / F.col("mq")).alias("cv"),
        (
            F.sum("rev").over(wcum)
            / F.sum("rev").over(Window.partitionBy())
        ).alias("cum_share"),
    )
    abc = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("cv") <= 0.5, "X")
        .when(F.col("cv") <= 1.0, "Y")
        .otherwise("Z")
    )
    return (
        ranked.groupBy(abc.alias("abc"), xyz.alias("xyz"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.sum("rev"), 2).alias("revenue"),
        )
        .orderBy("abc", "xyz")
    )


@query(
    "events_user_entropy",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT user_id, sum(c) AS n FROM cnt GROUP BY 1
    ), ent AS (
      SELECT cnt.user_id,
             max(tot.n) AS n_events,
             -sum((c * 1.0 / tot.n) * ln(c * 1.0 / tot.n)) AS h
      FROM cnt JOIN tot ON tot.user_id = cnt.user_id
      GROUP BY 1
    )
    SELECT CASE WHEN h < 0.5 THEN 'a_low'
                WHEN h < 1.0 THEN 'b_mid'
                WHEN h < 1.5 THEN 'c_high' ELSE 'd_very_high' END
             AS entropy_band,
           CAST(count(*) AS BIGINT) AS n_users,
           round(avg(h), 6) AS avg_entropy,
           round(avg(n_events), 4) AS avg_events
    FROM ent GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "engagement", "events"),
)
def events_user_entropy(spark, sf_dir):
    """BEHAVIORAL DIVERSITY per user: Shannon entropy of each user's
    event-type distribution, banded into a population histogram — the
    single-metric split between one-track users (H~0: only views) and
    explorers (H near ln|types|), the feature every engagement model
    reinvents. Companion to analytics_markov_entropy (which measures
    ORDER predictability; this measures MIX diversity).

    Scale: one (user, type) aggregate, per-user entropy over its
    bounded type set, 4-row band rollup."""
    e = t(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    tot = cnt.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c") * 1.0 / F.col("n")
    ent = (
        cnt.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            (-F.sum(p * F.log(p))).alias("h"),
        )
    )
    band = (
        F.when(F.col("h") < 0.5, "a_low")
        .when(F.col("h") < 1.0, "b_mid")
        .when(F.col("h") < 1.5, "c_high")
        .otherwise("d_very_high")
    )
    return (
        ent.groupBy(band.alias("entropy_band"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.avg("h"), 6).alias("avg_entropy"),
            F.round(F.avg("n_events"), 4).alias("avg_events"),
        )
        .orderBy("entropy_band")
    )


@query(
    "orders_sla_ship_lag",
    oracle="""
    WITH first_ship AS (
      SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship_d
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(avg(date_diff('day', CAST(o.o_orderdate AS DATE),
                               f.ship_d)), 4) AS avg_lag_days,
           round(count(*) FILTER (
             date_diff('day', CAST(o.o_orderdate AS DATE), f.ship_d) <= 30)
             * 1.0 / count(*), 6) AS pct_within_30d,
           CAST(max(date_diff('day', CAST(o.o_orderdate AS DATE),
                              f.ship_d)) AS BIGINT) AS worst_lag_days
    FROM orders o JOIN first_ship f ON f.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "sla", "orders", "lineitem"),
)
def orders_sla_ship_lag(spark, sf_dir):
    """ORDER-TO-FIRST-SHIP SLA by priority: lag from order date to the
    earliest line shipment, with the 30-day attainment rate and the
    worst case — the operational query that shows whether '1-URGENT'
    actually ships faster than '5-LOW' (the priority system's
    integrity check).

    Scale: lineitem reduces to a per-order min BEFORE the join (the
    pre-aggregate-then-join shape — never join raw lines to orders
    for a per-order metric); then one equi-join on the order key and
    a |priorities|-row rollup."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("ship_d")
    )
    j = o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
    lag = F.datediff(F.col("ship_d"), F.to_date("o_orderdate"))
    return (
        j.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.avg(lag), 4).alias("avg_lag_days"),
            F.round(
                F.count(F.when(lag <= 30, 1)) * 1.0 / F.count("*"), 6
            ).alias("pct_within_30d"),
            F.max(lag).cast("long").alias("worst_lag_days"),
        )
        .orderBy("priority")
    )


@query(
    "dq_calendar_gaps",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
    ), span AS (
      SELECT min(d) AS lo, max(d) AS hi FROM days
    ), spine AS (
      SELECT unnest(generate_series((SELECT lo FROM span),
                                    (SELECT hi FROM span),
                                    INTERVAL 1 DAY))::DATE AS d
    ), missing AS (
      SELECT s.d FROM spine s LEFT JOIN days ON days.d = s.d
      WHERE days.d IS NULL
    ), runs AS (
      SELECT d, d - CAST(row_number() OVER (ORDER BY d) AS INT) AS isl
      FROM missing
    )
    SELECT CAST((SELECT count(*) FROM spine) AS BIGINT) AS span_days,
           CAST((SELECT count(*) FROM days) AS BIGINT) AS present_days,
           CAST((SELECT count(*) FROM missing) AS BIGINT) AS missing_days,
           CAST(coalesce(max(run_len), 0) AS BIGINT) AS longest_gap
    FROM (SELECT isl, count(*) AS run_len FROM runs GROUP BY 1)
    """,
    tags=("dq", "temporal", "orders"),
)
def dq_calendar_gaps(spark, sf_dir):
    """CALENDAR COMPLETENESS audit: generate the full day spine over
    the observed span, anti-join the days that actually have orders,
    and report missing-day count plus the LONGEST consecutive gap
    (gaps-and-islands over the missing set) — the silent-pipeline-
    outage detector (one missing Tuesday is noise; nine consecutive
    missing days is an incident).

    Scale: the spine is calendar-bounded (sequence + explode — never
    a row per fact); present-days is one distinct; islands algebra on
    the missing relation."""
    o = t(spark, sf_dir, "orders")
    days = o.select(F.to_date("o_orderdate").alias("d")).distinct()
    span = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = span.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    missing = spine.join(days, "d", "left_anti")
    isl = (
        F.datediff(F.col("d"), F.lit("1970-01-01"))
        - F.row_number().over(Window.orderBy("d"))
    ).alias("isl")
    runs = missing.select("d", isl)
    run_lens = runs.groupBy("isl").agg(F.count("*").alias("run_len"))
    span_days = spine.count()
    present_days = days.count()
    missing_days = span_days - present_days
    return run_lens.agg(
        F.lit(span_days).cast("long").alias("span_days"),
        F.lit(present_days).cast("long").alias("present_days"),
        F.lit(missing_days).cast("long").alias("missing_days"),
        F.coalesce(F.max("run_len"), F.lit(0))
        .cast("long")
        .alias("longest_gap"),
    )


@query(
    "part_brand_share_shift",
    oracle="""
    WITH mid AS (
      SELECT quantile_cont(epoch_us(l_shipdate), 0.5) AS m FROM lineitem
    ), rev AS (
      SELECT p.p_brand AS brand,
             CASE WHEN epoch_us(l.l_shipdate) <= (SELECT m FROM mid)
                  THEN 'h1' ELSE 'h2' END AS half,
             sum(l.l_extendedprice) AS rev
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT half, sum(rev) AS tr FROM rev GROUP BY 1
    ), shares AS (
      SELECT r.brand,
             sum(CASE WHEN r.half = 'h1' THEN r.rev / t.tr END) AS s1,
             sum(CASE WHEN r.half = 'h2' THEN r.rev / t.tr END) AS s2
      FROM rev r JOIN tot t ON t.half = r.half
      GROUP BY 1
    )
    SELECT brand,
           round(coalesce(s1, 0), 6) AS share_h1,
           round(coalesce(s2, 0), 6) AS share_h2,
           round(coalesce(s2, 0) - coalesce(s1, 0), 6) AS share_shift
    FROM shares
    ORDER BY abs(round(coalesce(s2, 0) - coalesce(s1, 0), 6)) DESC, brand
    LIMIT 15
    """,
    tags=("analytics", "market-share", "lineitem"),
)
def part_brand_share_shift(spark, sf_dir):
    """BRAND MARKET-SHARE SHIFT: revenue share per brand in the first
    vs second half of shipping history (median split), top-15 movers
    by absolute shift — the competitive-dynamics report ('who is
    winning share, not just growing with the market' — a brand can
    grow revenue while losing share in a faster-growing market).

    Scale: broadcast part dim; (brand x 2)-bounded aggregate; share
    algebra and the top-15 on that tiny relation."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "us", F.unix_micros(F.col("l_shipdate").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mid = li.agg(F.expr("percentile(us, 0.5)").alias("m"))
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .crossJoin(F.broadcast(mid))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(F.col("us") <= F.col("m"), "h1")
            .otherwise("h2")
            .alias("half"),
        )
        .agg(F.sum("l_extendedprice").alias("rev"))
    )
    tot = rev.groupBy("half").agg(F.sum("rev").alias("tr"))
    shares = (
        rev.join(F.broadcast(tot), "half")
        .groupBy("brand")
        .agg(
            F.sum(
                F.when(F.col("half") == "h1", F.col("rev") / F.col("tr"))
            ).alias("s1"),
            F.sum(
                F.when(F.col("half") == "h2", F.col("rev") / F.col("tr"))
            ).alias("s2"),
        )
    )
    s1 = F.coalesce(F.col("s1"), F.lit(0.0))
    s2 = F.coalesce(F.col("s2"), F.lit(0.0))
    return (
        shares.select(
            "brand",
            F.round(s1, 6).alias("share_h1"),
            F.round(s2, 6).alias("share_h2"),
            F.round(s2 - s1, 6).alias("share_shift"),
        )
        .orderBy(F.abs(F.col("share_shift")).desc(), "brand")
        .limit(15)
    )


@query(
    "orders_reorder_interval",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ), per_cust AS (
      SELECT o_custkey, count(*) AS n_gaps,
             quantile_cont(gap, 0.5) AS med_gap
      FROM seq WHERE gap IS NOT NULL GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           round(quantile_cont(med_gap, 0.25), 4) AS p25_median_gap,
           round(quantile_cont(med_gap, 0.5), 4) AS p50_median_gap,
           round(quantile_cont(med_gap, 0.75), 4) AS p75_median_gap,
           round(avg(med_gap), 4) AS mean_median_gap
    FROM per_cust WHERE n_gaps >= 3
    """,
    tags=("analytics", "cadence", "orders"),
)
def orders_reorder_interval(spark, sf_dir):
    """REORDER CADENCE: per-customer median days between consecutive
    orders (lag gaps), summarized as quartiles over customers with at
    least 3 gaps — the replenishment-cycle metric behind 'when is this
    customer overdue' alerts (a customer at 2x their own median gap is
    the churn trigger, not a global threshold).

    Scale: the lag window partitions per customer; per-customer
    medians are over each customer's own bounded order history (the
    ``percentile`` aggregate is the right tool THERE — unbounded
    groups, bounded values per group). The corpus rollup sees one row
    per customer — unbounded-distinct medians — so its quartiles come
    from ``operators.exact_quantiles`` (two-pass rank), never a
    single-reducer value map."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    per_cust = seq.groupBy("o_custkey").agg(
        F.count("*").alias("n_gaps"),
        F.expr("percentile(gap, 0.5)").alias("med_gap"),
    ).filter(F.col("n_gaps") >= 3)
    q = exact_quantiles(
        per_cust, "med_gap", {"__p25": 0.25, "__p50": 0.5, "__p75": 0.75}
    )
    return (
        per_cust.agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg("med_gap"), 4).alias("mean_median_gap"),
        )
        .crossJoin(F.broadcast(q))
        .select(
            "n_customers",
            F.round(F.col("__p25"), 4).alias("p25_median_gap"),
            F.round(F.col("__p50"), 4).alias("p50_median_gap"),
            F.round(F.col("__p75"), 4).alias("p75_median_gap"),
            "mean_median_gap",
        )
    )


@query(
    "events_hourly_circular",
    oracle="""
    WITH h AS (
      SELECT event_type, hour(ts) AS hr, count(*) AS n
      FROM events GROUP BY 1, 2
    ), vec AS (
      SELECT event_type,
             sum(n) AS total,
             sum(n * cos(2 * pi() * hr / 24)) AS cx,
             sum(n * sin(2 * pi() * hr / 24)) AS cy,
             max_by(hr, n * 100 + (24 - hr)) AS peak_hour
      FROM h GROUP BY 1
    )
    SELECT event_type, CAST(total AS BIGINT) AS n_events,
           CAST(peak_hour AS BIGINT) AS peak_hour,
           round((atan2(cy, cx) * 24 / (2 * pi()) + 24) % 24, 4)
             AS circular_mean_hour,
           round(sqrt(cx * cx + cy * cy) / total, 6) AS concentration
    FROM vec ORDER BY event_type
    """,
    tags=("analytics", "circular-stats", "events"),
)
def events_hourly_circular(spark, sf_dir):
    """CIRCULAR hour-of-day statistics per event type: the circular
    MEAN hour (atan2 of the summed unit vectors — a linear average
    would put midnight-centered activity at noon) and the resultant
    length R in [0,1] (1 = all events at one hour, 0 = uniform over
    the day), plus the modal peak hour — the time-of-day profile
    behind send-time optimization and anomaly windows, done with the
    correct (circular) algebra.

    Ties on peak hour break deterministically (max_by key
    n*100 + (24 - hr): higher count, then EARLIER hour — identical
    integer algebra on both engines).

    Scale: one (type x 24)-bounded aggregate; all trigonometry on
    that tiny relation."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    two_pi = 2 * 3.141592653589793
    vec = h.groupBy("event_type").agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.cos(F.lit(two_pi) * F.col("hr") / 24)).alias(
            "cx"
        ),
        F.sum(F.col("n") * F.sin(F.lit(two_pi) * F.col("hr") / 24)).alias(
            "cy"
        ),
        F.expr("max_by(hr, n * 100 + (24 - hr))").alias("peak_hour"),
    )
    mean_hr = (
        F.atan2(F.col("cy"), F.col("cx")) * 24 / F.lit(two_pi) + 24
    ) % 24
    return vec.select(
        "event_type",
        F.col("total").cast("long").alias("n_events"),
        F.col("peak_hour").cast("long").alias("peak_hour"),
        F.round(mean_hr, 4).alias("circular_mean_hour"),
        F.round(
            F.sqrt(F.col("cx") ** 2 + F.col("cy") ** 2) / F.col("total"), 6
        ).alias("concentration"),
    ).orderBy("event_type")


@query(
    "supplier_balance_outliers",
    oracle="""
    WITH s AS (
      SELECT s_nationkey AS nation, count(*) AS n, avg(s_acctbal) AS mu,
             sum(s_acctbal * s_acctbal) AS ss
      FROM supplier GROUP BY 1
    ), z AS (
      SELECT sp.s_suppkey, sp.s_nationkey AS nation, sp.s_acctbal,
             (sp.s_acctbal - s.mu)
               / sqrt(greatest(s.ss / s.n - s.mu * s.mu, 1e-12)) AS z
      FROM supplier sp JOIN s ON s.nation = sp.s_nationkey
      WHERE s.n >= 5
    )
    SELECT s_suppkey, CAST(nation AS BIGINT) AS nation,
           round(s_acctbal, 2) AS acctbal, round(z, 4) AS z
    FROM z WHERE abs(z) >= 2
    ORDER BY abs(round(z, 4)) DESC, s_suppkey LIMIT 20
    """,
    tags=("analytics", "outliers", "supplier"),
)
def supplier_balance_outliers(spark, sf_dir):
    """PEER-GROUP z-score outliers: suppliers whose balance deviates
    >= 2 sigma from their OWN nation's distribution (population sigma
    from power sums; nations with < 5 suppliers excluded — no stable
    baseline). The peer-relative framing is the point: a balance
    that's ordinary globally can be wildly anomalous for its market.

    Scale: per-nation moments in one pass, broadcast back; top-20 is
    TakeOrderedAndProject on the rounded key (order aligned
    cross-engine)."""
    sp = t(spark, sf_dir, "supplier")
    s = sp.groupBy(F.col("s_nationkey").alias("nation")).agg(
        F.count("*").alias("n"),
        F.avg("s_acctbal").alias("mu"),
        F.sum(F.col("s_acctbal") * F.col("s_acctbal")).alias("ss"),
    ).filter(F.col("n") >= 5)
    sigma = F.sqrt(
        F.greatest(
            F.col("ss") / F.col("n") - F.col("mu") * F.col("mu"),
            F.lit(1e-12),
        )
    )
    z = (F.col("s_acctbal") - F.col("mu")) / sigma
    return (
        sp.join(F.broadcast(s), sp.s_nationkey == s.nation)
        .select(
            "s_suppkey",
            F.col("nation").cast("long").alias("nation"),
            F.round("s_acctbal", 2).alias("acctbal"),
            F.round(z, 4).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= 2)
        .orderBy(F.abs(F.col("z")).desc(), "s_suppkey")
        .limit(20)
    )


@query(
    "event_transition_lift",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), trans AS (
      SELECT prev AS src, event_type AS dst, count(*) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ), row_tot AS (SELECT src, sum(c) AS cs FROM trans GROUP BY 1),
    dst_tot AS (SELECT dst, sum(c) AS cd FROM trans GROUP BY 1),
    tot AS (SELECT sum(c) AS n FROM trans)
    SELECT t.src, t.dst, CAST(t.c AS BIGINT) AS n_transitions,
           round((t.c * 1.0 / r.cs)
                 / (d.cd * 1.0 / (SELECT n FROM tot)), 4) AS lift
    FROM trans t
    JOIN row_tot r ON r.src = t.src
    JOIN dst_tot d ON d.dst = t.dst
    ORDER BY t.src, t.dst
    """,
    tags=("analytics", "markov", "events"),
)
def event_transition_lift(spark, sf_dir):
    """TRANSITION LIFT: P(next=j | current=i) / P(j) — the transition
    matrix normalized by the destination's base rate, so a cell > 1
    means the step is genuinely sequential structure rather than just
    'j is common everywhere' (the independence-baseline correction
    event_transition_matrix's raw probabilities don't make).

    Scale: user-keyed lag window, |types|^2-bounded count relation,
    broadcast marginals."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy(
        F.col("prev").alias("src"), F.col("event_type").alias("dst")
    ).agg(F.count("*").alias("c"))
    row_tot = trans.groupBy("src").agg(F.sum("c").alias("cs"))
    dst_tot = trans.groupBy("dst").agg(F.sum("c").alias("cd"))
    tot = trans.agg(F.sum("c").alias("n"))
    return (
        trans.join(F.broadcast(row_tot), "src")
        .join(F.broadcast(dst_tot), "dst")
        .crossJoin(F.broadcast(tot))
        .select(
            "src",
            "dst",
            F.col("c").cast("long").alias("n_transitions"),
            F.round(
                (F.col("c") * 1.0 / F.col("cs"))
                / (F.col("cd") * 1.0 / F.col("n")),
                4,
            ).alias("lift"),
        )
        .orderBy("src", "dst")
    )


@query(
    "records_broken_days",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ), runmax AS (
      SELECT d, y,
             max(y) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_record
      FROM daily
    )
    SELECT d AS day, round(y, 2) AS revenue,
           round(prev_record, 2) AS prev_record,
           round(y - prev_record, 2) AS margin
    FROM runmax WHERE y > prev_record
    ORDER BY day
    """,
    tags=("analytics", "timeseries", "orders"),
)
def records_broken_days(spark, sf_dir):
    """RECORD-BREAKING DAYS: days whose revenue exceeded every prior
    day — the all-time-high tracker (its frequency decays like 1/n on
    a stationary series, so a late cluster of records IS the growth
    signal; the margin column says by how much). Exclusive running
    max via a 1-PRECEDING frame; the first day never counts (no prior
    record to beat).

    Scale: one window over the calendar-bounded daily relation."""
    daily = t(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("y"))
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    runmax = daily.select(
        "d", "y", F.max("y").over(w).alias("prev_record")
    )
    return (
        runmax.filter(F.col("y") > F.col("prev_record"))
        .select(
            F.col("d").alias("day"),
            F.round("y", 2).alias("revenue"),
            F.round("prev_record", 2).alias("prev_record"),
            F.round(F.col("y") - F.col("prev_record"), 2).alias("margin"),
        )
        .orderBy("day")
    )


@query(
    "analytics_pareto_8020_customers",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY 1
    ), ranked AS (
      SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(rev) OVER () AS tot,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM per_cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cum >= 0.8 * tot THEN rk END) AS BIGINT)
             AS customers_for_80pct,
           round(min(CASE WHEN cum >= 0.8 * tot THEN rk END)
                 * 1.0 / max(n), 6) AS share_of_customers,
           round(max(CASE WHEN rk <= ceil(0.2 * n) THEN cum / tot END), 6)
             AS rev_share_of_top20pct
    FROM ranked
    """,
    tags=("analytics", "pareto", "orders"),
)
def analytics_pareto_8020_customers(spark, sf_dir):
    """THE 80/20 CHECK on customers: how many customers (count and
    share) produce 80% of revenue, and what revenue share the top 20%
    of customers actually hold — the two numbers behind every 'key
    account' program, measured instead of assumed. Both picks are
    conditional aggregates over the ranked relation (cum is monotone
    in rank, so max-where-rk<=ceil(0.2n) IS the boundary value).

    Scale: cumulative windows over the per-CUSTOMER aggregate
    (entity-bounded — the same altitude as analytics_gini; the
    two-pass rank swap applies at extreme cardinality)."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    wseq = Window.orderBy(F.desc("rev"), "o_custkey")
    ranked = per.select(
        "rev",
        F.sum("rev")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("rev").over(Window.partitionBy()).alias("tot"),
        F.row_number().over(wseq).alias("rk"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    k80 = F.min(
        F.when(F.col("cum") >= 0.8 * F.col("tot"), F.col("rk"))
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        k80.cast("long").alias("customers_for_80pct"),
        F.round(k80 * 1.0 / F.max("n"), 6).alias("share_of_customers"),
        F.round(
            F.max(
                F.when(
                    F.col("rk") <= F.ceil(0.2 * F.col("n")),
                    F.col("cum") / F.col("tot"),
                )
            ),
            6,
        ).alias("rev_share_of_top20pct"),
    )


@query(
    "part_price_realization",
    oracle="""
    WITH traded AS (
      SELECT l_partkey, sum(l_extendedprice) AS ext, sum(l_quantity) AS q
      FROM lineitem GROUP BY 1
    )
    SELECT p.p_type AS part_type,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(avg(p.p_retailprice), 4) AS avg_list_price,
           round(sum(t.ext) / sum(t.q), 4) AS realized_unit_price,
           round((sum(t.ext) / sum(t.q)) / avg(p.p_retailprice), 6)
             AS realization_ratio
    FROM part p JOIN traded t ON t.l_partkey = p.p_partkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "pricing", "part", "lineitem"),
)
def part_price_realization(spark, sf_dir):
    """PRICE REALIZATION by part type: list (retail) price vs the
    street price actually realized in trades (quantity-weighted
    extended price) — the pricing-power report; a realization ratio
    drifting below 1 is margin leaking through discounts faster than
    the list book admits.

    Scale: lineitem pre-aggregates to per-part sums BEFORE joining the
    part dim (never join raw lines for a per-part metric); the type
    rollup runs on the |parts|-bounded join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_type", "p_retailprice"
    )
    traded = li.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("ext"),
        F.sum("l_quantity").alias("q"),
    )
    j = p.join(traded, p.p_partkey == traded.l_partkey)
    realized = F.sum("ext") / F.sum("q")
    return (
        j.groupBy(F.col("p_type").alias("part_type"))
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_list_price"),
            F.round(realized, 4).alias("realized_unit_price"),
            F.round(realized / F.avg("p_retailprice"), 6).alias(
                "realization_ratio"
            ),
        )
        .orderBy("part_type")
    )


@query(
    "customer_value_trajectory",
    oracle="""
    WITH seq AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey,
             row_number() OVER (PARTITION BY o.o_custkey
                                ORDER BY o.o_orderdate, o.o_orderkey)
               * 1.0 AS x,
             o.o_totalprice AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), fit AS (
      SELECT seg, o_custkey, count(*) AS n,
             (count(*) * sum(x * y) - sum(x) * sum(y))
               / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope
      FROM seq GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT seg, CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(slope), 4) AS avg_slope,
           round(count(*) FILTER (slope > 0) * 1.0 / count(*), 6)
             AS pct_growing
    FROM fit GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "regression", "orders"),
)
def customer_value_trajectory(spark, sf_dir):
    """CUSTOMER VALUE TRAJECTORY: per-customer OLS slope of order
    value over order SEQUENCE (1st, 2nd, ... order), rolled up per
    segment as mean slope and the share of growing customers — the
    expansion-vs-contraction read ('are accounts deepening?') that
    aggregate revenue growth hides (new logos can mask shrinking
    cohorts). Customers with < 5 orders excluded (no stable fit).

    Scale: the sequence index is a per-customer window (parallel by
    key); each customer's regression is closed-form power sums inside
    ONE hash aggregate — a million tiny regressions without a single
    ML-library call."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        "o_custkey",
        (F.row_number().over(w) * 1.0).alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    n = F.count("*")
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    fit = (
        seq.groupBy("seg", "o_custkey")
        .agg(n.alias("n"), slope.alias("slope"))
        .filter(F.col("n") >= 5)
    )
    return (
        fit.groupBy("seg")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg("slope"), 4).alias("avg_slope"),
            F.round(
                F.count(F.when(F.col("slope") > 0, 1)) * 1.0 / F.count("*"),
                6,
            ).alias("pct_growing"),
        )
        .orderBy("seg")
    )


@query(
    "lineitem_return_drivers",
    oracle="""
    SELECT CASE WHEN l_discount < 0.03 THEN 'a_low'
                WHEN l_discount < 0.07 THEN 'b_mid' ELSE 'c_high' END
             AS discount_band,
           CASE WHEN l_quantity < 17 THEN 'a_small'
                WHEN l_quantity < 34 THEN 'b_medium' ELSE 'c_large' END
             AS qty_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(count(*) FILTER (l_returnflag = 'R') * 1.0 / count(*), 6)
             AS return_rate,
           round(sum(CASE WHEN l_returnflag = 'R'
                     THEN l_extendedprice END), 2) AS returned_value
    FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("analytics", "returns", "lineitem"),
)
def lineitem_return_drivers(spark, sf_dir):
    """RETURN-RATE DRIVER table: return incidence by discount band x
    quantity band — the 2-factor screen that separates 'deep discounts
    attract returns' from 'bulk orders return more' before anyone
    fits a model. 9 cells with rates and returned value.

    Scale: pure per-row banding expressions, one 9-group aggregate."""
    li = t(spark, sf_dir, "lineitem")
    disc = (
        F.when(F.col("l_discount") < 0.03, "a_low")
        .when(F.col("l_discount") < 0.07, "b_mid")
        .otherwise("c_high")
    )
    qty = (
        F.when(F.col("l_quantity") < 17, "a_small")
        .when(F.col("l_quantity") < 34, "b_medium")
        .otherwise("c_large")
    )
    ret = F.col("l_returnflag") == "R"
    return (
        li.groupBy(disc.alias("discount_band"), qty.alias("qty_band"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(
                F.count(F.when(ret, 1)) * 1.0 / F.count("*"), 6
            ).alias("return_rate"),
            F.round(
                F.sum(F.when(ret, F.col("l_extendedprice"))), 2
            ).alias("returned_value"),
        )
        .orderBy("discount_band", "qty_band")
    )


@query(
    "events_weekday_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("analytics", "heatmap", "events"),
)
def events_weekday_hour_heatmap(spark, sf_dir):
    """WEEKDAY x HOUR activity heatmap feed: event count and value in
    each of the 168 weekly cells — the load-shape artifact behind
    capacity planning, send windows, and on-call staffing (and the
    denominator surface for any 'activity at 3am Tuesday is weird'
    rule). DuckDB's 0-based dayofweek is shifted to Spark's 1-based
    convention in the oracle.

    Scale: one 168-group map-side-combining aggregate."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("dow", "hr")
    )


@query(
    "orders_priority_mix_by_year",
    oracle="""
    WITH y AS (
      SELECT year(CAST(o_orderdate AS DATE)) AS yr, o_orderpriority AS pri,
             count(*) AS n
      FROM orders GROUP BY 1, 2
    ), tot AS (SELECT yr, sum(n) AS tn FROM y GROUP BY 1)
    SELECT y.yr AS year, y.pri AS priority,
           CAST(y.n AS BIGINT) AS n_orders,
           round(y.n * 1.0 / t.tn, 6) AS share
    FROM y JOIN tot t ON t.yr = y.yr
    ORDER BY 1, 2
    """,
    tags=("analytics", "mix-drift", "orders"),
)
def orders_priority_mix_by_year(spark, sf_dir):
    """PRIORITY MIX drift: the share of each order priority per year —
    the categorical composition monitor (a creeping '1-URGENT' share
    is either a customer-behavior shift or a form-default change, and
    either way every SLA downstream moves). The categorical sibling of
    dq_value_drift_psi's numeric drift.

    Scale: one (year x priority)-bounded aggregate + share join."""
    o = t(spark, sf_dir, "orders")
    y = o.groupBy(
        F.year(F.to_date("o_orderdate")).cast("long").alias("year"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count("*").alias("n"))
    tot = y.groupBy("year").agg(F.sum("n").alias("tn"))
    return (
        y.join(F.broadcast(tot), "year")
        .select(
            "year",
            "priority",
            F.col("n").cast("long").alias("n_orders"),
            F.round(F.col("n") * 1.0 / F.col("tn"), 6).alias("share"),
        )
        .orderBy("year", "priority")
    )


@query(
    "customers_overdue_alert",
    oracle="""
    WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS today FROM orders),
    seq AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ), per_cust AS (
      SELECT o_custkey, max(d) AS last_d,
             count(gap) AS n_gaps, quantile_cont(gap, 0.5) AS med_gap
      FROM seq GROUP BY 1 HAVING count(gap) >= 5
    )
    SELECT o_custkey,
           CAST(date_diff('day', last_d, (SELECT today FROM mx)) AS BIGINT)
             AS days_since_last,
           round(med_gap, 1) AS median_gap,
           round(date_diff('day', last_d, (SELECT today FROM mx))
                 / med_gap, 4) AS overdue_factor
    FROM per_cust
    WHERE date_diff('day', last_d, (SELECT today FROM mx)) > 2 * med_gap
    ORDER BY overdue_factor DESC, o_custkey LIMIT 25
    """,
    tags=("analytics", "cadence", "alerting", "orders"),
)
def customers_overdue_alert(spark, sf_dir):
    """OVERDUE-CUSTOMER alert feed: customers silent for more than 2x
    their OWN median reorder gap (orders_reorder_interval
    operationalized) — each account judged against its personal
    baseline rather than a global threshold, ranked by how many of
    their own cycles they've missed. The churn-intervention list, as
    one query.

    Scale: the lag window and per-customer medians partition by key;
    the watermark broadcasts; top-25 is TakeOrderedAndProject."""
    o = t(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("today"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.datediff(
            F.to_date("o_orderdate"),
            F.lag(F.to_date("o_orderdate")).over(w),
        ).alias("gap"),
    )
    per = (
        seq.groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count("gap").alias("n_gaps"),
            F.expr("percentile(gap, 0.5)").alias("med_gap"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    j = per.crossJoin(F.broadcast(mx))
    since = F.datediff(F.col("today"), F.col("last_d"))
    return (
        j.filter(since > 2 * F.col("med_gap"))
        .select(
            "o_custkey",
            since.cast("long").alias("days_since_last"),
            F.round("med_gap", 1).alias("median_gap"),
            F.round(since / F.col("med_gap"), 4).alias("overdue_factor"),
        )
        .orderBy(F.desc("overdue_factor"), "o_custkey")
        .limit(25)
    )


@query(
    "nation_trade_matrix",
    oracle="""
    WITH flows AS (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             sum(l.l_extendedprice * (1 - l.l_discount)) AS volume,
             count(*) AS n_lines
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT supp_nation, cust_nation,
           CAST(n_lines AS BIGINT) AS n_lines,
           round(volume, 2) AS volume
    FROM flows
    ORDER BY round(volume, 2) DESC, supp_nation, cust_nation LIMIT 20
    """,
    tags=("analytics", "join", "star", "lineitem"),
)
def nation_trade_matrix(spark, sf_dir):
    """CROSS-NATION TRADE FLOW matrix: discounted revenue by
    (supplier nation → customer nation), top-20 corridors — the full
    generalization of TPC-H Q7's two-nation slice (Sankey-diagram
    feed for 'who supplies whom'). Five-table star join with both
    nation lookups broadcast.

    Scale: the fact table joins supplier/nation dims broadcast;
    orders→customer resolves the demand side on the order key; the
    (25 x 25)-bounded flow matrix aggregates map-side. Ordering on
    the ROUNDED volume keeps the top-20 cut identical cross-engine."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    flows = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("cnk"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("volume"),
        )
    )
    return flows.orderBy(
        F.desc("volume"), "supp_nation", "cust_nation"
    ).limit(20).select("supp_nation", "cust_nation", "n_lines", "volume")


# ------------------------------------------ multi-touch attribution
_ATTR_WINDOW_MIN = 60


@query(
    "analytics_multitouch_attribution",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts, CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT p.event_id AS pid, p.v, e.event_type
      FROM p JOIN events e
        ON e.user_id = p.user_id
       AND e.event_type <> 'purchase'
       AND e.ts >= p.ts - INTERVAL {_ATTR_WINDOW_MIN} MINUTE
       AND e.ts < p.ts
    ),
    credit AS (
      SELECT event_type,
             CAST(round(CAST(v AS DOUBLE)
                        / count(*) OVER (PARTITION BY pid), 6)
                  AS DECIMAL(18,6)) AS c
      FROM touch
    )
    SELECT event_type,
           count(*) AS n_touches,
           round(CAST(sum(c) AS DOUBLE), 4) AS attributed_value
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
    tags=("analytics", "attribution", "interval-join", "events"),
)
def analytics_multitouch_attribution(spark, sf_dir):
    """LINEAR MULTI-TOUCH ATTRIBUTION: each purchase's value splits
    equally across every non-purchase touch by the same user in the
    preceding {_ATTR_WINDOW_MIN} minutes; report credited value per
    touch type — the marketing-analytics workhorse between last-touch
    (one window) and Shapley (combinatorial).

    Determinism: per-touch credit is value/k rounded at 6 dp (both
    engines divide identical doubles by identical integer counts) and
    summed as DECIMAL.

    Scale: the touch relation is an EQUI-join on user_id with a range
    predicate — the interval-join shape (operators/interval_join.py):
    the join key bounds the pair space, the time band prunes within
    user. The per-purchase touch count is a window over the (already
    joined) touch relation keyed by purchase id."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puid"),
        F.col("ts").alias("pts"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    touch = p.join(
        e,
        (F.col("user_id") == F.col("puid"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") >= F.col("pts") - F.expr(
            f"INTERVAL {_ATTR_WINDOW_MIN} MINUTES"))
        & (F.col("ts") < F.col("pts")),
    ).select("pid", "v", "event_type")
    w = Window.partitionBy("pid")
    credit = touch.select(
        "event_type",
        F.round(
            F.col("v").cast("double") / F.count("*").over(w), 6
        ).cast("decimal(18,6)").alias("c"),
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("c").cast("double"), 4).alias(
                "attributed_value"
            ),
        )
        .orderBy("event_type")
    )


# ------------------------------------------------------- Gini index
@query(
    "analytics_gini_index",
    oracle="""
    WITH r AS (
      SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS i
      FROM events
    ),
    s AS (
      SELECT event_type, count(*) AS n,
             sum(v) AS sv, sum(CAST(i AS DECIMAL(18,0)) * v) AS siv
      FROM r GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(CAST(2 * siv AS DOUBLE) / (n * CAST(sv AS DOUBLE))
                 - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
    FROM s ORDER BY event_type
    """,
    tags=("analytics", "inequality", "ranks"),
)
def analytics_gini_index(spark, sf_dir):
    """GINI COEFFICIENT of ``value`` per event type — the inequality/
    concentration measure (revenue concentration, token-budget skew)
    via the rank formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over
    ascending ranks.

    Determinism: ranks are integers from a total order with event_id
    tiebreak; Σx and Σ(i·x) accumulate as DECIMAL (exact at 2 dp ×
    bigint rank); the two divisions happen once at the end.

    Scale: ranks come from the engine-standard two-pass range-
    partitioned global row number (bounded group count, unbounded rows
    per group — never a single-partition window); the sums are one
    map-side-combinable hash agg."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        "event_id",
    )
    ranked = global_row_number(
        e, order_cols=["v", "event_id"], part_cols=["event_type"],
        rn_col="i",
    )
    s = ranked.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("i").cast("decimal(18,0)") * F.col("v")).alias("siv"),
    )
    return s.select(
        "event_type",
        F.col("n"),
        F.round(
            (2 * F.col("siv")).cast("double")
            / (F.col("n") * F.col("sv").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    ).orderBy("event_type")


# ------------------------------------------------ Pareto 80/20 point
_PARETO_TARGET = 0.8


@query(
    "analytics_pareto_8020",
    oracle=f"""
    WITH c AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey) AS cum
      FROM c
    ),
    tot AS (SELECT count(*) AS n, sum(rev) AS total FROM c),
    hit AS (
      SELECT min(rk) AS k FROM r CROSS JOIN tot
      WHERE cum * 10 >= total * {int(_PARETO_TARGET * 10)}
    )
    SELECT CAST(tot.n AS BIGINT) AS n_customers,
           CAST(hit.k AS BIGINT) AS n_top_customers,
           round(CAST(hit.k AS DOUBLE) / tot.n, 6) AS top_share,
           CAST({_PARETO_TARGET} AS DOUBLE) AS revenue_share
    FROM hit CROSS JOIN tot
    """,
    tags=("analytics", "concentration", "ranks"),
)
def analytics_pareto_8020(spark, sf_dir):
    """PARETO CONCENTRATION POINT: the smallest number of customers
    whose (descending) cumulative revenue reaches 80% of the total —
    the "how top-heavy is revenue" number next to the Gini index's
    integral view.

    Determinism: revenue pre-aggregates as DECIMAL per customer; the
    threshold compare is integer-exact (cum×10 ≥ total×8 in decimal);
    ranks break ties on customer key.

    Scale: per-customer revenue is one hash agg; the descending
    cumulative sum routes through the shared range-partitioned prefix
    primitive (ordering on the NEGATED revenue — the exchange orders
    ascending); the answer is a broadcast-threshold min."""
    from gcp_etl_spark.operators.quantiles import range_prefix_sums

    o = t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    # descending order = ascending on the negated key (+custkey tiebreak)
    work = c.select(
        "o_custkey", "rev", (-F.col("rev")).alias("__negrev"),
        F.lit(1).cast("long").alias("__one"),
    )
    cum, psums = range_prefix_sums(
        work, ["__negrev", "o_custkey"], ["rev", "__one"]
    )
    tot = psums.agg(
        F.sum("__one_psum").alias("n"), F.sum("rev_psum").alias("total")
    )
    hit = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            F.col("rev_cum") * 10
            >= F.col("total") * int(_PARETO_TARGET * 10)
        )
        .agg(F.min("__one_cum").alias("k"))
    )
    return hit.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_customers"),
        F.col("k").alias("n_top_customers"),
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
            "top_share"
        ),
        F.lit(float(_PARETO_TARGET)).alias("revenue_share"),
    )


# --------------------------------------------------- per-user peak rate

_PEAK_WINDOW_MIN = 5


@query(
    "events_peak_rate",
    oracle=f"""
    WITH w AS (
      SELECT user_id,
             count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_PEAK_WINDOW_MIN * 60 * 1000000} PRECEDING
                     AND CURRENT ROW
             ) AS cnt
      FROM events
    )
    SELECT user_id, CAST(max(cnt) AS BIGINT) AS peak_5min
    FROM w GROUP BY user_id
    ORDER BY peak_5min DESC, user_id LIMIT 20
    """,
    tags=("analytics", "rate", "window", "events"),
)
def events_peak_rate(spark, sf_dir):
    """PER-USER PEAK EVENT RATE: the maximum number of events any
    trailing {_PEAK_WINDOW_MIN}-minute window contains, per user —
    burst detection for rate limiting / abuse review, reported as the
    top-20 burstiest users.

    Determinism: the trailing window is a numeric RANGE frame over
    exact epoch microseconds (identical integer bounds both engines).

    Scale: one per-user window over a time-RANGE frame (single
    shuffle on user_id; frames never materialize — Spark's range
    frame slides two pointers), one hash agg, TakeOrdered top-20."""
    from gcp_etl_spark.queries.temporal_ops import _us

    e = t(spark, sf_dir, "events")
    us = _us(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-_PEAK_WINDOW_MIN * 60 * 1_000_000, 0)
    )
    return (
        e.select("user_id", F.count("*").over(w).alias("cnt"))
        .groupBy("user_id")
        .agg(F.max("cnt").alias("peak_5min"))
        .orderBy(F.desc("peak_5min"), "user_id")
        .limit(20)
    )


_EB_TOP = 20


@query(
    "analytics_eb_shrinkage",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey AS part,
             count(*) AS n,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
      FROM lineitem GROUP BY 1
    ), mom AS (
      -- method-of-moments beta prior over raw per-part rates
      SELECT avg(CAST(r AS DOUBLE) / n) AS m,
             sum((CAST(r AS DOUBLE) / n - (SELECT avg(CAST(r AS DOUBLE) / n)
                                           FROM pr))
                 * (CAST(r AS DOUBLE) / n - (SELECT avg(CAST(r AS DOUBLE) / n)
                                             FROM pr)))
               / (count(*) - 1) AS v
      FROM pr
    ), prior AS (
      SELECT m, v,
             m * (m * (1 - m) / v - 1) AS alpha,
             (1 - m) * (m * (1 - m) / v - 1) AS beta
      FROM mom
    )
    SELECT part, CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_returned,
           round(CAST(r AS DOUBLE) / n, 6) AS raw_rate,
           round((r + prior.alpha) / (n + prior.alpha + prior.beta), 6)
             AS eb_rate,
           round(prior.alpha, 6) AS alpha, round(prior.beta, 6) AS beta
    FROM pr CROSS JOIN prior
    ORDER BY eb_rate DESC, part LIMIT {_EB_TOP}
    """,
    tags=("analytics", "bayes", "lineitem"),
)
def analytics_eb_shrinkage(spark, sf_dir):
    """EMPIRICAL-BAYES rate shrinkage (beta-binomial, method-of-moments
    prior — Robinson's "estimating ability from success rates" recipe,
    public): per-part return rates shrunk toward the corpus prior,
    (r + α)/(n + α + β), so low-volume parts stop topping the ranking
    on 1-of-2 flukes — the standard fix for small-sample leaderboards.
    Top-{TOP} by shrunk rate.

    Scale: one hash agg to per-part cells; the prior is a 1-row
    moment aggregate broadcast back; ranking is a TakeOrdered top-k.
    The sample-variance pass uses the two-pass mean-then-deviations
    form so both engines sum the identical doubles."""
    li = t(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("r"),
    )
    rate = F.col("r").cast("double") / F.col("n")
    m_row = pr.agg(F.avg(rate).alias("m"))
    mom = (
        pr.crossJoin(F.broadcast(m_row))
        .agg(
            F.any_value("m").alias("m"),
            (
                F.sum((rate - F.col("m")) * (rate - F.col("m")))
                / (F.count("*") - 1)
            ).alias("v"),
        )
    )
    ab = F.col("m") * (F.col("m") * (1 - F.col("m")) / F.col("v") - 1)
    prior = mom.select(
        ab.alias("alpha"),
        ((1 - F.col("m")) / F.col("m") * ab).alias("beta"),
    )
    out = pr.crossJoin(F.broadcast(prior)).select(
        "part",
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_returned"),
        F.round(rate, 6).alias("raw_rate"),
        F.round(
            (F.col("r") + F.col("alpha"))
            / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("eb_rate"),
        F.round("alpha", 6).alias("alpha"),
        F.round("beta", 6).alias("beta"),
    )
    return out.orderBy(F.col("eb_rate").desc(), "part").limit(_EB_TOP)


# -------------------------------------- Markov stationary distribution
_MK_ITERS = 20


@query(
    "analytics_markov_stationary",
    oracle=f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS s, nxt AS d, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), p AS (
      SELECT s, d, CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY s) AS p
      FROM trans
    ), states AS (SELECT DISTINCT s FROM p),
    pi AS (
      SELECT 0 AS i, s,
             1.0 / (SELECT count(*) FROM states) AS w
      FROM states
      UNION ALL
      SELECT i + 1, d AS s, sum(w * p) AS w FROM (
        SELECT pi.i, pi.w, p.d, p.p
        FROM pi JOIN p ON p.s = pi.s
        WHERE pi.i < {_MK_ITERS}
      ) GROUP BY i, d
    )
    SELECT pi.s AS state, round(pi.w, 6) AS pi_stationary,
           round(e.n_emp / (SELECT CAST(count(*) AS DOUBLE) FROM seq
                            WHERE nxt IS NOT NULL), 6) AS pi_empirical
    FROM pi
    JOIN (SELECT s, CAST(sum(n) AS DOUBLE) AS n_emp
          FROM trans GROUP BY 1) e USING (s)
    WHERE pi.i = {_MK_ITERS}
    """,
    tags=("analytics", "markov", "iterative", "events"),
)
def analytics_markov_stationary(spark, sf_dir):
    """STATIONARY DISTRIBUTION of the per-user event-type Markov chain
    (the long-run state occupancy the transition matrix implies —
    where event_transition_matrix gives one step, this gives the fixed
    point): π ← πP for {ITERS} power iterations from uniform, reported
    next to the EMPIRICAL source-state occupancy so drift between
    "where the chain would settle" and "where the data is" is visible
    per state.

    Scale: the transition matrix is |event_types|² — STRUCTURALLY
    bounded — so after one distributed lag-1 count the iteration runs
    driver-side on the collected cell dict (the k-means/PCA
    bounded-state convention); the DuckDB oracle replays the identical
    recurrence with a fixed-depth recursive CTE (the pagerank-oracle
    pattern). 6-dp rounding absorbs summation-order ulps."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("d")
    ).agg(F.count("*").alias("n"))
    cells = trans.collect()  # bounded: |event_types|^2 rows
    from collections import defaultdict

    row_tot: dict = defaultdict(int)
    emp: dict = defaultdict(int)
    for r in cells:
        row_tot[r["s"]] += r["n"]
        emp[r["s"]] += r["n"]
    p = {(r["s"], r["d"]): r["n"] / row_tot[r["s"]] for r in cells}
    states = sorted(row_tot)
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(_MK_ITERS):
        nxt: dict = defaultdict(float)
        for (s, d), pv in sorted(p.items()):
            nxt[d] += pi[s] * pv
        pi = dict(nxt)
    total = sum(emp.values())
    rows_ = [
        (s, round(pi.get(s, 0.0), 6), round(emp[s] / total, 6))
        for s in states
    ]
    return spark.createDataFrame(
        rows_, "state string, pi_stationary double, pi_empirical double"
    )


# --------------------------------------- Nelson-Aalen / price indices
@query(
    "analytics_survival_nelson_aalen",
    oracle="""
    WITH g AS (SELECT max(ts) AS tmax FROM events),
    u AS (
      SELECT user_id, min(ts) AS t0,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS te
      FROM events GROUP BY 1
    ), durs AS (
      SELECT CAST(date_diff('day', t0, coalesce(te, g.tmax)) AS BIGINT)
               AS dur,
             (te IS NOT NULL) AS ev
      FROM u, g
    ), agg AS (
      SELECT dur,
             count(*) FILTER (WHERE ev) AS d,
             count(*) AS leaving
      FROM durs GROUP BY dur
    ), risk AS (
      SELECT dur, d,
             sum(leaving) OVER () -
               coalesce(sum(leaving) OVER (ORDER BY dur
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM agg
    ), terms AS (
      SELECT dur, d, n_at_risk,
             CAST(CAST(d AS DOUBLE) / n_at_risk AS DECIMAL(18,12))
               AS hterm,
             CAST(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE)
                                       * n_at_risk)
                  AS DECIMAL(18,12)) AS vterm
      FROM risk WHERE d > 0
    )
    SELECT dur AS day, CAST(d AS BIGINT) AS d_events,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           round(CAST(sum(hterm) OVER (ORDER BY dur) AS DOUBLE), 6)
             AS cum_hazard,
           round(CAST(sum(vterm) OVER (ORDER BY dur) AS DOUBLE), 6)
             AS hazard_var
    FROM terms
    """,
    tags=("analytics", "survival", "events"),
)
def analytics_survival_nelson_aalen(spark, sf_dir):
    """NELSON-AALEN cumulative hazard H(t) = Σ_{t_i ≤ t} d_i/n_i with
    its variance estimator Σ d_i/n_i² — the non-parametric hazard
    companion of the suite's Kaplan-Meier curve (same
    time-to-first-purchase / right-censoring construction), preferred
    when the HAZARD level itself is the decision variable (incident
    rates, reliability engineering). exp(−H) is the Breslow survival
    estimate, so the pair cross-checks KM.

    Same FP-determinism policy as KM: each per-day term is int/int in
    IEEE double then cast to decimal(18,12), so the ordered prefix
    sums are exact however either engine associates them; one 6-dp
    round at the end.

    Scale: one user-level min-agg shuffle; everything after is
    per-distinct-duration — observation-window-bounded, so the global
    window is over a tiny relation (the KM convention)."""
    e = t(spark, sf_dir, "events")
    g = e.agg(F.max("ts").alias("tmax"))
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("te"),
    )
    durs = u.crossJoin(F.broadcast(g)).select(
        F.datediff(
            F.coalesce(F.col("te"), F.col("tmax")).cast("date"),
            F.col("t0").cast("date"),
        )
        .cast("long")
        .alias("dur"),
        F.col("te").isNotNull().alias("ev"),
    )
    agg = durs.groupBy("dur").agg(
        F.count(F.when(F.col("ev"), 1)).alias("d"),
        F.count("*").alias("leaving"),
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    risk = agg.select(
        "dur",
        "d",
        (
            F.sum("leaving").over(wall)
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    nd = F.col("n_at_risk").cast("double")
    terms = risk.filter(F.col("d") > 0).select(
        "dur",
        "d",
        "n_at_risk",
        (F.col("d").cast("double") / nd)
        .cast("decimal(18,12)")
        .alias("hterm"),
        (F.col("d").cast("double") / (nd * F.col("n_at_risk")))
        .cast("decimal(18,12)")
        .alias("vterm"),
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        F.col("dur").alias("day"),
        F.col("d").cast("long").alias("d_events"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.round(F.sum("hterm").over(wcum).cast("double"), 6).alias(
            "cum_hazard"
        ),
        F.round(F.sum("vterm").over(wcum).cast("double"), 6).alias(
            "hazard_var"
        ),
    )


@query(
    "analytics_price_index",
    oracle="""
    WITH yr AS (
      SELECT l_partkey AS part,
             year(l_shipdate) AS y,
             sum(l_quantity) AS q,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS spend
      FROM lineitem GROUP BY 1, 2
    ), yrs AS (
      SELECT min(y) AS y0, max(y) AS y1 FROM yr
    ), px AS (
      -- unit value per (part, year): spend/qty, the standard unit-value
      -- price proxy when no list price exists
      SELECT part, y, CAST(spend AS DOUBLE) / q AS p, q FROM yr
    ), pair AS (
      SELECT b.part, b.p AS p0, b.q AS q0, c.p AS p1, c.q AS q1
      FROM px b JOIN px c ON c.part = b.part
      CROSS JOIN yrs
      WHERE b.y = yrs.y0 AND c.y = yrs.y1
    )
    SELECT (SELECT y0 FROM yrs) AS base_year,
           (SELECT y1 FROM yrs) AS compare_year,
           CAST(count(*) AS BIGINT) AS n_parts,
           round(sum(p1 * q0) / sum(p0 * q0), 6) AS laspeyres,
           round(sum(p1 * q1) / sum(p0 * q1), 6) AS paasche,
           round(sqrt((sum(p1 * q0) / sum(p0 * q0))
                      * (sum(p1 * q1) / sum(p0 * q1))), 6) AS fisher
    FROM pair
    """,
    tags=("analytics", "econometrics", "lineitem"),
)
def analytics_price_index(spark, sf_dir):
    """PRICE INDICES (Laspeyres / Paasche / Fisher ideal — the
    standard inflation trio, public): unit-value prices per part in
    the first and last shipment years, base-year-weighted
    (Σp₁q₀/Σp₀q₀), current-year-weighted (Σp₁q₁/Σp₀q₁), and their
    geometric mean, over parts present in BOTH years.

    Scale: one (part, year) hash agg over the fact table, then a
    part-keyed self-join of two year slices — dimension-sized, never
    fact-sized. Sums of p·q doubles aggregate order-free enough for
    the 6-dp round (products of unit values with long quantities;
    relative error ~1e-15 per term)."""
    li = t(spark, sf_dir, "lineitem")
    yr = li.groupBy(
        F.col("l_partkey").alias("part"),
        F.year("l_shipdate").alias("y"),
    ).agg(
        F.sum("l_quantity").alias("q"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
            "spend"
        ),
    )
    yrs = yr.agg(F.min("y").alias("y0"), F.max("y").alias("y1"))
    px = yr.select(
        "part", "y", (F.col("spend").cast("double") / F.col("q")).alias("p"), "q"
    )
    b = px.alias("b")
    c = px.alias("c")
    pair = (
        b.join(c, F.col("b.part") == F.col("c.part"))
        .crossJoin(F.broadcast(yrs))
        .filter(
            (F.col("b.y") == F.col("y0")) & (F.col("c.y") == F.col("y1"))
        )
        .select(
            F.col("y0"),
            F.col("y1"),
            F.col("b.p").alias("p0"),
            F.col("b.q").alias("q0"),
            F.col("c.p").alias("p1"),
            F.col("c.q").alias("q1"),
        )
    )
    lasp = F.sum(F.col("p1") * F.col("q0")) / F.sum(
        F.col("p0") * F.col("q0")
    )
    paas = F.sum(F.col("p1") * F.col("q1")) / F.sum(
        F.col("p0") * F.col("q1")
    )
    return pair.groupBy("y0", "y1").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).select(
        F.col("y0").cast("long").alias("base_year"),
        F.col("y1").cast("long").alias("compare_year"),
        "n_parts",
        "laspeyres",
        "paasche",
        "fisher",
    )


# --------------------------------------------------- Tukey fences
@query(
    "anomaly_tukey_fences",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(max(q.q1), 6) AS q1, round(max(q.q3), 6) AS q3,
           CAST(count(*) FILTER (
             e.value < q.q1 - 1.5 * (q.q3 - q.q1)
             OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT)
             AS n_outliers,
           CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("stats", "outlier", "quantile", "events"),
)
def anomaly_tukey_fences(spark, sf_dir):
    """TUKEY FENCES outlier screen per event type: flag values outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR]. Quartiles come from the engine's
    two-pass range-partitioned ``exact_quantiles`` (quantile_cont
    semantics, identical to the DuckDB oracle) — never the
    single-reducer percentile aggregate; the fence compare is a
    map-side filter against the broadcast per-group quartile relation.

    Scale: bounded group count (event types) with unbounded values per
    group — exactly exact_quantiles' intended regime; the outlier
    count pass re-scans the source once with the fences broadcast."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles

    e = t(spark, sf_dir, "events").select("event_type", "value")
    q = exact_quantiles(
        e, "value", {"q1": 0.25, "q3": 0.75}, group_cols=["event_type"]
    )
    iqr = F.col("q3") - F.col("q1")
    j = e.join(F.broadcast(q), "event_type")
    out = (
        F.col("value") < F.col("q1") - 1.5 * iqr
    ) | (F.col("value") > F.col("q3") + 1.5 * iqr)
    return j.groupBy("event_type").agg(
        F.round(F.max("q1"), 6).alias("q1"),
        F.round(F.max("q3"), 6).alias("q3"),
        F.count(F.when(out, 1)).cast("long").alias("n_outliers"),
        F.count("*").cast("long").alias("n"),
    )


@query(
    "analytics_page_hinkley",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    idx AS (
      SELECT day, y, row_number() OVER (ORDER BY day) AS t FROM daily
    ), s AS (
      SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS sy FROM idx
    ), m AS (
      SELECT t, day,
             (SELECT n FROM s)
               * sum(CAST(y AS HUGEINT)) OVER (ORDER BY t)
               - CAST(t AS HUGEINT) * (SELECT sy FROM s) AS mt
      FROM idx
    ), r AS (
      SELECT t, day, mt, min(mt) OVER (ORDER BY t) AS mmin FROM m
    ), mx AS (SELECT max(mt - mmin) AS phs FROM r)
    SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_days,
           round(CAST((SELECT phs FROM mx) AS DOUBLE)
                 / ((SELECT n FROM s) * 100.0), 4) AS ph_stat,
           min(day) AS detect_day
    FROM r WHERE mt - mmin = (SELECT phs FROM mx)
    """,
    tags=("stats", "time-series", "drift", "orders"),
)
def analytics_page_hinkley(spark, sf_dir):
    """PAGE-HINKLEY upward-drift statistic on daily revenue: PH =
    max_t (m_t − min_{i≤t} m_i) with m_t = Σ_{i≤t}(y_i − ȳ). Scaled by
    n to stay INTEGER-EXACT end to end: M_t = n·CumY_t − t·ΣY is an
    exact integer, the running min and the max-gap are integer
    comparisons, and the single division by n·100 (back to currency
    units) happens once at the end — so the argmax day (the change
    point PH detects) is engine-exact, not a float tie.

    Scale: cumulative sum + running min are single-partition windows
    over the calendar-bounded series; everything upstream is the
    map-side daily aggregation."""
    idx = _daily(spark, sf_dir)
    s = idx.agg(
        F.count("*").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = idx.crossJoin(F.broadcast(s)).select(
        "t",
        "day",
        "n",
        (
            F.col("n") * F.sum(F.col("y").cast("decimal(38,0)")).over(w_cum)
            - F.col("t") * F.col("sy")
        ).alias("mt"),
    )
    r = m.select(
        "t",
        "day",
        "n",
        "mt",
        F.min("mt").over(w_cum).alias("mmin"),
    )
    mx = r.agg(F.max(F.col("mt") - F.col("mmin")).alias("phs"))
    return (
        r.crossJoin(F.broadcast(mx))
        .filter(F.col("mt") - F.col("mmin") == F.col("phs"))
        .agg(
            F.max("n").cast("long").alias("n_days"),
            F.round(
                F.max("phs").cast("double")
                / (F.max("n") * F.lit(100.0)),
                4,
            ).alias("ph_stat"),
            F.min("day").alias("detect_day"),
        )
    )


# ------------------------------------------- EWMA control chart
_EW_LAMBDA = 0.2   # EWMA smoothing
_EW_WINDOW = 60    # truncated-kernel length ((1-λ)^60 ≈ 1.5e-6)
_EW_SIGMA = 2.5    # control limit in global-σ units


@query(
    "anomaly_ewma_control",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    idx AS (
      SELECT day, y, row_number() OVER (ORDER BY day) AS t FROM daily
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS s1,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS s2
      FROM idx
    ), sig AS (
      SELECT n, sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd FROM s
    ), z AS (
      SELECT a.t, a.day, a.y,
             sum(CAST({_EW_LAMBDA} * pow(1 - {_EW_LAMBDA}, j.j) * b.y
                      AS DECIMAL(38,10))) AS zt_num,
             sum(CAST({_EW_LAMBDA} * pow(1 - {_EW_LAMBDA}, j.j)
                      AS DECIMAL(38,20))) AS zt_den
      FROM idx a
      JOIN (SELECT unnest(range(1, {_EW_WINDOW + 1})) AS j) j ON TRUE
      JOIN idx b ON b.t = a.t - j.j
      GROUP BY 1, 2, 3
    ), flags AS (
      SELECT t, day, y,
             CAST(zt_num AS DOUBLE) / CAST(zt_den AS DOUBLE) AS z_prev
      FROM z WHERE t > {_EW_WINDOW}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_tested,
           CAST(count(*) FILTER (
             abs(y - z_prev) > {_EW_SIGMA} * (SELECT sd FROM sig))
             AS BIGINT) AS n_flagged,
           min(CASE WHEN abs(y - z_prev)
                         > {_EW_SIGMA} * (SELECT sd FROM sig)
                    THEN day END) AS first_flag_day,
           max(CASE WHEN abs(y - z_prev)
                         > {_EW_SIGMA} * (SELECT sd FROM sig)
                    THEN day END) AS last_flag_day
    FROM flags
    """,
    tags=("stats", "time-series", "control-chart", "orders"),
)
def anomaly_ewma_control(spark, sf_dir):
    """EWMA CONTROL CHART on daily revenue: each day is tested against
    the exponentially weighted moving average of the PRIOR {W} days
    (λ = {L}, truncated kernel — (1−λ)^{W} ≈ 1.5e-6, and the
    truncation is part of the DEFINED statistic so both engines replay
    it exactly rather than approximating an infinite recursion);
    flag when |y_t − z_{{t−1}}| > {S}·σ̂. Kernel weights are identical
    libm pow values on literal operands; weighted terms are cast to
    DECIMAL so the per-day sums are order-free; σ̂ comes from exact
    integer sums. The truncated-kernel formulation REPLACES the
    sequential EWMA recursion (unparallelizable, and the untruncated
    closed form needs (1/(1−λ))^t — overflow at t≈2400) with one
    explode+shifted-join — embarrassingly parallel at any length.

    Scale: |days|×{W} joined rows — calendar-bounded; the corpus-size
    work is the daily aggregation."""
    idx = _daily(spark, sf_dir)
    s = idx.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("double")
        .alias("s2"),
    )
    sig = s.select(
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd")
    )
    a = idx.select(
        "t",
        "day",
        "y",
        F.explode(
            F.array(*[F.lit(j) for j in range(1, _EW_WINDOW + 1)])
        ).alias("j"),
    )
    b = idx.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    wgt = _EW_LAMBDA * F.pow(F.lit(1 - _EW_LAMBDA), F.col("j"))
    z = (
        a.join(b, F.col("tb") == F.col("t") - F.col("j"))
        .groupBy("t", "day", "y")
        .agg(
            F.sum((wgt * F.col("yb")).cast("decimal(38,10)")).alias(
                "zt_num"
            ),
            F.sum(wgt.cast("decimal(38,20)")).alias("zt_den"),
        )
        .filter(F.col("t") > _EW_WINDOW)
        .select(
            "t",
            "day",
            "y",
            (
                F.col("zt_num").cast("double")
                / F.col("zt_den").cast("double")
            ).alias("z_prev"),
        )
    )
    flag = F.abs(F.col("y") - F.col("z_prev")) > _EW_SIGMA * F.col("sd")
    return z.crossJoin(F.broadcast(sig)).agg(
        F.count("*").cast("long").alias("n_days_tested"),
        F.count(F.when(flag, 1)).cast("long").alias("n_flagged"),
        F.min(F.when(flag, F.col("day"))).alias("first_flag_day"),
        F.max(F.when(flag, F.col("day"))).alias("last_flag_day"),
    )


# ------------------------------------- lagged cross-correlation
_XC_LAGS = 3
_XC_URGENT = ("1-URGENT", "2-HIGH")


@query(
    "analytics_crosscorr_lagged",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y,
             sum(CASE WHEN o_orderpriority IN {_XC_URGENT}
                      THEN CAST(round(o_totalprice * 100) AS BIGINT)
                      ELSE 0 END) AS x
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT x, y, row_number() OVER (ORDER BY day) AS t FROM daily
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy
      FROM idx
    ), d AS (
      SELECT t, x - (SELECT sx / n FROM s) AS dx,
             y - (SELECT sy / n FROM s) AS dy
      FROM idx
    ), den AS (
      SELECT CAST(sum(CAST(dx * dx AS DECIMAL(38,6))) AS DOUBLE) AS vx,
             CAST(sum(CAST(dy * dy AS DECIMAL(38,6))) AS DOUBLE) AS vy
      FROM d
    )
    SELECT k.k AS lag,
           round(CAST(sum(CAST(a.dx * b.dy AS DECIMAL(38,6))) AS DOUBLE)
                 / sqrt((SELECT vx FROM den) * (SELECT vy FROM den)),
                 6) AS r_xy
    FROM (SELECT unnest(range(-{_XC_LAGS}, {_XC_LAGS + 1})) AS k) k,
         d a JOIN d b ON b.t = a.t + k.k
    GROUP BY 1
    """,
    tags=("stats", "time-series", "cross-correlation", "orders"),
)
def analytics_crosscorr_lagged(spark, sf_dir):
    """LAGGED CROSS-CORRELATION between two daily series (urgent-order
    revenue x vs total revenue y): r_xy(k) for k ∈ [−{L}, {L}] — does
    one series LEAD the other? One explode + shifted equi-join
    computes every lag in a single plan (the Ljung-Box shape); the
    normalizer uses full-series variances so r is comparable across
    lags. Deviation products are cast to DECIMAL per term; the input
    series are integer cents.

    Scale: the lag join runs on the calendar-bounded daily relation;
    the corpus-size work is one map-side daily aggregation."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(cents).alias("y"),
        F.sum(
            F.when(
                F.col("o_orderpriority").isin(*_XC_URGENT), cents
            ).otherwise(F.lit(0))
        ).alias("x"),
    )
    idx = daily.select(
        "x", "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    s = idx.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
    )
    d = idx.crossJoin(F.broadcast(s)).select(
        "t",
        (F.col("x") - F.col("sx") / F.col("n")).alias("dx"),
        (F.col("y") - F.col("sy") / F.col("n")).alias("dy"),
    )
    d6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    den = d.agg(
        F.sum(d6(F.col("dx") * F.col("dx"))).cast("double").alias("vx"),
        F.sum(d6(F.col("dy") * F.col("dy"))).cast("double").alias("vy"),
    )
    a = d.select(
        "t",
        F.col("dx").alias("dx_a"),
        F.explode(
            F.array(
                *[
                    F.lit(k).cast("long")
                    for k in range(-_XC_LAGS, _XC_LAGS + 1)
                ]
            )
        ).alias("lag"),
    )
    b = d.select(F.col("t").alias("tb"), F.col("dy").alias("dy_b"))
    return (
        a.join(b, F.col("tb") == F.col("t") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(d6(F.col("dx_a") * F.col("dy_b"))).alias("sxy"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.round(
                F.col("sxy").cast("double")
                / F.sqrt(F.col("vx") * F.col("vy")),
                6,
            ).alias("r_xy"),
        )
    )


# ---------------------------------------------------- Lorenz deciles
@query(
    "analytics_lorenz_deciles",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), d AS (
      SELECT o_custkey, cents,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM rev
    ), g AS (
      SELECT decile, count(*) AS n_cust, sum(cents) AS dec_cents
      FROM d GROUP BY 1
    )
    SELECT decile, n_cust,
           round(CAST(dec_cents AS DOUBLE)
                 / sum(dec_cents) OVER (), 6) AS rev_share,
           round(CAST(sum(dec_cents) OVER (ORDER BY decile) AS DOUBLE)
                 / sum(dec_cents) OVER (), 6) AS lorenz_cum_share
    FROM g ORDER BY decile
    """,
    tags=("analytics", "concentration", "orders"),
)
def analytics_lorenz_deciles(spark, sf_dir):
    """LORENZ CURVE at decile resolution (the curve behind the suite's
    Gini scalar): customers ranked by total spend (exact cents),
    ntile(10) with a deterministic custkey tie-break, per-decile
    revenue share and cumulative (Lorenz) share. The bottom-heavy
    read: lorenz_cum_share(d) = fraction of all revenue earned by the
    poorest 10·d% of customers.

    Scale: the global ntile ranks the AGGREGATED customer dimension
    (|customers| ≪ |orders|; the fact scan collapses first), the same
    deliberate pattern as analytics_gini — for fact-grained ranking
    use global_row_number_twopass. Cents stay BIGINT until the two
    share divisions."""
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    d = rev.select(
        "o_custkey",
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias(
            "decile"
        ),
    )
    g = d.groupBy("decile").agg(
        F.count("*").alias("n_cust"), F.sum("cents").alias("dec_cents")
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile")
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        "n_cust",
        F.round(
            F.col("dec_cents").cast("double")
            / F.sum("dec_cents").over(wall),
            6,
        ).alias("rev_share"),
        F.round(
            F.sum("dec_cents").over(wcum).cast("double")
            / F.sum("dec_cents").over(wall),
            6,
        ).alias("lorenz_cum_share"),
    ).orderBy("decile")


# ------------------------------------- binary-segmentation changepoint
@query(
    "analytics_binseg_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT d,
             row_number() OVER (ORDER BY d) AS i,
             sum(cents) OVER (ORDER BY d) AS sl_c,
             count(*) OVER () AS nn,
             sum(cents) OVER () AS ss_c
      FROM daily
    ), gains AS (
      SELECT d, i AS n_left, nn - i AS n_right,
             (sl_c / 100.0) / i AS mean_left,
             (ss_c / 100.0 - sl_c / 100.0) / (nn - i) AS mean_right,
             (sl_c / 100.0) * (sl_c / 100.0) / i
               + (ss_c / 100.0 - sl_c / 100.0)
                 * (ss_c / 100.0 - sl_c / 100.0) / (nn - i)
               - (ss_c / 100.0) * (ss_c / 100.0) / nn AS gain
      FROM idx WHERE i < nn
    )
    SELECT d AS split_date, CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right,
           round(mean_left, 4) AS mean_left,
           round(mean_right, 4) AS mean_right,
           round(gain, 4) AS sse_gain
    FROM gains ORDER BY gain DESC, d LIMIT 1
    """,
    tags=("analytics", "changepoint", "time-series", "orders"),
)
def analytics_binseg_changepoint(spark, sf_dir):
    """BINARY-SEGMENTATION CHANGEPOINT (one step of the classic binseg
    recursion — the offline complement to the suite's sequential CUSUM
    and Page-Hinkley detectors): the split t of the daily-revenue
    series maximizing the SSE reduction
    gain(t) = S_l²/n_l + S_r²/n_r − S²/N (the Σy² terms cancel, so no
    second-moment pass is needed). Deterministic date tie-break.

    EXACTNESS: daily revenue is an exact BIGINT cents sum scaled to
    dollars (exact doubles); every downstream operand is then
    bit-identical on both engines, so the double gains — and the
    argmax ordering over them — agree exactly.

    Scale: the fact scan collapses to the calendar-bounded daily
    relation first; prefix sums + the argmax are windows over ≤|days|
    rows (structurally bounded single partition), and the final pick
    is a TopK(1)."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    w = Window.orderBy("d")
    wall = Window.partitionBy()
    idx = daily.select(
        "d",
        F.row_number().over(w).alias("i"),
        F.sum("cents").over(w).alias("sl_c"),
        F.count("*").over(wall).alias("nn"),
        F.sum("cents").over(wall).alias("ss_c"),
    )
    # prefix sums stay exact BIGINT cents (a windowed double sum would
    # differ across engines: DuckDB's segment-tree pairwise order vs
    # Spark's sequential order); dollars appear only in the closed form
    sl = F.col("sl_c") / 100.0
    ss = F.col("ss_c") / 100.0
    g = idx.filter(F.col("i") < F.col("nn")).select(
        "d",
        F.col("i").alias("n_left"),
        (F.col("nn") - F.col("i")).alias("n_right"),
        (sl / F.col("i")).alias("mean_left"),
        ((ss - sl) / (F.col("nn") - F.col("i"))).alias("mean_right"),
        (
            sl * sl / F.col("i")
            + (ss - sl) * (ss - sl) / (F.col("nn") - F.col("i"))
            - ss * ss / F.col("nn")
        ).alias("gain"),
    )
    return (
        g.orderBy(F.desc("gain"), "d")
        .limit(1)
        .select(
            F.col("d").alias("split_date"),
            F.col("n_left").cast("long").alias("n_left"),
            F.col("n_right").cast("long").alias("n_right"),
            F.round("mean_left", 4).alias("mean_left"),
            F.round("mean_right", 4).alias("mean_right"),
            F.round("gain", 4).alias("sse_gain"),
        )
    )


# --------------------------------------------- Holt-Winters additive
_HW_SPARK_FOLD = """
  aggregate(
    slice(ca, 8, CAST(dd - 7 AS INT)),
    named_struct('l', l0, 'b', b0, 's', s0, 'i', 6),
    (acc, c) -> named_struct(
      'l', 0.3D * (c / 100.0D - element_at(acc.s, (acc.i + 1) % 7 + 1))
           + 0.7D * (acc.l + acc.b),
      'b', 0.1D * ((0.3D * (c / 100.0D
                            - element_at(acc.s, (acc.i + 1) % 7 + 1))
                    + 0.7D * (acc.l + acc.b)) - acc.l) + 0.9D * acc.b,
      's', concat(
             slice(acc.s, 1, (acc.i + 1) % 7),
             array(0.2D * (c / 100.0D
                           - (0.3D * (c / 100.0D
                                      - element_at(acc.s,
                                                   (acc.i + 1) % 7 + 1))
                              + 0.7D * (acc.l + acc.b)))
                   + 0.8D * element_at(acc.s, (acc.i + 1) % 7 + 1)),
             slice(acc.s, (acc.i + 1) % 7 + 2, 7)),
      'i', acc.i + 1))"""


@query(
    "analytics_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), arrs AS (
      SELECT count(*) AS dd, list(cents ORDER BY d) AS ca FROM daily
    ), base AS (
      SELECT dd, ca,
             list_sum(ca[1:7]) / 700.0 AS l0,
             (list_sum(ca[8:14]) / 700.0
              - list_sum(ca[1:7]) / 700.0) / 7.0 AS b0,
             list_transform(ca[1:7],
                            c -> c / 100.0 - list_sum(ca[1:7]) / 700.0)
               AS s0
      FROM arrs
    ), hw AS (
      SELECT 6 AS t, l0 AS l, b0 AS b, s0 AS s, dd, ca FROM base
      UNION ALL
      SELECT q.t + 1,
             q.lnew,
             0.1 * (q.lnew - q.l) + 0.9 * q.b,
             q.s[:q.slot] || [0.2 * (q.y - q.lnew) + 0.8 * q.sold]
               || q.s[q.slot + 2:],
             q.dd, q.ca
      FROM (
        SELECT hw.*,
               ((hw.t + 1) % 7) AS slot,
               ca[hw.t + 2] / 100.0 AS y,
               hw.s[((hw.t + 1) % 7) + 1] AS sold,
               0.3 * (ca[hw.t + 2] / 100.0
                      - hw.s[((hw.t + 1) % 7) + 1])
                 + 0.7 * (hw.l + hw.b) AS lnew
        FROM hw WHERE hw.t + 1 <= hw.dd - 1
      ) q
    ), fin AS (
      SELECT * FROM hw WHERE t = dd - 1
    )
    SELECT h,
           round(l + h * b + s[CAST((dd - 1 + h) % 7 AS INT) + 1], 6)
             AS forecast
    FROM fin, unnest(range(1, 8)) AS u(h)
    ORDER BY h
    """,
    tags=("analytics", "forecast", "time-series", "orders"),
)
def analytics_holt_winters(spark, sf_dir):
    """HOLT-WINTERS ADDITIVE triple exponential smoothing
    (α=0.3, β=0.1, γ=0.2, weekly season m=7) over the daily-revenue
    series, forecasting the next 7 days ŷ_h = ℓ + h·b + s_{t+h−m} —
    the seasonal upgrade of analytics_holt_trend (level+trend only)
    and the model-based counterpart of analytics_seasonality_index.

    CROSS-ENGINE EXACTNESS OF A 2,000+ STEP RECURRENCE: Spark runs the
    recursion as ONE F.aggregate fold over the cents array (state =
    level, trend, 7 seasonal slots, step index); the oracle runs the
    SAME recurrence as a recursive CTE. Daily inputs are exact BIGINT
    cents scaled by double literals ('D' suffixed on the Spark side —
    a bare 1.0 parses as DECIMAL there), every update is the same IEEE
    expression tree on both engines, so the final state is
    BIT-IDENTICAL after thousands of sequential ops (verified at all
    fixture scales), not merely close.

    Scale: the fact scan collapses to the calendar-bounded daily
    relation (≤ |days| rows at ANY corpus size); the fold is O(|days|)
    on one row — an inherently sequential recurrence, structurally
    safe because the series length is bounded by the calendar, not
    the data."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    arr = daily.agg(
        F.count("*").alias("dd"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, cents))),"
            " p -> p.cents)"
        ).alias("ca"),
    )
    base = arr.select(
        "dd",
        "ca",
        F.expr(
            "aggregate(slice(ca, 1, 7), 0L, (a, c) -> a + c) / 700.0D"
        ).alias("l0"),
        F.expr(
            "(aggregate(slice(ca, 8, 7), 0L, (a, c) -> a + c) / 700.0D"
            " - aggregate(slice(ca, 1, 7), 0L, (a, c) -> a + c)"
            " / 700.0D) / 7.0D"
        ).alias("b0"),
    ).withColumn(
        "s0", F.expr("transform(slice(ca, 1, 7), c -> c / 100.0D - l0)")
    )
    fold = base.select("dd", F.expr(_HW_SPARK_FOLD).alias("st"))
    return (
        fold.select(
            F.explode(F.expr("sequence(1L, 7L)")).alias("h"),
            F.col("st.l").alias("l"),
            F.col("st.b").alias("b"),
            F.col("st.s").alias("s"),
            "dd",
        )
        .select(
            "h",
            F.round(
                F.expr(
                    "l + h * b"
                    " + element_at(s, CAST((dd - 1 + h) % 7 AS INT) + 1)"
                ),
                6,
            ).alias("forecast"),
        )
        .orderBy("h")
    )


# --------------------------------------------- Bass diffusion model
@query(
    "analytics_bass_diffusion",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, event_type, min(CAST(ts AS DATE)) AS d0
      FROM events GROUP BY 1, 2
    ), adopt AS (
      SELECT d0 AS d, count(*) AS n FROM first_seen GROUP BY 1
    ), cum AS (
      SELECT d, n,
             sum(n) OVER (ORDER BY d) - n AS c
      FROM adopt
    ), m5 AS (
      SELECT count(*) AS nn,
             CAST(sum(c) AS DOUBLE) AS sc,
             CAST(sum(c * c) AS DOUBLE) AS sc2,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c) AS DOUBLE) AS sc3,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * c * c * c) AS DOUBLE)
               AS sc4,
             CAST(sum(n) AS DOUBLE) AS sy,
             CAST(sum(n * c) AS DOUBLE) AS syc,
             CAST(sum(CAST(n AS DECIMAL(38,0)) * c * c) AS DOUBLE) AS syc2
      FROM cum
    ), det AS (
      SELECT nn, sy, syc, syc2, sc, sc2, sc3, sc4,
             nn * (sc2 * sc4 - sc3 * sc3)
               - sc * (sc * sc4 - sc2 * sc3)
               + sc2 * (sc * sc3 - sc2 * sc2) AS dd
      FROM m5
    ), coef AS (
      SELECT
        (sy * (sc2 * sc4 - sc3 * sc3)
         - sc * (syc * sc4 - syc2 * sc3)
         + sc2 * (syc * sc3 - syc2 * sc2)) / dd AS a,
        (nn * (syc * sc4 - syc2 * sc3)
         - sy * (sc * sc4 - sc2 * sc3)
         + sc2 * (sc * syc2 - sc2 * syc)) / dd AS b,
        (nn * (sc2 * syc2 - sc3 * syc)
         - sc * (sc * syc2 - sc2 * syc)
         + sy * (sc * sc3 - sc2 * sc2)) / dd AS c
      FROM det
    )
    SELECT round(a, 6) AS a, round(b, 6) AS b, round(c, 6) AS c,
           round((-b - sqrt(b * b - 4 * a * c)) / (2 * c), 4) AS m_sat,
           round(a / ((-b - sqrt(b * b - 4 * a * c)) / (2 * c)), 6)
             AS p_innov,
           round(-c * ((-b - sqrt(b * b - 4 * a * c)) / (2 * c)), 6)
             AS q_imit
    FROM coef
    """,
    tags=("analytics", "forecast", "diffusion", "events"),
)
def analytics_bass_diffusion(spark, sf_dir):
    """BASS DIFFUSION MODEL fit (Bass 1969, the classic
    new-product-adoption curve): adoption unit = a (user, event_type)
    first touch (per-user capability adoption — plain per-user first
    events all land on day one in this corpus, a singular design);
    regress daily NEW adoptions n_t on cumulative prior adoptions,
    n_t = a + b·C_{t−1} + c·C_{t−1}²
    (discrete-time Bass), by exact 3-parameter OLS — normal equations
    from BIGINT/DECIMAL power sums (C ≤ |users| so C⁴ needs the
    decimal widening), solved by Cramer's rule in double. Implied
    market size m = the positive root of a + bm + cm² = 0, innovation
    p = a/m, imitation q = −c·m — the 'm_sat vs observed users'
    gap is the standard saturation-headroom read.

    Scale: one first-touch aggregation (the retention_cohorts shape)
    collapses facts to the calendar-bounded adoption series; the
    regression is a single fold of 7 exact power sums.

    The adoption window frame (sum OVER ORDER BY minus current row)
    keeps C_{t−1} integer-exact — no double prefix sums (the binseg
    segment-tree lesson)."""
    e = t(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id", "event_type").agg(
        F.min(F.col("ts").cast("date")).alias("d0")
    )
    adopt = first_seen.groupBy(F.col("d0").alias("d")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("d")
    cum = adopt.select(
        "d", "n", (F.sum("n").over(w) - F.col("n")).alias("c")
    )
    c = F.col("c")
    n = F.col("n")
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m5 = cum.agg(
        F.count("*").alias("nn"),
        F.sum(c).cast("double").alias("sc"),
        F.sum(c * c).cast("double").alias("sc2"),
        F.sum(dec(c) * c * c).cast("double").alias("sc3"),
        F.sum(dec(c) * c * c * c).cast("double").alias("sc4"),
        F.sum(n).cast("double").alias("sy"),
        F.sum(n * c).cast("double").alias("syc"),
        F.sum(dec(n) * c * c).cast("double").alias("syc2"),
    )
    nn, sc, sc2, sc3, sc4, sy, syc, syc2 = (
        F.col("nn"),
        F.col("sc"),
        F.col("sc2"),
        F.col("sc3"),
        F.col("sc4"),
        F.col("sy"),
        F.col("syc"),
        F.col("syc2"),
    )
    dd = (
        nn * (sc2 * sc4 - sc3 * sc3)
        - sc * (sc * sc4 - sc2 * sc3)
        + sc2 * (sc * sc3 - sc2 * sc2)
    )
    a = (
        sy * (sc2 * sc4 - sc3 * sc3)
        - sc * (syc * sc4 - syc2 * sc3)
        + sc2 * (syc * sc3 - syc2 * sc2)
    ) / dd
    b = (
        nn * (syc * sc4 - syc2 * sc3)
        - sy * (sc * sc4 - sc2 * sc3)
        + sc2 * (sc * syc2 - sc2 * syc)
    ) / dd
    cc = (
        nn * (sc2 * syc2 - sc3 * syc)
        - sc * (sc * syc2 - sc2 * syc)
        + sy * (sc * sc3 - sc2 * sc2)
    ) / dd
    m_sat = (-b - F.sqrt(b * b - 4 * a * cc)) / (2 * cc)
    return m5.select(
        F.round(a, 6).alias("a"),
        F.round(b, 6).alias("b"),
        F.round(cc, 6).alias("c"),
        F.round(m_sat, 4).alias("m_sat"),
        F.round(a / m_sat, 6).alias("p_innov"),
        F.round(-cc * m_sat, 6).alias("q_imit"),
    )


# ------------------------------------------- weekly spectral energy
def _trig_case(k: int, fn) -> str:
    """CASE lookup of cos/sin(2π·k·(t%7)/7) as full-precision double
    literals — ONE string shared verbatim by both engines (repr() is
    the exact shortest round-trip, so both parse the same double)."""
    arms = " ".join(
        f"WHEN {i} THEN CAST({fn(2.0 * _math.pi * k * i / 7.0)!r}"
        " AS DOUBLE)"
        for i in range(7)
    )
    return f"(CASE CAST(t % 7 AS INT) {arms} END)"


_SPEC_TERMS = {
    k: (_trig_case(k, _math.cos), _trig_case(k, _math.sin))
    for k in (1, 2, 3)
}


@query(
    "analytics_spectral_weekly",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT cents / 100.0 AS y,
             row_number() OVER (ORDER BY d) - 1 AS t,
             cents
      FROM daily
    ), sums AS (
      SELECT count(*) AS dd,
             CAST(sum(cents) AS DOUBLE) AS sc,
             CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DOUBLE)
               AS sc2,
             {", ".join(
                 f'''CAST(sum(CAST({cos_} * y AS DECIMAL(38,6)))
                      AS DOUBLE) AS a{k},
                 CAST(sum(CAST({sin_} * y AS DECIMAL(38,6)))
                      AS DOUBLE) AS b{k}'''
                 for k, (cos_, sin_) in sorted(_SPEC_TERMS.items())
             )}
      FROM idx
    )
    SELECT k,
           round(2.0 * sqrt(a * a + b * b) / dd, 4) AS amplitude,
           round(2.0 * (a * a + b * b)
                 / (dd * ((sc2 - sc * sc / dd) / 10000.0)), 6)
             AS energy_share
    FROM (
      {" UNION ALL ".join(
          f"SELECT CAST({k} AS BIGINT) AS k, a{k} AS a, b{k} AS b,"
          f" dd, sc, sc2 FROM sums"
          for k in sorted(_SPEC_TERMS)
      )}
    ) ORDER BY k
    """,
    tags=("analytics", "time-series", "spectral", "orders"),
)
def analytics_spectral_weekly(spark, sf_dir):
    """WEEKLY-HARMONIC SPECTRAL ENERGY (periodogram probe at the 7-day
    frequency and its 2nd/3rd harmonics — the frequency-domain twin of
    analytics_seasonality_index, and the diagnostic that picks m for
    analytics_holt_winters): a_k = Σ y_t·cos(2πkt/7),
    b_k = Σ y_t·sin(2πkt/7), amplitude 2√(a²+b²)/D and the share of
    centered energy 2(a²+b²)/(D·SS).

    EXACTNESS: the 21 trig constants are repr()-exact double literals
    in a CASE lookup shared VERBATIM by both engines (there are only 7
    phases per harmonic — no per-row libm calls, so no cross-engine
    sin/cos divergence is even possible); every product is cast to
    DECIMAL per-term so the sums are order-free; SS comes from exact
    integer cents power sums.

    Scale: facts collapse to the calendar-bounded daily relation; the
    harmonic sums are one fold (map-side partial) over ≤|days| rows."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("cents")
    )
    idx = daily.select(
        (F.col("cents") / 100.0).alias("y"),
        (F.row_number().over(Window.orderBy("d")) - 1).alias("t"),
        "cents",
    )
    aggs = [
        F.count("*").alias("dd"),
        F.sum("cents").cast("double").alias("sc"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("double")
        .alias("sc2"),
    ]
    for k, (cos_, sin_) in sorted(_SPEC_TERMS.items()):
        aggs.append(
            F.sum(F.expr(f"CAST({cos_} * y AS DECIMAL(38,6))"))
            .cast("double")
            .alias(f"a{k}")
        )
        aggs.append(
            F.sum(F.expr(f"CAST({sin_} * y AS DECIMAL(38,6))"))
            .cast("double")
            .alias(f"b{k}")
        )
    sums = idx.agg(*aggs)
    parts = []
    for k in sorted(_SPEC_TERMS):
        parts.append(
            sums.select(
                F.lit(k).cast("long").alias("k"),
                F.col(f"a{k}").alias("a"),
                F.col(f"b{k}").alias("b"),
                "dd",
                "sc",
                "sc2",
            )
        )
    un = parts[0]
    for pth in parts[1:]:
        un = un.unionAll(pth)
    ss = (F.col("sc2") - F.col("sc") * F.col("sc") / F.col("dd")) / 10000.0
    return un.select(
        "k",
        F.round(
            2.0 * F.sqrt(F.col("a") * F.col("a") + F.col("b") * F.col("b"))
            / F.col("dd"),
            4,
        ).alias("amplitude"),
        F.round(
            2.0
            * (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
            / (F.col("dd") * ss),
            6,
        ).alias("energy_share"),
    ).orderBy("k")


# ------------------------------------------------- Granger (lite)
@query(
    "analytics_granger_lite",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
               AS x,
             count(*) AS z
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT x AS y,
             lag(x) OVER (ORDER BY d) AS xl,
             lag(z) OVER (ORDER BY d) AS zl
      FROM daily
    ), m AS (
      SELECT count(*) AS n,
             CAST(sum(CAST(y  AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(xl AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(zl AS DECIMAL(38,6))) AS DOUBLE) AS sz,
             CAST(sum(CAST(y * y   AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(sum(CAST(xl * xl AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(zl * zl AS DECIMAL(38,6))) AS DOUBLE) AS szz,
             CAST(sum(CAST(y * xl  AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(y * zl  AS DECIMAL(38,6))) AS DOUBLE) AS szy,
             CAST(sum(CAST(xl * zl AS DECIMAL(38,6))) AS DOUBLE) AS sxz
      FROM lagged WHERE xl IS NOT NULL
    ), c AS (
      SELECT n,
             syy - sy * sy / n AS cyy,
             sxx - sx * sx / n AS cxx,
             szz - sz * sz / n AS czz,
             sxy - sx * sy / n AS cxy,
             szy - sz * sy / n AS czy,
             sxz - sx * sz / n AS cxz
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(cyy - cxy * cxy / cxx, 4) AS rss_restricted,
           round(cyy - (czz * cxy * cxy - 2 * cxz * cxy * czy
                        + cxx * czy * czy)
                       / (cxx * czz - cxz * cxz), 4) AS rss_full,
           round(((cyy - cxy * cxy / cxx)
                  - (cyy - (czz * cxy * cxy - 2 * cxz * cxy * czy
                            + cxx * czy * czy)
                           / (cxx * czz - cxz * cxz)))
                 / ((cyy - (czz * cxy * cxy - 2 * cxz * cxy * czy
                            + cxx * czy * czy)
                           / (cxx * czz - cxz * cxz)) / (n - 3)), 6)
             AS f_granger
    FROM c
    """,
    tags=("analytics", "time-series", "causality", "orders"),
)
def analytics_granger_lite(spark, sf_dir):
    """GRANGER CAUSALITY (lag-1, 'lite'): does yesterday's ORDER COUNT
    improve today's REVENUE forecast beyond yesterday's revenue alone?
    F = (RSS_restricted − RSS_full)/(RSS_full/(n−3)) comparing
    x_t ~ x_{t−1} against x_t ~ x_{t−1} + z_{t−1}, both fit by exact
    closed-form OLS on centered moments (the 2-feature normal
    equations inverted symbolically — the agg_ols_two_feature
    pattern). Per-term decimal casts keep all nine cross-moments
    order-free.

    Scale: facts collapse to the calendar-bounded daily relation; one
    lag window, one nine-sum fold, a 1-row closed form."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
        ).alias("x"),
        F.count("*").alias("z"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        F.col("x").alias("y"),
        F.lag("x").over(w).alias("xl"),
        F.lag("z").over(w).alias("zl"),
    ).filter(F.col("xl").isNotNull())
    dsum6 = lambda e: F.sum(e.cast("decimal(38,6)")).cast(  # noqa: E731
        "double"
    )
    y, xl, zl = F.col("y"), F.col("xl"), F.col("zl")
    m = lagged.agg(
        F.count("*").alias("n"),
        dsum6(y).alias("sy"),
        dsum6(xl).alias("sx"),
        dsum6(zl).alias("sz"),
        dsum6(y * y).alias("syy"),
        dsum6(xl * xl).alias("sxx"),
        dsum6(zl * zl).alias("szz"),
        dsum6(y * xl).alias("sxy"),
        dsum6(y * zl).alias("szy"),
        dsum6(xl * zl).alias("sxz"),
    )
    n = F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    czz = F.col("szz") - F.col("sz") * F.col("sz") / n
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    czy = F.col("szy") - F.col("sz") * F.col("sy") / n
    cxz = F.col("sxz") - F.col("sx") * F.col("sz") / n
    rss_r = cyy - cxy * cxy / cxx
    rss_f = cyy - (
        czz * cxy * cxy - 2 * cxz * cxy * czy + cxx * czy * czy
    ) / (cxx * czz - cxz * cxz)
    return m.select(
        n.cast("long").alias("n"),
        F.round(rss_r, 4).alias("rss_restricted"),
        F.round(rss_f, 4).alias("rss_full"),
        F.round((rss_r - rss_f) / (rss_f / (n - 3)), 6).alias(
            "f_granger"
        ),
    )


# --------------------------------------------- Theil index decomposition


@query(
    "analytics_theil_index",
    oracle="""
    WITH cust AS (
      SELECT c.c_nationkey AS nation,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ), tot AS (
      SELECT count(*) AS n, CAST(sum(cents) AS DOUBLE) AS s
      FROM cust
    ), within AS (
      SELECT CAST(sum(CAST((cents / (s / n))
                           * ln(cents / (s / n)) / n
                           AS DECIMAL(38,12))) AS DOUBLE) AS t_total
      FROM cust, tot
    ), grp AS (
      SELECT nation, count(*) AS ng, CAST(sum(cents) AS DOUBLE) AS sg
      FROM cust GROUP BY 1
    ), between_ AS (
      SELECT CAST(sum(CAST((sg / s) * ln((sg / s) / (ng * 1.0 / n))
                           AS DECIMAL(38,12))) AS DOUBLE) AS t_between
      FROM grp, tot
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           round(t_total, 6) AS theil_total,
           round(t_between, 6) AS theil_between,
           round(t_total - t_between, 6) AS theil_within
    FROM within, between_, tot
    """,
    tags=("analytics", "inequality", "orders", "customer"),
)
def analytics_theil_index(spark, sf_dir):
    """THEIL T INEQUALITY INDEX with between/within-nation
    decomposition (the additively-decomposable inequality measure —
    what analytics_gini cannot do: T_total = T_between + Σ w_g T_g
    splits customer-spend inequality into cross-nation and
    within-nation parts): T = (1/n)Σ (x_i/μ)·ln(x_i/μ),
    T_between = Σ (s_g/S)·ln((s_g/S)/(n_g/n)).

    EXACTNESS: spend is exact cents; μ and the ratios are identical
    IEEE operands both engines; each ln() term is cast to
    DECIMAL(38,12) before summing — order-free AND absorbing any
    sub-1e-12 libm ulp disagreement between the JVM's and DuckDB's ln.

    Scale: one grouped sum per customer (facts collapse first), a
    |nations|-row group pass, two folds."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cust = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    tot = cust.agg(
        F.count("*").alias("n"), F.sum("cents").cast("double").alias("s")
    )
    mu = F.col("s") / F.col("n")
    within = cust.crossJoin(tot).agg(
        F.sum(
            (
                (F.col("cents") / mu)
                * F.log(F.col("cents") / mu)
                / F.col("n")
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("t_total")
    )
    grp = cust.groupBy("nation").agg(
        F.count("*").alias("ng"), F.sum("cents").cast("double").alias("sg")
    )
    between = grp.crossJoin(tot).agg(
        F.sum(
            (
                (F.col("sg") / F.col("s"))
                * F.log(
                    (F.col("sg") / F.col("s"))
                    / (F.col("ng") * 1.0 / F.col("n"))
                )
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("t_between")
    )
    return (
        within.crossJoin(between)
        .crossJoin(tot)
        .select(
            F.col("n").cast("long").alias("n_customers"),
            F.round("t_total", 6).alias("theil_total"),
            F.round("t_between", 6).alias("theil_between"),
            F.round(F.col("t_total") - F.col("t_between"), 6).alias(
                "theil_within"
            ),
        )
    )


# ------------------------------------------------ Hurst exponent (R/S)

_HURST_SIZES = (8, 16, 32, 64)
# ln(n) for the regression x-axis as repr()-exact shared literals —
# computed once here, parsed identically by both engines
_HURST_LNS = {n: repr(_math.log(n)) for n in _HURST_SIZES}


@query(
    "analytics_hurst_rs",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT c, row_number() OVER (ORDER BY d) - 1 AS i FROM daily
    ), sized AS (
      SELECT s.n, idx.c, idx.i,
             idx.i // s.n AS blk,
             idx.i % s.n AS pos
      FROM idx, (VALUES {", ".join(f"({n})" for n in _HURST_SIZES)})
                s(n)
    ), blkstat AS (
      SELECT n, blk,
             count(*) AS m,
             sum(c) AS s1,
             sum(CAST(c AS DECIMAL(38,0)) * c) AS s2
      FROM sized GROUP BY 1, 2
    ), dev AS (
      SELECT s.n, s.blk,
             s.n * sum(s.c) OVER (PARTITION BY s.n, s.blk
                                  ORDER BY s.pos)
               - (s.pos + 1) * b.s1 AS ndev
      FROM sized s JOIN blkstat b
        ON b.n = s.n AND b.blk = s.blk AND b.m = s.n
    ), rs AS (
      SELECT n, blk,
             (max(ndev) - min(ndev)) * 1.0
               / sqrt(CAST(max_s2n AS DOUBLE)) AS rs_ratio
      FROM (SELECT d.*,
                   b.n * b.s2 - CAST(b.s1 AS DECIMAL(38,0)) * b.s1
                     AS max_s2n
            FROM dev d JOIN blkstat b
              ON b.n = d.n AND b.blk = d.blk)
      GROUP BY n, blk, max_s2n
      HAVING max_s2n > 0
    ), avg_rs AS (
      SELECT n,
             count(*) AS n_blocks,
             CAST(sum(CAST(rs_ratio AS DECIMAL(38,12))) AS DOUBLE)
               / count(*) AS mean_rs
      FROM rs GROUP BY 1
    ), pts AS (
      SELECT CASE n {" ".join(
          f"WHEN {n} THEN CAST({ln} AS DOUBLE)"
          for n, ln in _HURST_LNS.items())} END AS x,
             ln(mean_rs) AS y
      FROM avg_rs
    ), fit AS (
      SELECT count(*) AS k,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_sizes,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
             AS hurst
    FROM fit
    """,
    tags=("analytics", "time-series", "long-memory", "orders"),
)
def analytics_hurst_rs(spark, sf_dir):
    """HURST EXPONENT via rescaled-range (R/S) analysis (Hurst 1951 /
    Mandelbrot — long-memory diagnostic: H≈0.5 random walk, H>0.5
    persistent trends, H<0.5 mean reversion; the long-horizon
    companion to stats_variance_ratio's fixed-q test): for block sizes
    n ∈ {_HURST_SIZES}, split the daily-revenue series into full
    blocks, R = range of cumulative deviations from the block mean,
    S = population std; H = slope of ln(mean R/S) on ln(n).

    THE INTEGER-SCALED CUMDEV TRICK: multiplying through by n makes
    every cumulative deviation exact — n·dev_t = n·Σ_{{i≤t}}c_i − t·S1
    (BIGINT cents), and n²S² = n·S2 − S1² (DECIMAL) — so R/S is ONE
    division of exact operands per block; no double prefix sums (the
    binseg segment-tree lesson applies to windowed sums here too).
    ln(n) regression x-coordinates are repr()-exact shared literals;
    runtime ln() terms cast per-term to DECIMAL(38,12), absorbing any
    libm ulp disagreement.

    Scale: everything after the daily collapse is windows over the
    calendar-bounded series × 4 sizes; the regression is a 4-point
    closed form."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("c")
    )
    idx = daily.select(
        "c", (F.row_number().over(Window.orderBy("d")) - 1).alias("i")
    )
    sizes = idx.select(
        F.explode(
            F.array(*[F.lit(nsz) for nsz in _HURST_SIZES])
        ).alias("n"),
        "c",
        "i",
    ).select(
        "n",
        "c",
        "i",
        (F.col("i") / F.col("n")).cast("long").alias("blk"),
        (F.col("i") % F.col("n")).alias("pos"),
    )
    blkstat = sizes.groupBy("n", "blk").agg(
        F.count("*").alias("m"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("s2"),
    )
    wcum = Window.partitionBy("n", "blk").orderBy("pos")
    dev = (
        sizes.alias("s")
        .join(
            blkstat.alias("b"),
            (F.col("s.n") == F.col("b.n"))
            & (F.col("s.blk") == F.col("b.blk"))
            & (F.col("b.m") == F.col("s.n")),
        )
        .select(
            F.col("s.n").alias("n"),
            F.col("s.blk").alias("blk"),
            (
                F.col("s.n") * F.sum("s.c").over(
                    Window.partitionBy("s.n", "s.blk").orderBy("s.pos")
                )
                - (F.col("s.pos") + 1) * F.col("b.s1")
            ).alias("ndev"),
            (
                F.col("b.n") * F.col("b.s2")
                - F.col("b.s1").cast("decimal(38,0)") * F.col("b.s1")
            ).alias("s2n"),
        )
    )
    rs = (
        dev.groupBy("n", "blk", "s2n")
        .agg(
            (
                (F.max("ndev") - F.min("ndev"))
                * 1.0
                / F.sqrt(F.col("s2n").cast("double"))
            ).alias("rs_ratio")
        )
        .filter(F.col("s2n") > 0)
    )
    avg_rs = rs.groupBy("n").agg(
        F.count("*").alias("n_blocks"),
        (
            F.sum(F.col("rs_ratio").cast("decimal(38,12)")).cast("double")
            / F.count("*")
        ).alias("mean_rs"),
    )
    xexpr = "CASE n " + " ".join(
        f"WHEN {n} THEN CAST({ln} AS DOUBLE)"
        for n, ln in _HURST_LNS.items()
    ) + " END"
    pts = avg_rs.select(
        F.expr(xexpr).alias("x"), F.log("mean_rs").alias("y")
    )
    d12 = lambda e: F.sum(e.cast("decimal(38,12)")).cast(  # noqa: E731
        "double"
    )
    fit = pts.agg(
        F.count("*").alias("k"),
        d12(F.col("x")).alias("sx"),
        d12(F.col("y")).alias("sy"),
        d12(F.col("x") * F.col("y")).alias("sxy"),
        d12(F.col("x") * F.col("x")).alias("sxx"),
    )
    k = F.col("k")
    return fit.select(
        k.cast("long").alias("n_sizes"),
        F.round(
            (k * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (k * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("hurst"),
    )


# ------------------------------------------ Viterbi burst detection
_VB_PEN = 500000  # state-entry penalty, 0.5 nats x 1e6 (integer-scaled)


@query(
    "events_burst_viterbi",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1
    ), arrs AS (
      SELECT count(*) AS dd, list(n ORDER BY d) AS ns,
             sum(n) * 1.0 / count(*) AS lam0
      FROM daily
    ), consts AS (
      SELECT dd, ns, lam0, ln(lam0) AS l0, ln(lam0 * 1.05) AS l1,
             lam0 * 1.05 AS lam1
      FROM arrs
    ), costs AS (
      SELECT dd,
             list_transform(ns, n -> CAST(floor(CAST(1000000 AS DOUBLE)
               * (lam0 - n * l0)) AS BIGINT)) AS c0,
             list_transform(ns, n -> CAST(floor(CAST(1000000 AS DOUBLE)
               * (lam1 - n * l1)) AS BIGINT)) AS c1
      FROM consts
    ), fwd AS (
      SELECT 1 AS t, c0[1] AS v0, c1[1] + {_VB_PEN} AS v1,
             CAST([] AS BIGINT[]) AS bs, dd, c0, c1
      FROM costs
      UNION ALL
      SELECT t + 1,
             least(v0, v1) + c0[t + 1],
             least(v1, v0 + {_VB_PEN}) + c1[t + 1],
             bs || [(CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
                    + 2 * (CASE WHEN v0 + {_VB_PEN} < v1
                           THEN 0 ELSE 1 END)],
             dd, c0, c1
      FROM fwd WHERE t < dd
    ), fin AS (
      SELECT * FROM fwd WHERE t = dd
    ), dec AS (
      SELECT 0 AS i,
             CASE WHEN v1 < v0 THEN 1 ELSE 0 END AS cur,
             [CASE WHEN v1 < v0 THEN 1 ELSE 0 END] AS states,
             list_reverse(bs) AS rbs, dd, least(v0, v1) AS mc
      FROM fin
      UNION ALL
      SELECT i + 1,
             CASE WHEN cur = 0 THEN rbs[i + 1] % 2
                  ELSE rbs[i + 1] // 2 END,
             states || [CASE WHEN cur = 0 THEN rbs[i + 1] % 2
                             ELSE rbs[i + 1] // 2 END],
             rbs, dd, mc
      FROM dec WHERE i < len(rbs)
    ), path AS (
      SELECT list_reverse(states) AS st, dd, mc
      FROM dec WHERE i = len(rbs)
    )
    SELECT CAST(dd AS BIGINT) AS n_days,
           CAST(list_sum(st) AS BIGINT) AS n_burst_days,
           CAST(st[1] + list_sum(list_transform(range(1, len(st)),
                i -> CASE WHEN st[i + 1] = 1 AND st[i] = 0
                     THEN 1 ELSE 0 END)) AS BIGINT) AS n_burst_segments,
           mc AS min_cost_scaled
    FROM path
    """,
    tags=("events", "burst", "hmm", "time-series"),
)
def events_burst_viterbi(spark, sf_dir):
    """BURST DETECTION by exact 2-state Viterbi decoding (the
    Kleinberg burst-model shape: a baseline Poisson rate λ₀ and a
    burst state at 1.05·λ₀, with an entry penalty — the OPTIMAL
    segmentation, where the suite's CUSUM/Page-Hinkley/EWMA detectors
    are sequential heuristics): forward pass minimizes scaled negative
    log-likelihood, backward pass decodes the argmin path; output =
    burst-day count, burst-segment count, and the exact min cost.

    INTEGER-EXACT DYNAMIC PROGRAMMING: every emission cost is
    floor(10⁶·(λ_s − n_t·ln λ_s)) — a BIGINT — so all Viterbi
    comparisons, the transition penalty, and the final min cost are
    pure integer arithmetic; the decoded path CANNOT flip on a
    floating-point tie (the discrete-decision hazard that rules out
    plain double DP cross-engine). Spark runs forward+backward as two
    F.aggregate folds over the daily-count array (the Holt-Winters
    pattern, plus a path-decode second fold); the oracle runs the
    same DP as two recursive CTEs. Verified non-vacuous: the fixture
    decodes real multi-day burst segments at every scale.

    Scale: facts collapse to the calendar-bounded daily series; the
    DP is O(|days|) on one row."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    arr = (
        daily.agg(
            F.count("*").alias("dd"),
            F.sum("n").alias("nt"),
            F.expr(
                "transform(array_sort(collect_list(struct(d, n))),"
                " p -> p.n)"
            ).alias("ns"),
        )
        .select(
            "dd", "ns", (F.col("nt") * 1.0 / F.col("dd")).alias("lam0")
        )
        .select(
            "dd",
            "ns",
            "lam0",
            F.log("lam0").alias("l0"),
            F.log(F.col("lam0") * 1.05).alias("l1"),
            (F.col("lam0") * 1.05).alias("lam1"),
        )
        .select(
            "dd",
            F.expr(
                "transform(ns, n -> CAST(floor(1000000.0D"
                " * (lam0 - n * l0)) AS BIGINT))"
            ).alias("c0"),
            F.expr(
                "transform(ns, n -> CAST(floor(1000000.0D"
                " * (lam1 - n * l1)) AS BIGINT))"
            ).alias("c1"),
        )
    )
    fwd = arr.select(
        "dd",
        F.expr(
            f"""
      aggregate(
        sequence(2, CAST(dd AS INT)),
        named_struct('v0', element_at(c0, 1),
                     'v1', element_at(c1, 1) + {_VB_PEN}L,
                     'bs', CAST(array() AS ARRAY<INT>)),
        (acc, t) -> named_struct(
          'v0', least(acc.v0, acc.v1) + element_at(c0, t),
          'v1', least(acc.v1, acc.v0 + {_VB_PEN}L) + element_at(c1, t),
          'bs', concat(acc.bs, array(
             (CASE WHEN acc.v1 < acc.v0 THEN 1 ELSE 0 END)
             + 2 * (CASE WHEN acc.v0 + {_VB_PEN}L < acc.v1
                    THEN 0 ELSE 1 END)))))"""
        ).alias("st"),
    )
    dec = fwd.select(
        "dd",
        F.expr(
            """
      aggregate(
        reverse(st.bs),
        named_struct('cur', CASE WHEN st.v1 < st.v0 THEN 1 ELSE 0 END,
                     'states',
                     array(CASE WHEN st.v1 < st.v0 THEN 1 ELSE 0 END)),
        (acc, b) -> named_struct(
          'cur', CAST(CASE WHEN acc.cur = 0 THEN b % 2
                           ELSE b div 2 END AS INT),
          'states', concat(acc.states,
                           array(CAST(CASE WHEN acc.cur = 0 THEN b % 2
                                      ELSE b div 2 END AS INT)))))"""
        ).alias("dc"),
        F.expr("least(st.v0, st.v1)").alias("mc"),
    )
    return dec.select(
        "dd", F.expr("reverse(dc.states)").alias("states"), "mc"
    ).select(
        F.col("dd").cast("long").alias("n_days"),
        F.expr("aggregate(states, 0, (a, s) -> a + s)")
        .cast("long")
        .alias("n_burst_days"),
        F.expr(
            """CAST(states[0] AS INT)
           + aggregate(sequence(1, CAST(size(states) - 1 AS INT)), 0,
               (a, i) -> a + IF(element_at(states, i + 1) = 1
                                AND element_at(states, i) = 0, 1, 0))"""
        )
        .cast("long")
        .alias("n_burst_segments"),
        F.col("mc").alias("min_cost_scaled"),
    )


# ------------------------------------------------ ACF + PACF (D-L)
_PACF_K = 10


@query(
    "analytics_acf_pacf",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY 1
    ), arrs AS (
      SELECT count(*) AS dd, sum(c) AS sc, list(c ORDER BY d) AS cs
      FROM daily
    ), ysrel AS (
      SELECT dd,
             list_transform(cs, c -> c / 100.0 - sc / (100.0 * dd)) AS ys
      FROM arrs
    ), rhos AS (
      SELECT list_transform(range(1, {_PACF_K} + 1), k ->
               CAST(list_reduce(list_transform(
                      range(CAST(k AS INT) + 1, CAST(len(ys) AS INT) + 1),
                      t -> CAST(ys[t] * ys[t - k] AS DECIMAL(38,6))),
                    (a, b) -> CAST(a + b AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(list_reduce(list_transform(ys,
                      y -> CAST(y * y AS DECIMAL(38,6))),
                    (a, b) -> CAST(a + b AS DECIMAL(38,6))) AS DOUBLE))
             AS rho
      FROM ysrel
    ), dl AS (
      SELECT 1 AS k, [rho[1]] AS phi, [rho[1]] AS pacf, rho FROM rhos
      UNION ALL
      SELECT k + 1,
             list_transform(phi, (p, j) -> p - q.kk * phi[k + 1 - j])
               || [q.kk],
             pacf || [q.kk],
             rho
      FROM (
        SELECT dl.*,
               (rho[k + 1]
                - list_reduce(list_transform(range(1, k + 1),
                    j2 -> phi[j2] * rho[k + 1 - j2]), (a, b) -> a + b))
               / (1.0 - list_reduce(list_transform(range(1, k + 1),
                    j2 -> phi[j2] * rho[j2]), (a, b) -> a + b)) AS kk
        FROM dl WHERE k < {_PACF_K}
      ) q
    ), fin AS (SELECT * FROM dl WHERE k = {_PACF_K})
    SELECT CAST(t.k AS BIGINT) AS k,
           round(rho[t.k], 6) AS acf,
           round(pacf[t.k], 6) AS pacf
    FROM fin, unnest(range(1, {_PACF_K} + 1)) t(k)
    ORDER BY 1
    """,
    tags=("analytics", "time-series", "autocorrelation", "orders"),
)
def analytics_acf_pacf(spark, sf_dir):
    """ACF + PACF to lag {_PACF_K} via the DURBIN-LEVINSON recursion
    (the Box-Jenkins model-identification table: ACF cutoff → MA
    order, PACF cutoff → AR order — the structured upgrade of
    analytics_acf1 and the input stats_ljung_box tests jointly):
    ρ_k from exact centered products (per-term decimal folds — both
    engines sum SEQUENTIALLY via aggregate()/list_reduce, never a
    pairwise list_sum), then φ_kk by the D-L update
    φ_kk = (ρ_k − Σφ_{{k−1,j}}ρ_{{k−j}})/(1 − Σφ_{{k−1,j}}ρ_j).

    The recursion runs as ONE F.aggregate fold over lag index with
    nested inner-product folds (the Holt-Winters pattern, one level
    deeper: HOFs inside HOFs) against a recursive-CTE oracle —
    bit-identical because every inner sum is the same sequential
    left fold on both engines.

    Scale: facts collapse to the calendar-bounded daily series; the
    K² recursion runs on one row."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("c")
    )
    arr = daily.agg(
        F.count("*").alias("dd"),
        F.sum("c").alias("sc"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, c))), p -> p.c)"
        ).alias("cs"),
    ).select(
        "dd",
        F.expr(
            "transform(cs, c -> c / 100.0D - sc / (100.0D * dd))"
        ).alias("ys"),
    )
    acf = arr.select(
        F.expr(
            f"""
  transform(sequence(1, {_PACF_K}), k ->
    CAST(aggregate(sequence(CAST(k AS INT) + 1, CAST(size(ys) AS INT)),
      CAST(0 AS DECIMAL(38,6)),
      (a, t) -> CAST(a + CAST(element_at(ys, t) * element_at(ys, t - k)
                              AS DECIMAL(38,6)) AS DECIMAL(38,6)))
      AS DOUBLE)
    / CAST(aggregate(ys, CAST(0 AS DECIMAL(38,6)),
        (a, y) -> CAST(a + CAST(y * y AS DECIMAL(38,6))
                       AS DECIMAL(38,6))) AS DOUBLE))"""
        ).alias("rho")
    )
    kk_expr = """(element_at(rho, k)
                - aggregate(sequence(1, k - 1), 0.0D,
                    (s, j2) -> s + element_at(acc.phi, j2)
                                 * element_at(rho, k - j2)))
               / (1.0D - aggregate(sequence(1, k - 1), 0.0D,
                    (s, j2) -> s + element_at(acc.phi, j2)
                                 * element_at(rho, j2)))"""
    dl = acf.select(
        "rho",
        F.expr(
            f"""
  aggregate(
    sequence(2, {_PACF_K}),
    named_struct('phi', array(element_at(rho, 1)),
                 'pacf', array(element_at(rho, 1))),
    (acc, k) -> named_struct(
      'phi', concat(
         transform(acc.phi, (p, j) ->
           p - ({kk_expr}) * element_at(acc.phi, k - 1 - j)),
         array({kk_expr})),
      'pacf', concat(acc.pacf, array({kk_expr}))))"""
        ).alias("dl"),
    )
    return (
        dl.select(
            F.posexplode(
                F.expr(
                    "zip_with(rho, dl.pacf,"
                    " (a, p) -> struct(a AS acf, p AS pacf))"
                )
            ).alias("k0", "v")
        )
        .select(
            (F.col("k0") + 1).cast("long").alias("k"),
            F.round(F.col("v.acf"), 6).alias("acf"),
            F.round(F.col("v.pacf"), 6).alias("pacf"),
        )
        .orderBy("k")
    )


# -------------------- Croston intermittent-demand forecast (r10 extra)
_CR_ALPHA = "0.1"  # SES smoothing constant, shared literal


@query(
    "analytics_croston",
    oracle=f"""
    WITH RECURSIVE nz AS (
      SELECT o_orderdate::DATE AS d, CAST(sum(l_quantity) AS BIGINT) AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_partkey % 97 = 0
      GROUP BY 1
    ), gaps AS (
      SELECT d, q,
             CAST(coalesce(date_diff('day', lag(d) OVER (ORDER BY d), d),
                           1) AS BIGINT) AS g
      FROM nz
    ), arrs AS (
      SELECT count(*) AS n,
             list(q ORDER BY d) AS qa,
             list(g ORDER BY d) AS ga
      FROM gaps
    ), cr AS (
      SELECT 1 AS t, CAST(qa[1] AS DOUBLE) AS z,
             CAST(ga[1] AS DOUBLE) AS p, n, qa, ga
      FROM arrs
      UNION ALL
      SELECT t + 1,
             -- CAST the BIGINT element to DOUBLE FIRST so DuckDB runs
             -- the same double*double multiply as Spark's
             -- 0.1D * element_at(qa, i) — a DECIMAL*BIGINT product
             -- (exact, one rounding) can differ by 1 ulp per step
             {_CR_ALPHA} * CAST(qa[t + 1] AS DOUBLE) + (1 - {_CR_ALPHA}) * z,
             {_CR_ALPHA} * CAST(ga[t + 1] AS DOUBLE) + (1 - {_CR_ALPHA}) * p,
             n, qa, ga
      FROM cr WHERE t + 1 <= n
    ), fin AS (SELECT * FROM cr WHERE t = n),
    cal AS (
      SELECT count(DISTINCT o_orderdate::DATE) AS days FROM orders
    )
    SELECT CAST(n AS BIGINT) AS n_demands,
           CAST(list_sum(qa) AS BIGINT) AS total_demand,
           round(1.0 - n * 1.0 / days, 6) AS intermittency,
           round(z, 6) AS z_hat,
           round(p, 6) AS p_hat,
           round(z / p, 6) AS croston_forecast,
           round((1 - {_CR_ALPHA} / 2) * z / p, 6) AS sba_forecast
    FROM fin, cal
    """,
    tags=("analytics", "forecast", "time-series", "intermittent"),
)
def analytics_croston(spark, sf_dir):
    """CROSTON'S METHOD for INTERMITTENT demand (Croston 1972, with
    the Syntetos-Boylan SBA bias correction) — the forecasting model
    for series that are mostly zeros, where SES/Holt-Winters smear
    demand into every period: the slice l_partkey % 97 = 0 is ~77%
    zero days at fixture scale. Two coupled SES recurrences run ONLY
    over the nonzero-demand events: z (demand size) and p (inter-
    arrival gap), both with alpha={_CR_ALPHA}; forecast per period =
    z/p, SBA = (1 - alpha/2) z/p.

    Cross-engine exactness (the analytics_holt_winters contract): the
    inputs are exact BIGINTs (summed quantities, day gaps), Spark runs
    the recurrence as ONE F.aggregate fold over the zipped arrays, the
    oracle replays it as a recursive CTE — same IEEE expression tree
    step for step, so the final (z, p) state is bit-identical before
    the 6dp rounding.

    Scale: the fact join collapses to the calendar-bounded nonzero
    relation (<= |days| rows at any corpus size); the fold is
    O(|nonzero days|) on one row — sequential by nature, structurally
    safe because the series is calendar-bounded."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    from pyspark.sql import Window as W

    nz = (
        li.filter(F.col("l_partkey") % 97 == 0)
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    gaps = nz.select(
        "d",
        "q",
        F.coalesce(
            F.datediff(F.col("d"), F.lag("d").over(W.orderBy("d"))),
            F.lit(1),
        )
        .cast("long")
        .alias("g"),
    )
    arrs = gaps.agg(
        F.count("*").alias("n"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, q))), x -> x.q)"
        ).alias("qa"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, g))), x -> x.g)"
        ).alias("ga"),
    )
    a = _CR_ALPHA
    fold = arrs.select(
        "n",
        "qa",
        F.expr(
            f"""aggregate(
              IF(n >= 2, sequence(2, CAST(n AS INT)), array()),
              named_struct('z', CAST(element_at(qa, 1) AS DOUBLE),
                           'p', CAST(element_at(ga, 1) AS DOUBLE)),
              (st, i) -> named_struct(
                'z', {a}D * element_at(qa, i) + (1 - {a}D) * st.z,
                'p', {a}D * element_at(ga, i) + (1 - {a}D) * st.p))"""
        ).alias("st"),
    )
    days = o.agg(
        F.countDistinct(F.col("o_orderdate").cast("date")).alias("days")
    )
    return fold.crossJoin(F.broadcast(days)).select(
        F.col("n").cast("long").alias("n_demands"),
        F.expr("aggregate(qa, 0L, (acc, x) -> acc + x)")
        .cast("long")
        .alias("total_demand"),
        F.round(1.0 - F.col("n") * 1.0 / F.col("days"), 6).alias(
            "intermittency"
        ),
        F.round(F.col("st.z"), 6).alias("z_hat"),
        F.round(F.col("st.p"), 6).alias("p_hat"),
        F.round(F.col("st.z") / F.col("st.p"), 6).alias("croston_forecast"),
        F.round(
            (1 - F.lit(float(a)) / 2) * F.col("st.z") / F.col("st.p"), 6
        ).alias("sba_forecast"),
    )


# -------------- STL-lite seasonal decomposition (r10 extra)
@query(
    "analytics_stl_decompose",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate::DATE AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT d, cents,
             sum(cents) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
             count(*) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w,
             date_diff('day', DATE '1970-01-01', d) % 7 AS dow
      FROM daily
    ), fullw AS (
      SELECT d, dow, 7 * cents AS y7, s7 AS t7, 7 * cents - s7 AS det7
      FROM seq WHERE w = 7
    ), sdow AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(det7) AS DOUBLE) / count(*) AS s7m
      FROM fullw GROUP BY dow
    ), base AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(y7) AS DOUBLE) AS sy,
             CAST(sum(t7) AS DOUBLE) AS st
      FROM fullw
    ), smean AS (
      SELECT CAST(sum(CAST(nd * s7m AS DECIMAL(38,6))) AS DOUBLE)
               / max(b.n) AS sm
      FROM sdow CROSS JOIN base b
    ), vars AS (
      SELECT
        CAST(sum(CAST((f.y7 - b.sy / b.n) * (f.y7 - b.sy / b.n)
                      AS DECIMAL(38,6))) AS DOUBLE) AS vy,
        CAST(sum(CAST((f.t7 - b.st / b.n) * (f.t7 - b.st / b.n)
                      AS DECIMAL(38,6))) AS DOUBLE) AS vt,
        CAST(sum(CAST((s.s7m - m.sm) * (s.s7m - m.sm)
                      AS DECIMAL(38,6))) AS DOUBLE) AS vs,
        CAST(sum(CAST((f.det7 - s.s7m) * (f.det7 - s.s7m)
                      AS DECIMAL(38,6))) AS DOUBLE) AS vr
      FROM fullw f JOIN sdow s ON s.dow = f.dow
      CROSS JOIN base b CROSS JOIN smean m
    )
    SELECT s.dow, s.nd AS n_days,
           round(s.s7m / 7, 4) AS seasonal_cents,
           round(v.vt / v.vy, 6) AS trend_share,
           round(v.vs / v.vy, 6) AS seasonal_share,
           round(v.vr / v.vy, 6) AS remainder_share
    FROM sdow s CROSS JOIN vars v
    ORDER BY s.dow
    """,
    tags=("analytics", "time-series", "decomposition", "orders"),
)
def analytics_stl_decompose(spark, sf_dir):
    """STL-LITE ADDITIVE DECOMPOSITION of the daily-revenue series:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-weekday mean of the detrended series, remainder =
    what's left — reporting the per-weekday seasonal effects AND the
    variance decomposition (trend/seasonal/remainder share of total
    variance), the one-look 'is this series trend-, season-, or
    noise-dominated' diagnostic that decides which forecasting family
    (holt_trend / holt_winters / croston) applies.

    Exactness: the detrended series is kept 7-SCALED so it stays an
    exact BIGINT (7y - sum7 — the window_range_frame prefix-difference
    trick applied to decomposition); weekday uses the engine-portable
    epoch-day % 7 (Spark dayofweek is 1-based Sunday, DuckDB 0-based —
    neither is used); every squared deviation is per-term
    DECIMAL(38,6)-cast before summing (the stats_variance_ratio
    convention), so summation order cannot move the shares. Weekday
    means divide exact integers by exact counts — identical IEEE
    division. Shares need not sum to 1 (components correlate — that
    correlation IS part of the diagnostic).

    Scale: facts collapse to the calendar-bounded daily relation; one
    7-row window pass + two tiny grouped aggs."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    win = W.orderBy("d").rowsBetween(-3, 3)
    seq = daily.select(
        "d",
        "cents",
        F.sum("cents").over(win).alias("s7"),
        F.count("*").over(win).alias("w"),
        (F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) % 7).alias(
            "dow"
        ),
    )
    fullw = seq.filter(F.col("w") == 7).select(
        "d",
        "dow",
        (7 * F.col("cents")).alias("y7"),
        F.col("s7").alias("t7"),
        (7 * F.col("cents") - F.col("s7")).alias("det7"),
    )
    sdow = fullw.groupBy("dow").agg(
        F.count("*").cast("long").alias("nd"),
        (F.sum("det7").cast("double") / F.count("*")).alias("s7m"),
    )
    base = fullw.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y7").cast("double").alias("sy"),
        F.sum("t7").cast("double").alias("st"),
    )
    dec6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    smean = (
        sdow.crossJoin(F.broadcast(base))
        .agg(
            (
                F.sum(dec6(F.col("nd") * F.col("s7m"))).cast("double")
                / F.max("n")
            ).alias("sm")
        )
    )
    joined = (
        fullw.join(F.broadcast(sdow), "dow")
        .crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(smean))
    )
    vars_ = joined.agg(
        F.sum(
            dec6(
                (F.col("y7") - F.col("sy") / F.col("n"))
                * (F.col("y7") - F.col("sy") / F.col("n"))
            )
        )
        .cast("double")
        .alias("vy"),
        F.sum(
            dec6(
                (F.col("t7") - F.col("st") / F.col("n"))
                * (F.col("t7") - F.col("st") / F.col("n"))
            )
        )
        .cast("double")
        .alias("vt"),
        F.sum(
            dec6(
                (F.col("s7m") - F.col("sm")) * (F.col("s7m") - F.col("sm"))
            )
        )
        .cast("double")
        .alias("vs"),
        F.sum(
            dec6(
                (F.col("det7") - F.col("s7m"))
                * (F.col("det7") - F.col("s7m"))
            )
        )
        .cast("double")
        .alias("vr"),
    )
    return (
        sdow.crossJoin(F.broadcast(vars_))
        .select(
            F.col("dow").cast("long").alias("dow"),
            F.col("nd").alias("n_days"),
            F.round(F.col("s7m") / 7, 4).alias("seasonal_cents"),
            F.round(F.col("vt") / F.col("vy"), 6).alias("trend_share"),
            F.round(F.col("vs") / F.col("vy"), 6).alias("seasonal_share"),
            F.round(F.col("vr") / F.col("vy"), 6).alias("remainder_share"),
        )
        .orderBy("dow")
    )


# ------------------- log-log price elasticity (r10 extra)
@query(
    "analytics_price_elasticity",
    oracle="""
    WITH pp AS (  -- per-part mean unit price and total demand
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE)
               / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS price,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS demand
      FROM lineitem GROUP BY 1
    ), lg AS (
      SELECT CAST(ln(price) AS DECIMAL(38,18)) AS lx,
             CAST(ln(demand) AS DECIMAL(38,18)) AS ly
      FROM pp
    ), lgd AS (
      SELECT CAST(lx AS DOUBLE) AS x, CAST(ly AS DOUBLE) AS y FROM lg
    ), m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM lgd
    )
    SELECT CAST(n AS BIGINT) AS n_parts,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
             AS elasticity,
           round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
             AS r2
    FROM m
    """,
    tags=("analytics", "economics", "regression", "lineitem"),
)
def analytics_price_elasticity(spark, sf_dir):
    """LOG-LOG PRICE ELASTICITY OF DEMAND: regress ln(total quantity)
    on ln(mean unit price) across parts — the slope IS the elasticity
    (percent demand change per percent price change), the canonical
    pricing-analytics regression. Unit price per part = exact cents
    extendedprice sum / exact quantity sum (identical division).

    ln() IS a libm call that can differ by an ulp between the JVM and
    DuckDB, so each log value is cast DECIMAL(38,18) IMMEDIATELY (the
    analytics_theil_index convention — the cast absorbs sub-ulp
    drift) then brought back to double, so both engines multiply
    bit-identical operands; every moment term (x, y, xy, x², y²) is
    per-term DECIMAL(38,12)-cast before summing, making summation
    order irrelevant too (a decimal×decimal product would overflow
    DuckDB's 38-digit cap — the double-multiply-then-cast shape is
    the overflow-safe equivalent).

    Scale: facts collapse to the part dim (one hash agg); the
    regression is one moment pass over parts."""
    li = t(spark, sf_dir, "lineitem")
    pp = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(
                F.round(F.col("l_extendedprice") * 100)
                .cast("long")
                .cast("decimal(38,0)")
            ).cast("double")
            / F.sum(F.col("l_quantity").cast("long").cast("decimal(38,0)"))
            .cast("double")
        ).alias("price"),
        F.sum(F.col("l_quantity").cast("long").cast("decimal(38,0)"))
        .cast("double")
        .alias("demand"),
    )
    lg = pp.select(
        F.log(F.col("price"))
        .cast("decimal(38,18)")
        .cast("double")
        .alias("x"),
        F.log(F.col("demand"))
        .cast("decimal(38,18)")
        .cast("double")
        .alias("y"),
    )
    dec12 = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    m = lg.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec12(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec12(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec12(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec12(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec12(F.col("y") * F.col("y"))).cast("double").alias("syy"),
    )
    sxy_c = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    sxx_c = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    syy_c = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    return m.select(
        F.col("n").cast("long").alias("n_parts"),
        F.round(sxy_c / sxx_c, 6).alias("elasticity"),
        F.round(sxy_c * sxy_c / (sxx_c * syy_c), 6).alias("r2"),
    )


# ------------------------- Kaplan-Meier product-limit (r11 extra)
@query(
    "analytics_kaplan_meier",
    oracle="""
    WITH base AS (
      SELECT greatest(date_diff('day', o.o_orderdate::DATE,
                                min(l.l_shipdate)::DATE), 0) // 7
               AS t,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ev
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderstatus
    ), agg AS (
      -- week buckets TRUNCATED at 52: the grid is <= 53 rows BY
      -- CONSTRUCTION at any corpus/calendar size; durations beyond
      -- the truncation stay in the at-risk totals (correct KM on
      -- the restricted horizon)
      SELECT CAST(least(t, 52) AS BIGINT) AS t,
             CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) - sum(ev) AS BIGINT) AS c
      FROM base GROUP BY 1
    ), arrs AS (
      SELECT list(t ORDER BY t) AS ts, list(d ORDER BY t) AS ds,
             list(c ORDER BY t) AS cs,
             CAST(count(*) AS INT) AS m,
             (SELECT count(*) FROM base) AS total
      FROM agg
    ), km AS (
      SELECT unnest(range(1, m + 1)) AS i, ts, ds, cs, total FROM arrs
    )
    SELECT CAST(ts[i] AS BIGINT) AS t,
           CAST(total - list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, i), j -> ds[j] + cs[j])),
                  (a, x) -> a + x) AS BIGINT) AS n_risk,
           CAST(ds[i] AS BIGINT) AS d_events,
           round(list_reduce(
             list_prepend(CAST(1.0 AS DOUBLE),
               list_transform(range(1, i + 1),
                 j -> 1.0 - CAST(ds[j] AS DOUBLE)
                      / (total - list_reduce(
                           list_prepend(CAST(0 AS BIGINT),
                             list_transform(range(1, j),
                                            q -> ds[q] + cs[q])),
                           (a, x) -> a + x)))),
             (acc, f) -> acc * f), 6) AS km_survival
    FROM km
    WHERE ds[i] > 0
    ORDER BY t
    """,
    tags=("analytics", "survival", "time-series"),
)
def analytics_kaplan_meier(spark, sf_dir):
    """KAPLAN-MEIER PRODUCT-LIMIT survival estimator (Kaplan & Meier
    1958, public) with RIGHT CENSORING — the nonparametric
    time-to-event curve behind every retention/churn analysis:
    duration = WEEKS from order placement to first shipment
    (clamped at 0 — the synthetic fixture contains ship-before-order
    rows, and clamping also removes the floor-vs-truncate integer-
    division ambiguity that negative durations would expose),
    truncated at week 52 (the grid is <= 53 rows BY CONSTRUCTION —
    r11 lesson: day-granularity durations were 3593 distinct values
    at sf0.01, exploding the O(m^2) folds); an order with status 'F'
    is an observed event, anything else is censored at its duration. S(t) = prod_{t_i <= t} (1 - d_i / n_i) over
    event times, n_i = at-risk count (duration >= t_i). The additive
    cousin (Nelson-Aalen cumulative hazard) is already registered;
    KM is the multiplicative estimator a survival readout quotes.

    Exactness (the ACF/Durbin-Levinson nested-fold contract): the
    truncated week grid is constant-bounded, so
    both engines materialize the SAME sorted (t, d, c) arrays and run
    SEQUENTIAL left folds — Spark aggregate() over array slices,
    DuckDB list_reduce with a prepended init — multiplying identical
    IEEE factors (1 - d/n from exact BIGINTs) in identical order;
    at-risk counts are pure integer prefix sums. 6dp round at the end.

    Scale: facts collapse to per-order rows (one hash agg), then to
    the bounded duration grid (second hash agg); the O(m^2) prefix
    folds run on m <= 53 — constant, corpus-independent."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderstatus")
        .agg(F.min("l_shipdate").alias("ship"))
        .select(
            F.least(
                F.expr(
                    "greatest(datediff(CAST(ship AS DATE),"
                    " CAST(o_orderdate AS DATE)), 0) div 7"
                ),
                F.lit(52),
            )
            .cast("long")
            .alias("t"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(0)
            .alias("ev"),
        )
    )
    agg = base.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        (F.count("*") - F.sum("ev")).cast("long").alias("c"),
    )
    arrs = agg.agg(
        F.expr("array_sort(collect_list(struct(t, d, c)))").alias("a"),
        F.count("*").cast("int").alias("m"),
        F.sum(F.col("d") + F.col("c")).cast("long").alias("total"),
    )
    km = arrs.select(
        "a",
        "total",
        F.explode(F.expr("sequence(1, m)")).alias("i"),
    )
    # at-risk(i) = total - sum_{j<i}(d_j + c_j); survival(i) =
    # fold of (1 - d_j / n_j) over j = 1..i — both as sequential
    # aggregate() folds over the same sorted array both engines built
    nrisk_j = (
        "(total - aggregate(slice(a, 1, CAST(j - 1 AS INT)), 0L,"
        " (s, e) -> s + e.d + e.c))"
    )
    return km.select(
        F.expr("a[i - 1].t").cast("long").alias("t"),
        F.expr(
            "total - aggregate(slice(a, 1, CAST(i - 1 AS INT)), 0L,"
            " (s, e) -> s + e.d + e.c)"
        )
        .cast("long")
        .alias("n_risk"),
        F.expr("a[i - 1].d").cast("long").alias("d_events"),
        F.round(
            F.expr(
                f"""aggregate(sequence(1, CAST(i AS INT)), 1.0D,
                  (acc, j) -> acc * (1.0D - CAST(a[j - 1].d AS DOUBLE)
                                     / {nrisk_j}))"""
            ),
            6,
        ).alias("km_survival"),
    ).filter(F.expr("a[i - 1].d > 0")).orderBy("t")


# --------------------- Newey-West HAC standard error (r11 extra)
@query(
    "analytics_newey_west",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
               AS x,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx
      FROM d
    ), fit AS (
      SELECT n, sx / n AS mx, sy / n AS my,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
             sxx - sx * sx / n AS sxx_c
      FROM m
    ), r AS (
      SELECT x, (x - mx) * ((y - my) - b * (x - mx)) AS u,
             n, b, sxx_c
      FROM d CROSS JOIN fit
    ), lagged AS (
      SELECT u, lag(u) OVER (ORDER BY x) AS ul, n, b, sxx_c FROM r
    ), s AS (
      SELECT max(n) AS n, max(b) AS b, max(sxx_c) AS sxx_c,
             CAST(sum(CAST(u * u AS DECIMAL(38,6))) AS DOUBLE) AS s0,
             CAST(sum(CAST(u * ul AS DECIMAL(38,6))) AS DOUBLE) AS s1
      FROM lagged
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(b, 6) AS slope_cents_per_day,
           round(sqrt(s0 / (sxx_c * sxx_c)), 6) AS se_white,
           round(sqrt((s0 + 2 * 0.5 * s1) / (sxx_c * sxx_c)), 6)
             AS se_hac_lag1,
           round(sqrt((s0 + 2 * 0.5 * s1) / (sxx_c * sxx_c))
                 / sqrt(s0 / (sxx_c * sxx_c)), 6) AS hac_inflation
    FROM s
    """,
    tags=("stats", "regression", "time-series"),
)
def analytics_newey_west(spark, sf_dir):
    """NEWEY-WEST HAC STANDARD ERROR (Newey & West 1987, public) for
    the daily-revenue trend slope, lag-1 Bartlett kernel (weight
    1 - 1/(L+1) = 0.5): autocorrelated daily residuals make the
    classical OLS standard error a lie — the HAC estimator corrects
    it, and the hac_inflation column is the factor by which naive
    trend inference was overconfident. Variance of b =
    (S0 + 2*0.5*S1) / Sxx_c^2 with S_l = sum_t u_t u_{t-l},
    u_t = x_c,t * e_t (the score series).

    Exactness: integer inputs (epoch day, revenue cents); the OLS
    moments sum DECIMAL(38,0) (exact); b / means are identical IEEE
    doubles, hence each u_t is bit-identical cross-engine; the score
    products u_t*u_t and u_t*u_{t-1} are per-term DECIMAL(38,6)-cast
    before summing so Spark partial-agg order cannot move S0/S1 (the
    stats_variance_ratio convention). 6dp rounds at the end.

    Scale: facts collapse to the calendar-bounded daily relation; the
    lag window orders <= |days| rows; two moment aggs end it."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    d = o.groupBy(
        (
            (
                F.unix_timestamp(F.col("o_orderdate").cast("date"))
                / 86400
            ).cast("long")
        ).alias("x")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("y")
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec0(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec0(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec0(F.col("x")) * F.col("y"))
        .cast("double")
        .alias("sxy"),
        F.sum(dec0(F.col("x")) * F.col("x"))
        .cast("double")
        .alias("sxx"),
    )
    fit = m.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("b"),
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias(
            "sxx_c"
        ),
    )
    r = d.crossJoin(F.broadcast(fit)).select(
        "x",
        (
            (F.col("x") - F.col("mx"))
            * (
                (F.col("y") - F.col("my"))
                - F.col("b") * (F.col("x") - F.col("mx"))
            )
        ).alias("u"),
        "n",
        "b",
        "sxx_c",
    )
    # lag over the calendar-bounded daily relation (<= |days| rows)
    lagged = r.select(
        "u",
        F.lag("u").over(W.orderBy("x")).alias("ul"),
        "n",
        "b",
        "sxx_c",
    )
    dec6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    s = lagged.agg(
        F.max("n").alias("n"),
        F.max("b").alias("b"),
        F.max("sxx_c").alias("sxx_c"),
        F.sum(dec6(F.col("u") * F.col("u"))).cast("double").alias("s0"),
        F.sum(dec6(F.col("u") * F.col("ul")))
        .cast("double")
        .alias("s1"),
    )
    var_w = F.col("s0") / (F.col("sxx_c") * F.col("sxx_c"))
    var_h = (F.col("s0") + 2 * 0.5 * F.col("s1")) / (
        F.col("sxx_c") * F.col("sxx_c")
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round("b", 6).alias("slope_cents_per_day"),
        F.round(F.sqrt(var_w), 6).alias("se_white"),
        F.round(F.sqrt(var_h), 6).alias("se_hac_lag1"),
        F.round(F.sqrt(var_h) / F.sqrt(var_w), 6).alias(
            "hac_inflation"
        ),
    )


# ------------------ rolling-origin forecast backtest (r11 extra)
_BT_HORIZON = 56  # evaluated days (the rolling-origin window)


@query(
    "analytics_rolling_origin_backtest",
    oracle=f"""
    WITH d AS (
      SELECT CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
               AS x,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT x, y,
             lag(y, 1) OVER (ORDER BY x) AS naive,
             lag(y, 7) OVER (ORDER BY x) AS snaive,
             max(x) OVER () AS mx
      FROM d
    ), ev AS (
      SELECT y, naive, snaive FROM lagged
      WHERE x > mx - {_BT_HORIZON} AND snaive IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_eval,
           round(CAST(sum(CAST(abs(y - naive) AS DECIMAL(38,0)))
                      AS DOUBLE) / count(*) / 100.0, 6) AS mae_naive,
           round(CAST(sum(CAST(abs(y - snaive) AS DECIMAL(38,0)))
                      AS DOUBLE) / count(*) / 100.0, 6)
             AS mae_seasonal_naive,
           round(sqrt(CAST(sum(CAST((y - snaive) * (y - snaive)
                                    AS DECIMAL(38,0))) AS DOUBLE)
                      / count(*)) / 100.0, 6) AS rmse_seasonal_naive,
           round(1.0 - CAST(sum(CAST(abs(y - snaive) AS DECIMAL(38,0)))
                            AS DOUBLE)
                     / CAST(sum(CAST(abs(y - naive) AS DECIMAL(38,0)))
                            AS DOUBLE), 6) AS skill_vs_naive
    FROM ev
    """,
    tags=("analytics", "forecast", "time-series", "evaluation"),
)
def analytics_rolling_origin_backtest(spark, sf_dir):
    """ROLLING-ORIGIN FORECAST BACKTEST (the time-series
    cross-validation protocol, Hyndman's evaluation canon, public):
    every day in the final {_BT_HORIZON}-day window is a fresh
    origin; the 1-step seasonal-naive forecaster (y-hat_t = y_(t-7))
    is scored against the naive baseline (y-hat_t = y_(t-1)) with
    MAE / RMSE and the skill score 1 - MAE_model/MAE_baseline — the
    go/no-go table every forecasting deployment publishes before
    replacing the incumbent. (The trainable forecasters — SES,
    Holt-Winters, Croston — are registered separately; this is the
    EVALUATION harness around any of them, on the cheapest pair.)

    Exactness: daily cents are exact BIGINTs; the lag windows run
    over the calendar-bounded daily relation; absolute/squared errors
    are exact integers summed in DECIMAL(38,0); the final divisions
    and sqrt act on identical doubles, reported in dollars, 6dp.

    Scale: one hash agg collapses facts to days; two lag windows and
    one aggregate end it — corpus size only affects the first agg."""
    o = t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    d = o.groupBy(
        (
            (
                F.unix_timestamp(F.col("o_orderdate").cast("date"))
                / 86400
            ).cast("long")
        ).alias("x")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("y")
    )
    w = W.orderBy("x")
    lagged = d.select(
        "x",
        "y",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 7).over(w).alias("snaive"),
        # max over the SAME bounded ordered window (full frame) — no
        # separate aggregate branch needed
        F.max("x")
        .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("mx"),
    )
    ev = lagged.filter(
        (F.col("x") > F.col("mx") - _BT_HORIZON)
        & F.col("snaive").isNotNull()
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mae_n = (
        F.sum(dec0(F.abs(F.col("y") - F.col("naive"))))
        .cast("double")
    )
    mae_s = (
        F.sum(dec0(F.abs(F.col("y") - F.col("snaive"))))
        .cast("double")
    )
    return ev.agg(
        F.count("*").cast("long").alias("n_eval"),
        F.round(mae_n / F.count("*") / 100.0, 6).alias("mae_naive"),
        F.round(mae_s / F.count("*") / 100.0, 6).alias(
            "mae_seasonal_naive"
        ),
        F.round(
            F.sqrt(
                F.sum(
                    dec0(
                        (F.col("y") - F.col("snaive"))
                        * (F.col("y") - F.col("snaive"))
                    )
                ).cast("double")
                / F.count("*")
            )
            / 100.0,
            6,
        ).alias("rmse_seasonal_naive"),
        F.round(1.0 - mae_s / mae_n, 6).alias("skill_vs_naive"),
    )


# ------------- MATCH_RECOGNIZE-style sequence patterns (r11 extra)
_MR_PATTERN = "v+c+p"  # view+ click+ purchase — the conversion motif


@query(
    "events_match_recognize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(left(event_type, 1), '' ORDER BY ts) AS s
      FROM events GROUP BY user_id
    ), hits AS (
      SELECT user_id, length(s) AS seq_len,
             len(regexp_extract_all(s, '{_MR_PATTERN}')) AS n_matches
      FROM seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_matches) AS BIGINT) AS total_matches,
           CAST(count(*) FILTER (n_matches > 0) AS BIGINT)
             AS users_with_match,
           round(CAST(sum(n_matches) AS DOUBLE) / count(*), 6)
             AS matches_per_user,
           CAST(max(n_matches) AS BIGINT) AS max_matches
    FROM hits
    """,
    tags=("events", "sequence", "funnel", "analytics"),
)
def events_match_recognize(spark, sf_dir):
    """MATCH_RECOGNIZE-style EVENT-SEQUENCE PATTERN COUNTING (the SQL
    standard's row-pattern matching, emulated — Spark has no
    MATCH_RECOGNIZE): each user's event history collapses to an
    ordered initial-letter string (signup/view/click/purchase/error →
    s/v/c/p/e) and the conversion motif ``{_MR_PATTERN}`` (one-or-more
    views, then clicks, then a purchase) is counted as LEFTMOST
    NON-OVERLAPPING regex matches — exactly MATCH_RECOGNIZE's
    AFTER MATCH SKIP PAST LAST ROW semantics, because both engines'
    regex engines scan leftmost-first and resume past each match.

    Exactness: per-user timestamps are unique (pinned fixture
    property), so the ordered string is deterministic; both engines
    run the same greedy regex on the same string; all outputs are
    exact integers except the 6dp mean.

    Scale: ONE hash shuffle on user_id; each user's history collapses
    to a string inside its group (bounded by per-user event count —
    the sessionize/top-paths regime); the regex runs once per user,
    JVM-side. No joins, no explode, no Python."""
    e = t(spark, sf_dir, "events")
    seq = e.groupBy("user_id").agg(
        F.expr(
            "concat_ws('', transform("
            "array_sort(collect_list(struct(ts, event_type))),"
            " x -> substring(x.event_type, 1, 1)))"
        ).alias("s")
    )
    hits = seq.select(
        F.size(
            F.expr(f"regexp_extract_all(s, '{_MR_PATTERN}', 0)")
        ).alias("n_matches")
    )
    return hits.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_matches").cast("long").alias("total_matches"),
        F.sum(F.when(F.col("n_matches") > 0, 1).otherwise(0))
        .cast("long")
        .alias("users_with_match"),
        F.round(
            F.sum("n_matches").cast("double") / F.count("*"), 6
        ).alias("matches_per_user"),
        F.max("n_matches").cast("long").alias("max_matches"),
    )


# ---------------------- geometric adstock carryover (r11 extra)
_AD_LAMBDA = "0.7"  # daily carryover decay, shared literal


@query(
    "analytics_adstock_carryover",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
               AS x,
             CAST(count(*) AS BIGINT) AS imp,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), arrs AS (
      SELECT count(*) AS m,
             list(imp ORDER BY x) AS xs,
             list(rev ORDER BY x) AS ys
      FROM d
    ), ad AS (
      SELECT 1 AS i, CAST(xs[1] AS DOUBLE) AS a, m, xs, ys FROM arrs
      UNION ALL
      SELECT i + 1,
             CAST(xs[i + 1] AS DOUBLE) + {_AD_LAMBDA} * a,
             m, xs, ys
      FROM ad WHERE i + 1 <= m
    ), pairs AS (  -- adstock_t vs NEXT-day revenue
      SELECT a AS u, CAST(ys[i + 1] AS DOUBLE) AS v FROM ad WHERE i < m
    ), mm AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(u AS DECIMAL(38,9))) AS DOUBLE) AS su,
             CAST(sum(CAST(v AS DECIMAL(38,9))) AS DOUBLE) AS sv,
             CAST(sum(CAST(u * v AS DECIMAL(38,9))) AS DOUBLE) AS suv,
             CAST(sum(CAST(u * u AS DECIMAL(38,9))) AS DOUBLE) AS suu,
             CAST(sum(CAST(v * v AS DECIMAL(38,9))) AS DOUBLE) AS svv
      FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round((SELECT a FROM ad WHERE i = m), 6) AS final_adstock,
           round((suv - su * sv / n)
                 / (sqrt(suu - su * su / n) * sqrt(svv - sv * sv / n)),
                 6) AS corr_adstock_nextday_rev
    FROM mm
    """,
    tags=("analytics", "marketing", "time-series"),
)
def analytics_adstock_carryover(spark, sf_dir):
    """GEOMETRIC ADSTOCK carryover (the marketing-mix-model transform,
    Broadbent's adstock, public): adstock_t = imp_t + {_AD_LAMBDA} *
    adstock_(t-1) over the daily order-count series — exposure decays
    but accumulates — then the Pearson correlation of the adstocked
    series with NEXT-day revenue, the basic carryover-effect readout
    an MMM starts from.

    Exactness (the Croston/Holt-Winters fold contract): exact BIGINT
    daily inputs; Spark runs the recurrence as ONE F.aggregate fold
    with an array accumulator over the sorted array, the oracle
    replays it as a recursive CTE — identical IEEE steps, so every
    adstock value is bit-identical; the correlation moments are
    per-term DECIMAL(38,9)-cast (adstock <= imp/(1-lambda), so
    products stay well inside the cap). 6dp at the end.

    Scale: facts collapse to the calendar-bounded daily relation; the
    fold is O(|days|) on one row; moments are one agg over |days|-1
    exploded pairs."""
    o = t(spark, sf_dir, "orders")
    d = o.groupBy(
        (
            (
                F.unix_timestamp(F.col("o_orderdate").cast("date"))
                / 86400
            ).cast("long")
        ).alias("x")
    ).agg(
        F.count("*").cast("long").alias("imp"),
        F.sum(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("rev"),
    )
    arrs = d.agg(
        F.count("*").cast("int").alias("m"),
        F.expr(
            "transform(array_sort(collect_list(struct(x, imp))),"
            " e -> e.imp)"
        ).alias("xs"),
        F.expr(
            "transform(array_sort(collect_list(struct(x, rev))),"
            " e -> e.rev)"
        ).alias("ys"),
    )
    lam = _AD_LAMBDA
    ad = arrs.select(
        "m",
        "ys",
        F.expr(
            f"""aggregate(slice(xs, 2, m - 1),
              array(CAST(element_at(xs, 1) AS DOUBLE)),
              (acc, e) -> concat(acc,
                array(CAST(e AS DOUBLE)
                      + {lam}D * element_at(acc, -1))))"""
        ).alias("a"),
    )
    pairs = ad.select(
        F.explode(
            F.expr(
                """transform(sequence(1, m - 1), i ->
                     struct(element_at(a, i) AS u,
                            CAST(element_at(ys, i + 1) AS DOUBLE)
                              AS v))"""
            )
        ).alias("p"),
        F.expr("element_at(a, -1)").alias("fin"),
    ).select(F.col("p.u").alias("u"), F.col("p.v").alias("v"), "fin")
    dec9 = lambda c: c.cast("decimal(38,9)")  # noqa: E731
    mm = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.max("fin").alias("fin"),
        F.sum(dec9(F.col("u"))).cast("double").alias("su"),
        F.sum(dec9(F.col("v"))).cast("double").alias("sv"),
        F.sum(dec9(F.col("u") * F.col("v"))).cast("double").alias("suv"),
        F.sum(dec9(F.col("u") * F.col("u"))).cast("double").alias("suu"),
        F.sum(dec9(F.col("v") * F.col("v"))).cast("double").alias("svv"),
    )
    n = F.col("n")
    return mm.select(
        n.cast("long").alias("n_days"),
        F.round("fin", 6).alias("final_adstock"),
        F.round(
            (F.col("suv") - F.col("su") * F.col("sv") / n)
            / (
                F.sqrt(F.col("suu") - F.col("su") * F.col("su") / n)
                * F.sqrt(F.col("svv") - F.col("sv") * F.col("sv") / n)
            ),
            6,
        ).alias("corr_adstock_nextday_rev"),
    )


# ------------------- Shapley channel attribution (r11 extra)


def _shap_sql(i: str, j: str, k: str) -> str:
    """3-player Shapley value for channel ``i`` from the subset-rate
    columns r_, r_c.., named r_<sorted subset letters> — shared
    VERBATIM by both engines."""
    s = lambda *cs: "r_" + "".join(sorted(cs))  # noqa: E731
    return (
        f"((1.0 / 3) * ({s(i)} - r_) "
        f"+ (1.0 / 6) * ({s(i, j)} - {s(j)}) "
        f"+ (1.0 / 6) * ({s(i, k)} - {s(k)}) "
        f"+ (1.0 / 3) * ({s(i, j, k)} - {s(j, k)}))"
    )


@query(
    "analytics_shapley_attribution",
    oracle=f"""
    WITH firstp AS (
      SELECT user_id, min(ts) AS pts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ), exposure AS (
      SELECT e.user_id,
             CASE WHEN f.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv,
             string_agg(DISTINCT left(e.event_type, 1), ''
                        ORDER BY left(e.event_type, 1)) AS sub
      FROM events e
      LEFT JOIN firstp f ON f.user_id = e.user_id
      WHERE e.event_type IN ('click', 'signup', 'view')
        AND (f.user_id IS NULL OR e.ts < f.pts)
      GROUP BY e.user_id, CASE WHEN f.user_id IS NOT NULL
                               THEN 1 ELSE 0 END
    ), rates AS (
      SELECT sub, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS DOUBLE) / count(*) AS r
      FROM exposure GROUP BY sub
    ), wide AS (
      SELECT coalesce(max(CASE WHEN sub = '' THEN r END), 0.0) AS r_,
             coalesce(max(CASE WHEN sub = 'c' THEN r END), 0.0) AS r_c,
             coalesce(max(CASE WHEN sub = 's' THEN r END), 0.0) AS r_s,
             coalesce(max(CASE WHEN sub = 'v' THEN r END), 0.0) AS r_v,
             coalesce(max(CASE WHEN sub = 'cs' THEN r END), 0.0)
               AS r_cs,
             coalesce(max(CASE WHEN sub = 'cv' THEN r END), 0.0)
               AS r_cv,
             coalesce(max(CASE WHEN sub = 'sv' THEN r END), 0.0)
               AS r_sv,
             coalesce(max(CASE WHEN sub = 'csv' THEN r END), 0.0)
               AS r_csv
      FROM rates
    )
    SELECT channel, round(shapley, 6) AS shapley
    FROM (
      SELECT 'click' AS channel, {_shap_sql('c', 's', 'v')} AS shapley
        FROM wide
      UNION ALL
      SELECT 'signup', {_shap_sql('s', 'c', 'v')} FROM wide
      UNION ALL
      SELECT 'view', {_shap_sql('v', 'c', 's')} FROM wide
    ) ORDER BY channel
    """,
    tags=("analytics", "attribution", "events", "marketing"),
)
def analytics_shapley_attribution(spark, sf_dir):
    """SHAPLEY-VALUE CHANNEL ATTRIBUTION (Shapley 1953; the
    data-driven attribution model, public): the characteristic
    function v(S) is the CONVERSION RATE of users whose pre-purchase
    exposure set is exactly S ⊆ {{click, signup, view}}; each
    channel's Shapley value averages its marginal contribution over
    all orderings — the fairness-axiom alternative to last-touch
    (analytics_multitouch_attribution's rule-based models). 3-player
    closed form with weights 1/3, 1/6 as shared expressions.

    Exactness: exposure sets are exact (events strictly before the
    user's first purchase); subset rates divide exact BIGINTs; the
    Shapley combination is one shared expression tree evaluated on
    the 8-subset wide row — identical IEEE on both engines; 6dp.

    Scale: one hash shuffle on user_id builds exposure sets
    (per-user state = 3 booleans); rates collapse to <= 8 rows;
    everything after is constant-size. The 2^k subset grid caps k —
    the documented regime is few marketing channels (k <= ~10), not
    arbitrary sets."""
    e = t(spark, sf_dir, "events")
    firstp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    exposure = (
        e.filter(F.col("event_type").isin("click", "signup", "view"))
        .join(firstp, "user_id", "left")
        .filter(F.col("pts").isNull() | (F.col("ts") < F.col("pts")))
        .groupBy(
            "user_id",
            F.when(F.col("pts").isNotNull(), 1).otherwise(0).alias(
                "conv"
            ),
        )
        .agg(
            F.expr(
                "concat_ws('', array_sort(collect_set("
                "substring(event_type, 1, 1))))"
            ).alias("sub")
        )
    )
    rates = exposure.groupBy("sub").agg(
        (F.sum("conv").cast("double") / F.count("*")).alias("r")
    )
    wide = rates.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("sub") == sub, F.col("r"))),
                F.lit(0.0),
            ).alias(f"r_{sub}")
            for sub in ("", "c", "s", "v", "cs", "cv", "sv", "csv")
        ]
    )
    rows = None
    for ch, args in (
        ("click", ("c", "s", "v")),
        ("signup", ("s", "c", "v")),
        ("view", ("v", "c", "s")),
    ):
        one = wide.select(
            F.lit(ch).alias("channel"),
            F.round(F.expr(_shap_sql(*args)), 6).alias("shapley"),
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("channel")


# -------------- matched-pairs promo uplift (asof-on-value) (r11 extra)
@query(
    "analytics_uplift_matched_pairs",
    oracle="""
    WITH tr AS (  -- "treated": discounted line items
      SELECT l_partkey % 40 AS bucket,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(l_quantity AS BIGINT) AS qty,
             l_orderkey * 10 + l_linenumber AS rid
      FROM lineitem WHERE l_discount >= 0.05
    ), co AS (   -- control pool: undiscounted, ONE row per
                 -- (bucket, price) with min-qty tiebreak so the
                 -- at-price match is deterministic in both engines
      SELECT l_partkey % 40 AS bucket,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             CAST(min(l_quantity) AS BIGINT) AS qty
      FROM lineitem WHERE l_discount = 0
      GROUP BY 1, 2
    ), m AS (    -- nearest control at-or-below the treated price
      SELECT tr.bucket, tr.qty AS t_qty, co.qty AS c_qty,
             tr.price - co.price AS gap
      FROM tr ASOF LEFT JOIN co
        ON tr.bucket = co.bucket AND co.price <= tr.price
    )
    SELECT CAST(count(*) AS BIGINT) AS n_treated,
           CAST(count(*) FILTER (c_qty IS NOT NULL) AS BIGINT)
             AS n_matched,
           round(CAST(sum(CAST(t_qty - c_qty AS DECIMAL(38,0)))
                      FILTER (c_qty IS NOT NULL) AS DOUBLE)
                 / count(*) FILTER (c_qty IS NOT NULL), 6)
             AS att_qty_uplift,
           round(CAST(sum(CAST(gap AS DECIMAL(38,0)))
                      FILTER (c_qty IS NOT NULL) AS DOUBLE)
                 / count(*) FILTER (c_qty IS NOT NULL) / 100.0, 6)
             AS avg_match_gap_dollars
    FROM m
    """,
    tags=("analytics", "causal", "matching", "joins"),
)
def analytics_uplift_matched_pairs(spark, sf_dir):
    """MATCHED-PAIRS UPLIFT (nearest-neighbor matching on a
    continuous covariate — the observational-causal ATT estimator,
    Rubin matching, public): every DISCOUNTED line item (treated) is
    matched to the nearest UNDISCOUNTED item (control) in its part
    bucket with price at-or-below its own, and the average treated-
    minus-control quantity gap estimates the discount's uplift on
    quantity, price-confounding removed by the match.

    The matching is an AS-OF JOIN ON THE VALUE AXIS — the same
    union-tag per-group ordered window as join_asof_tolerance, but
    ordered by PRICE instead of time (one algorithm, two axes); ties
    on price resolve to the control row (tag order), matching
    DuckDB's native ASOF `<=` semantics. A treated item cheaper than
    every control stays unmatched (counted, excluded from the ATT —
    the standard common-support rule). Controls collapse to ONE row
    per (bucket, price) with a min-quantity tiebreak BEFORE matching,
    so equal-price control ties cannot make the match
    engine-dependent.

    Exactness: prices/quantities exact integers; per-match gaps sum
    in DECIMAL(38,0); the two means divide exact integers. 6dp.

    Scale: one hash shuffle on (bucket), one ordered window per
    bucket carrying a single (price, qty) of state — never a range
    join, never an explode; the oracle's native ASOF proves the
    semantics."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % 40).alias("bucket"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_discount").alias("disc"),
    )
    treated = base.filter(F.col("disc") >= 0.05).select(
        "bucket",
        "price",
        "qty",
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("c_qty_raw"),
        F.lit(None).cast("long").alias("c_price_raw"),
    )
    # one control row per (bucket, price), min-qty tiebreak — makes
    # the at-price match deterministic (several raw controls can
    # share a price with different quantities)
    controls = (
        base.filter(F.col("disc") == 0)
        .groupBy("bucket", "price")
        .agg(F.min("qty").alias("qty"))
        .select(
            "bucket",
            "price",
            "qty",
            F.lit(0).alias("tag"),  # controls sort BEFORE treated ties
            F.col("qty").alias("c_qty_raw"),
            F.col("price").alias("c_price_raw"),
        )
    )
    tagged = treated.unionByName(controls)
    w = (
        W.partitionBy("bucket")
        .orderBy(F.col("price"), F.col("tag"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    m = (
        tagged.select(
            "bucket",
            "price",
            "qty",
            "tag",
            F.last("c_qty_raw", ignorenulls=True).over(w).alias("c_qty"),
            F.last("c_price_raw", ignorenulls=True)
            .over(w)
            .alias("c_price"),
        )
        .filter(F.col("tag") == 1)
    )
    matched = F.col("c_qty").isNotNull()
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return m.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.sum(F.when(matched, 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.round(
            F.sum(F.when(matched, dec0(F.col("qty") - F.col("c_qty"))))
            .cast("double")
            / F.sum(F.when(matched, 1)),
            6,
        ).alias("att_qty_uplift"),
        F.round(
            F.sum(
                F.when(matched, dec0(F.col("price") - F.col("c_price")))
            ).cast("double")
            / F.sum(F.when(matched, 1))
            / 100.0,
            6,
        ).alias("avg_match_gap_dollars"),
    )


# --------------- sample-ratio-mismatch guardrail (r12)
@query(
    "analytics_srm_check",
    oracle="""
    WITH arms AS (
      SELECT user_id % 2 AS arm FROM (
        SELECT DISTINCT user_id FROM events
      )
    ), cnt AS (
      SELECT CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b
      FROM arms
    )
    SELECT n_a, n_b,
           round(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b)
                 / (n_a + n_b), 6) AS chi2,
           (CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b)
            > 3.841458820694124) AS srm_flag
    FROM cnt
    """,
    tags=("analytics", "experimentation", "quality", "events"),
)
def analytics_srm_check(spark, sf_dir):
    """SAMPLE-RATIO-MISMATCH GUARDRAIL — the first check every
    experimentation platform runs before reading a single metric: are
    the arm sizes consistent with the declared 50/50 split? Chi-square
    with expected (n_a+n_b)/2 per arm simplifies EXACTLY to
    (n_a-n_b)^2/(n_a+n_b) — one integer-difference square over the
    total, compared against the chi2(1) 5% critical value (the shared
    repr-exact literal 3.841458820694124, the r10 convention). An SRM
    flag means the assignment or logging pipeline is broken and every
    downstream test on this experiment is void.

    Exactness: integers until the single final division; both engines
    evaluate the identical IEEE expression.

    Scale: distinct-users is one hash aggregate; everything after is
    a 1-row fold."""
    e = t(spark, sf_dir, "events").select("user_id").distinct()
    cnt = e.select((F.col("user_id") % 2).alias("arm")).agg(
        F.count_if(F.col("arm") == 0).cast("long").alias("n_a"),
        F.count_if(F.col("arm") == 1).cast("long").alias("n_b"),
    )
    diff = (F.col("n_a") - F.col("n_b")).cast("double")
    chi2 = diff * (F.col("n_a") - F.col("n_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    return cnt.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841458820694124).alias("srm_flag"),
    )


# --------------- frequent brand triples (r12)
_FT_MINSUP = 10  # non-vacuous at every test scale (154 rows sf0.001)


@query(
    "basket_frequent_triples",
    oracle=f"""
    WITH ib AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), triples AS (
      SELECT i1.b AS brand1, i2.b AS brand2, i3.b AS brand3,
             CAST(count(*) AS BIGINT) AS support
      FROM ib i1
      JOIN ib i2 ON i1.o = i2.o AND i1.b < i2.b
      JOIN ib i3 ON i2.o = i3.o AND i2.b < i3.b
      GROUP BY 1, 2, 3 HAVING count(*) >= {_FT_MINSUP}
    ), nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_baskets
              FROM ib)
    SELECT brand1, brand2, brand3, support,
           round(CAST(support AS DOUBLE) / n_baskets, 6)
             AS support_frac
    FROM triples CROSS JOIN nb
    ORDER BY support DESC, brand1, brand2, brand3 LIMIT 10
    """,
    tags=("analytics", "basket", "itemsets", "lineitem"),
)
def basket_frequent_triples(spark, sf_dir):
    """FREQUENT 3-ITEMSETS at brand granularity — the level-3 Apriori
    step behind market-basket mining (Agrawal-Srikant 1994, public),
    the big sibling of basket_cooccurrence's pairs: distinct
    (order, brand) pairs, two co-keyed self-joins with a strict
    ordering (each basket emits each triple exactly once), support
    count with a min-support gate, top-10 by support.

    Exactness: all integers until one final support fraction.

    Scale: the Apriori structure is what survives 100 TB — items per
    basket are bounded (order lines), so per-basket combinations are
    bounded; both self-joins are co-partitioned on the basket key
    (one shuffle each, no broadcast of the corpus); the item
    dimension (part -> brand) is a broadcast. The min-support gate is
    applied in the aggregate, not driver-side."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # lazy localCheckpoint (r12 resume, guide §1.2): ib feeds all three
    # self-join legs and the basket count — without the barrier the
    # join + distinct re-expanded into all four consumers (16 parquet
    # scans in one plan); the self-joins stay co-partitioned on o (the
    # docstring's scale design), so no strategy depends on the stats
    # the barrier drops
    ib = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .transform(barrier)
    )
    i1, i2, i3 = ib.alias("i1"), ib.alias("i2"), ib.alias("i3")
    triples = (
        i1.join(
            i2,
            (F.col("i1.o") == F.col("i2.o"))
            & (F.col("i1.b") < F.col("i2.b")),
        )
        .join(
            i3,
            (F.col("i2.o") == F.col("i3.o"))
            & (F.col("i2.b") < F.col("i3.b")),
        )
        .groupBy(
            F.col("i1.b").alias("brand1"),
            F.col("i2.b").alias("brand2"),
            F.col("i3.b").alias("brand3"),
        )
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= _FT_MINSUP)
    )
    nb = ib.agg(F.count_distinct("o").cast("long").alias("n_baskets"))
    return (
        triples.crossJoin(F.broadcast(nb))
        .select(
            "brand1",
            "brand2",
            "brand3",
            "support",
            F.round(
                F.col("support").cast("double") / F.col("n_baskets"), 6
            ).alias("support_frac"),
        )
        .orderBy(F.col("support").desc(), "brand1", "brand2", "brand3")
        .limit(10)
    )


# --------------- iterative proportional fitting / raking (r12)
_IPF_ITERS = 3


def _ipf_oracle() -> str:
    """Unrolled IPF oracle (the adstock unrolled-recurrence
    precedent): each iteration scales rows to the region target, then
    columns to the priority target; weights live in DECIMAL(38,12)
    (exact margin sums), scale factors in DOUBLE from identical
    operands, products rounded 12dp back into DECIMAL."""
    prev = "cells"
    steps = []
    for it in range(_IPF_ITERS):
        for dim, key in (("r", "region"), ("c", "pri")):
            cur = f"it{it}{dim}"
            steps.append(f"""
    {cur} AS (
      SELECT region, pri,
             CAST(round(CAST(w AS DOUBLE)
               * (tgt / CAST(sum(w) OVER (PARTITION BY {key})
                        AS DOUBLE)), 12) AS DECIMAL(38,12)) AS w,
             tgt
      FROM {prev}
    )""")
            prev = cur
    return f"""
    WITH raw AS (
      SELECT r.r_name AS region, o.o_orderpriority AS pri
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), cells0 AS (
      SELECT region, pri,
             CAST(CAST(count(*) AS BIGINT) AS DECIMAL(38,12)) AS w
      FROM raw GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(w) AS DOUBLE) / 5.0 AS tgt FROM cells0
    ), cells AS (
      SELECT region, pri, w, tgt FROM cells0 CROSS JOIN tot
    ),{",".join(steps)}
    SELECT region, pri, round(CAST(w AS DOUBLE), 6) AS weight
    FROM {prev} ORDER BY region, pri
    """


@query(
    "analytics_ipf_raking",
    oracle=_ipf_oracle(),
    tags=("analytics", "survey", "weighting", "orders"),
)
def analytics_ipf_raking(spark, sf_dir):
    """ITERATIVE PROPORTIONAL FITTING (Deming-Stephan 1940 raking,
    public) — the survey-weighting / contingency-calibration
    workhorse: scale the region x order-priority count matrix so BOTH
    margins match uniform targets (total/5 per region and per
    priority), alternating row and column scalings for
    3 iterations. The output weights are what a 100 TB label
    shop multiplies into its sampling to de-bias a skewed panel.

    Exactness: weights live in DECIMAL(38,12) so every margin sum is
    exact; each scale factor is one DOUBLE ratio of bit-identical
    operands; products round 12dp back into DECIMAL — both engines
    walk the identical state sequence (the Bradley-Terry/adstock
    per-iteration-rounding convention).

    Scale: the data touches one 3-broadcast-join scan + one count
    aggregate; ALL iterations run on the bounded 25-cell grid (window
    partitions are the 5-value margins — never single-partition,
    never data-sized)."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    raw = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("pri"),
        )
    )
    cells = raw.groupBy("region", "pri").agg(
        F.count("*").cast("long").cast("decimal(38,12)").alias("w")
    )
    tot = cells.agg(
        (F.sum("w").cast("double") / 5.0).alias("tgt")
    )
    cur = cells.crossJoin(F.broadcast(tot)).transform(barrier)  # freeze the data-sized part; iterations run on 25 rows
    for _ in range(_IPF_ITERS):
        for key in ("region", "pri"):
            cur = cur.select(
                "region",
                "pri",
                F.round(
                    F.col("w").cast("double")
                    * (
                        F.col("tgt")
                        / F.sum("w")
                        .over(W.partitionBy(key))
                        .cast("double")
                    ),
                    12,
                )
                .cast("decimal(38,12)")
                .alias("w"),
                "tgt",
            )
    return cur.select(
        "region",
        "pri",
        F.round(F.col("w").cast("double"), 6).alias("weight"),
    ).orderBy("region", "pri")


# --------------- Bradley-Terry strength ratings (r12)

_BT_ITERS = 3


def _bt_oracle() -> str:
    """Unrolled minorize-maximize iterations (Hunter 2004, public) on
    the bounded event-type grid; per-term and per-state 12dp rounding
    into DECIMAL(38,12) keeps both engines on the identical state
    sequence (the IPF convention)."""
    prev = "it0"
    steps = []
    for it in range(1, _BT_ITERS + 1):
        cur = f"it{it}"
        steps.append(f"""
    {cur} AS (
      SELECT w.et,
             CAST(round(CAST(w.wins AS DOUBLE) / CAST(sum(
               CAST(round(o.m / (CAST(pa.p AS DOUBLE)
                                 + CAST(pb.p AS DOUBLE)), 12)
                    AS DECIMAL(38,12))) AS DOUBLE), 12)
                  AS DECIMAL(38,12)) AS p
      FROM wins w
      JOIN opp o ON o.a = w.et
      JOIN {prev} pa ON pa.et = o.a
      JOIN {prev} pb ON pb.et = o.b
      GROUP BY w.et, w.wins
    )""")
        prev = cur
    return f"""
    WITH seq AS (
      SELECT event_type, value,
             lag(event_type) OVER w AS pt,
             lag(value) OVER w AS pv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), matches AS (
      SELECT least(pt, event_type) AS i,
             greatest(pt, event_type) AS j,
             CASE WHEN value > pv THEN event_type
                  WHEN value < pv THEN pt
                  ELSE least(pt, event_type) END AS winner
      FROM seq WHERE pt IS NOT NULL AND pt <> event_type
    ), pairs AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS m
      FROM matches GROUP BY 1, 2
    ), opp AS (
      SELECT i AS a, j AS b, m FROM pairs
      UNION ALL
      SELECT j AS a, i AS b, m FROM pairs
    ), wins AS (
      SELECT ty.et, CAST(coalesce(wc.wins, 0) AS BIGINT) AS wins
      FROM (SELECT DISTINCT event_type AS et FROM events) ty
      LEFT JOIN (SELECT winner AS et, count(*) AS wins
                 FROM matches GROUP BY 1) wc USING (et)
    ), it0 AS (
      SELECT et, CAST(1.0 AS DECIMAL(38,12)) AS p FROM wins
    ),{",".join(steps)}
    , tot AS (SELECT CAST(sum(p) AS DOUBLE) AS s FROM {prev})
    SELECT f.et AS event_type, w.wins,
           (SELECT CAST(sum(m) AS BIGINT) FROM opp WHERE a = f.et)
             AS n_matches,
           round(CAST(f.p AS DOUBLE) / tot.s, 6) AS bt_strength
    FROM {prev} f JOIN wins w ON w.et = f.et CROSS JOIN tot
    ORDER BY bt_strength DESC, event_type
    """


@query(
    "analytics_bradley_terry",
    oracle=_bt_oracle(),
    tags=("analytics", "ranking", "pairwise", "events"),
)
def analytics_bradley_terry(spark, sf_dir):
    """BRADLEY-TERRY PAIRWISE STRENGTH RATINGS (Bradley-Terry 1952;
    MM algorithm Hunter 2004, public) — the model behind every LLM
    arena leaderboard: matches are consecutive same-user events of
    different types (winner = the larger value, ties to the
    lexicographically smaller type), and 3 minorize-maximize updates
    p_i <- W_i / sum_j m_ij/(p_i+p_j) fit the strengths, normalized to
    sum 1. Order-free by construction — unlike Elo, whose sequential
    update depends on match ORDER and therefore cannot be computed
    distributively; BT-MM is the batch dual a 100 TB preference
    pipeline actually fits.

    Exactness: match/win counts are integers; each MM term and each
    new state rounds 12dp into DECIMAL(38,12) before the exact
    denominator sum (the IPF/adstock state-sequence convention).

    Scale: one lag window partitioned by user builds the matches; the
    MM loop runs entirely on the bounded |types|^2 grid (25 rows) via
    broadcast self-joins — iteration cost is independent of the
    corpus."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("pt"),
        F.lag("value").over(w).alias("pv"),
    )
    matches = seq.filter(
        F.col("pt").isNotNull() & (F.col("pt") != F.col("event_type"))
    ).select(
        F.least("pt", "event_type").alias("i"),
        F.greatest("pt", "event_type").alias("j"),
        F.when(F.col("value") > F.col("pv"), F.col("event_type"))
        .when(F.col("value") < F.col("pv"), F.col("pt"))
        .otherwise(F.least("pt", "event_type"))
        .alias("winner"),
    ).transform(barrier)  # one pass builds pairs AND wins
    pairs = matches.groupBy("i", "j").agg(
        F.count("*").cast("long").alias("m")
    )
    # lazy checkpoint: opp is referenced by every MM iteration plus the
    # n_matches agg — without the cut, each reference re-aggregates the
    # match relation (4 full passes) and the plan re-expands the subtree
    opp = pairs.select(
        F.col("i").alias("a"), F.col("j").alias("b"), "m"
    ).unionByName(
        pairs.select(F.col("j").alias("a"), F.col("i").alias("b"), "m")
    ).transform(barrier)
    types = e.select(F.col("event_type").alias("et")).distinct()
    wc = matches.groupBy(F.col("winner").alias("et")).agg(
        F.count("*").alias("wc")
    )
    # same cut for wins (read by p0, every iteration's numerator, and
    # the final join): |types| rows, materialized once
    wins = types.join(wc, "et", "left").select(
        "et", F.coalesce("wc", F.lit(0)).cast("long").alias("wins")
    ).transform(barrier)
    p = wins.select(
        "et", F.lit(1.0).cast("decimal(38,12)").alias("p")
    )
    for _ in range(_BT_ITERS):
        pa = p.select(F.col("et").alias("a"), F.col("p").alias("p_a"))
        pb = p.select(F.col("et").alias("b"), F.col("p").alias("p_b"))
        denom = (
            opp.join(F.broadcast(pa), "a")
            .join(F.broadcast(pb), "b")
            .select(
                F.col("a").alias("et"),
                F.round(
                    F.col("m")
                    / (
                        F.col("p_a").cast("double")
                        + F.col("p_b").cast("double")
                    ),
                    12,
                )
                .cast("decimal(38,12)")
                .alias("term"),
            )
            .groupBy("et")
            .agg(F.sum("term").alias("den"))
        )
        # checkpoint the |types|-row state each iteration: p_{k} is
        # referenced TWICE by p_{k+1} (pa and pb), so the un-cut plan
        # doubled per iteration (explain: 306 Exchanges / 62 scans for
        # 3 iterations; planning dominated the query's wall time)
        p = wins.join(denom, "et").select(
            "et",
            F.round(
                F.col("wins").cast("double")
                / F.col("den").cast("double"),
                12,
            )
            .cast("decimal(38,12)")
            .alias("p"),
        ).transform(barrier)
    tot = p.agg(F.sum("p").cast("double").alias("s"))
    n_match = opp.groupBy(F.col("a").alias("et")).agg(
        F.sum("m").cast("long").alias("n_matches")
    )
    return (
        p.join(wins, "et")
        .join(n_match, "et")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("et").alias("event_type"),
            "wins",
            "n_matches",
            F.round(F.col("p").cast("double") / F.col("s"), 6).alias(
                "bt_strength"
            ),
        )
        .orderBy(F.col("bt_strength").desc(), "event_type")
    )


# --------------- off-policy evaluation: IPS / SNIPS (r12)
_OPE_TARGET = "click"
_OPE_RWD = 150.0


@query(
    "analytics_ips_offpolicy",
    oracle=f"""
    WITH logs AS (
      SELECT user_id % 10 AS ctx, event_type AS act,
             CASE WHEN value > {_OPE_RWD} THEN 1 ELSE 0 END AS r,
             event_id % 2 AS fold
      FROM events
    ), prop AS (
      -- cross-fit: propensities from fold 0, evaluation on fold 1
      SELECT ctx, act, CAST(count(*) AS BIGINT) AS c_ax,
             CAST(sum(count(*)) OVER (PARTITION BY ctx) AS BIGINT)
               AS c_x
      FROM logs WHERE fold = 0 GROUP BY ctx, act
    ), weighted AS (
      SELECT l.r,
             CASE WHEN l.act = '{_OPE_TARGET}'
                  THEN CAST(p.c_x AS DOUBLE) / p.c_ax
                  ELSE 0.0 END AS w
      FROM logs l JOIN prop p ON p.ctx = l.ctx AND p.act = l.act
      WHERE l.fold = 1
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(r * w, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS srw,
             CAST(sum(CAST(round(w, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sw
      FROM weighted
    )
    SELECT n,
           round(srw / n, 6) AS ips_value,
           round(srw / sw, 6) AS snips_value,
           round(sw / n, 6) AS mean_weight
    FROM sums
    """,
    tags=("analytics", "bandit", "off-policy", "events"),
)
def analytics_ips_offpolicy(spark, sf_dir):
    """OFF-POLICY EVALUATION via inverse-propensity scoring (Horvitz-
    Thompson 1952; SNIPS per Swaminathan-Joachims 2015, public) — how
    a preference/recommendation pipeline prices a NEW policy from
    logged interactions WITHOUT deploying it: here the deterministic
    target policy "always {_OPE_TARGET}", logged propensities are the
    empirical per-context action rates, reward is value > {_OPE_RWD}.
    IPS = mean(r·w) is unbiased but high-variance; SNIPS = Σrw/Σw
    trades a vanishing bias for variance (the estimator every
    production OPE stack reports next to IPS); mean_weight ~ 1 is the
    standard diagnostic that the propensity model is calibrated.
    Propensities are CROSS-FIT (estimated on the even-event fold,
    applied to the odd fold) — self-fitted propensities make
    sum(w) == n hold by construction, degenerating SNIPS to IPS and
    blinding the mean_weight diagnostic. Actions unsupported in the
    fit fold drop from the evaluation (inner join), identically in
    both engines.

    Exactness: propensity weights are ratios of exact integers
    (c_x/c_ax — one IEEE division per row, identical both engines);
    per-row r·w and w round 12dp into DECIMAL(38,12) before the
    cross-engine sums.

    Scale: one grouped count builds the propensity table (bounded
    |ctx|x|actions| grid, broadcast back); the weighted pass is one
    scan + one fold — no window over the corpus."""
    from pyspark.sql import Window as W

    logs = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("ctx"),
        F.col("event_type").alias("act"),
        (F.col("value") > _OPE_RWD).cast("int").alias("r"),
        (F.col("event_id") % 2).alias("fold"),
    )
    # cross-fit: propensities from fold 0, evaluation on fold 1 (the
    # self-fitted variant makes SNIPS degenerate to IPS — sum(w) == n
    # by construction — and hides propensity miscalibration)
    prop = logs.filter(F.col("fold") == 0).groupBy("ctx", "act").agg(
        F.count("*").cast("long").alias("c_ax")
    ).select(
        "ctx",
        "act",
        "c_ax",
        F.sum("c_ax").over(W.partitionBy("ctx")).cast("long").alias(
            "c_x"
        ),
    )
    weighted = (
        logs.filter(F.col("fold") == 1)
        .join(F.broadcast(prop), ["ctx", "act"])
    ).select(
        "r",
        F.when(
            F.col("act") == _OPE_TARGET,
            F.col("c_x").cast("double") / F.col("c_ax"),
        )
        .otherwise(F.lit(0.0))
        .alias("w"),
    )
    sums = weighted.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.round(F.col("r") * F.col("w"), 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("srw"),
        F.sum(F.round(F.col("w"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("sw"),
    )
    return sums.select(
        "n",
        F.round(F.col("srw") / F.col("n"), 6).alias("ips_value"),
        F.round(F.col("srw") / F.col("sw"), 6).alias("snips_value"),
        F.round(F.col("sw") / F.col("n"), 6).alias("mean_weight"),
    )


# ------------- Markov removal-effect attribution (r12 flagship)
_MK_CH = ("click", "error", "signup", "view")  # removable channels
_MK_DESTS = ("click", "error", "purchase", "signup", "view", "END")
_MK_ORIGS = ("START", "click", "error", "signup", "view")
_MK_K = 80  # value-iteration steps; absorbing mass ~0.2/step =>
#             residual < 1e-7 at 80, far inside the 6dp output


def _mk_oracle() -> str:
    """Recursive-CTE value iteration over the bounded transition grid
    (the adstock unrolled-recurrence precedent, with the per-iteration
    12dp state rounding of the IPF/BT convention)."""
    # 30 conditional-aggregate transition probabilities p_{oi}_{di}
    pcols = []
    for oi, o in enumerate(_MK_ORIGS):
        for di, d in enumerate(_MK_DESTS):
            pcols.append(
                f"coalesce(CAST(sum(CASE WHEN orig = '{o}' AND dest = "
                f"'{d}' THEN 1 ELSE 0 END) AS DOUBLE) / "
                f"nullif(sum(CASE WHEN orig = '{o}' THEN 1 ELSE 0 END),"
                f" 0), 0.0) AS p_{oi}_{di}"
            )

    def val(di: int, prefix: str = "it.") -> str:
        d = _MK_DESTS[di]
        if d == "purchase":
            return "1.0"
        if d == "END":
            return "0.0"
        vcol = f"{prefix}v_{d}"
        return f"(CASE WHEN it.scen = '{d}' THEN 0.0 ELSE {vcol} END)"

    def dot(oi: int) -> str:
        return " + ".join(
            f"pm.p_{oi}_{di} * {val(di)}"
            for di in range(len(_MK_DESTS))
        )

    upd = []
    for ch in _MK_CH:
        oi = _MK_ORIGS.index(ch)
        upd.append(
            f"CASE WHEN it.scen = '{ch}' THEN 0.0 "
            f"ELSE round({dot(oi)}, 12) END AS v_{ch}"
        )
    return f"""
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type AS cur,
             lag(event_type) OVER w AS prev,
             (row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) = 1) AS is_last
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trans AS (
      SELECT 'START' AS orig, cur AS dest FROM seq WHERE prev IS NULL
      UNION ALL
      SELECT prev, cur FROM seq
      WHERE prev IS NOT NULL AND prev <> 'purchase'
      UNION ALL
      SELECT cur, 'END' FROM seq WHERE is_last AND cur <> 'purchase'
    ), pm AS (
      SELECT {", ".join(pcols)} FROM trans
    ), scen AS (
      SELECT unnest(['(full)', {", ".join(f"'{c}'" for c in _MK_CH)}])
        AS scen
    ), it(k, scen, {", ".join(f"v_{c}" for c in _MK_CH)}) AS (
      SELECT 0, scen,
             {", ".join("CAST(0.0 AS DOUBLE)" for _ in _MK_CH)}
      FROM scen
      UNION ALL
      SELECT it.k + 1, it.scen, {", ".join(upd)}
      FROM it, pm WHERE it.k < {_MK_K}
    ), conv AS (
      SELECT it.scen,
             round({dot(0)}, 12) AS p_conv
      FROM it, pm WHERE it.k = {_MK_K}
    ), full_p AS (
      SELECT p_conv AS pf FROM conv WHERE scen = '(full)'
    ), re AS (
      SELECT c.scen AS channel,
             round(c.p_conv, 6) AS p_removed,
             round(f.pf, 6) AS p_full,
             CAST(round(greatest(0.0, 1.0 - c.p_conv / f.pf), 12)
                  AS DECIMAL(38,12)) AS re
      FROM conv c CROSS JOIN full_p f WHERE c.scen <> '(full)'
    )
    SELECT channel, p_full, p_removed,
           round(CAST(re AS DOUBLE), 6) AS removal_effect,
           round(CAST(re AS DOUBLE)
                 / CAST(sum(re) OVER () AS DOUBLE), 6)
             AS attribution_share
    FROM re ORDER BY channel
    """


@query(
    "analytics_markov_removal_effect",
    oracle=_mk_oracle(),
    tags=("analytics", "attribution", "markov", "events"),
)
def analytics_markov_removal_effect(spark, sf_dir):
    """MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2014, public)
    — the data-driven attribution model beside the positional
    (analytics_multitouch_attribution) and game-theoretic
    (analytics_shapley_attribution) members: user journeys become a
    first-order Markov chain over touch states with purchase absorbing
    at value 1 and journey-end absorbing at 0; a channel's credit is
    its REMOVAL EFFECT 1 - P(conv | channel removed)/P(conv),
    normalized into shares. Removal pins the channel's value to zero —
    exactly redirecting its inbound mass to the loss state. Journeys
    re-enter after a conversion from the next transition onward
    (transitions OUT of purchase are dropped; no fresh START row) —
    the documented simplification both engines share.

    Exactness: transition probabilities are ratios of exact integers;
    conversion probabilities come from {_MK_K} VALUE-ITERATION steps
    over the bounded 5x6 grid with 12dp state rounding per step (the
    IPF/BT identical-state-sequence convention) — Spark folds ONE
    F.aggregate expression per scenario row, the oracle walks the
    same recurrence as a recursive CTE; residual < 1e-7 at the output
    precision.

    Scale: ONE lag window partitioned by user builds transitions; the
    grid collapses to a 30-entry map in a single aggregate; all 5
    scenario folds run on 5 rows — iteration cost independent of the
    corpus, the property that separates this from simulating journeys."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # is_last via rn == count over the SAME ascending spec: the old
    # descending row_number forced a second full sort of the events
    # relation inside the window stage (guide §2.4: operations keyed
    # the same way share one exchange — and here one SORT); (ts,
    # event_id) is unique per user so "first by desc" == "rn == n"
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
        (
            F.row_number().over(w)
            == F.count("*").over(W.partitionBy("user_id"))
        ).alias("is_last"),
    ).transform(barrier)  # three union branches, one window
    trans = (
        seq.filter(F.col("prev").isNull())
        .select(F.lit("START").alias("orig"), F.col("cur").alias("dest"))
        .unionByName(
            seq.filter(
                F.col("prev").isNotNull() & (F.col("prev") != "purchase")
            ).select(
                F.col("prev").alias("orig"), F.col("cur").alias("dest")
            )
        )
        .unionByName(
            seq.filter(F.col("is_last") & (F.col("cur") != "purchase"))
            .select(F.col("cur").alias("orig"), F.lit("END").alias("dest"))
        )
    )
    oi = F.when(F.col("orig") == "START", 0)
    for i, o in enumerate(_MK_ORIGS[1:], start=1):
        oi = oi.when(F.col("orig") == o, i)
    di = F.when(F.col("dest") == _MK_DESTS[0], 0)
    for i, d in enumerate(_MK_DESTS[1:], start=1):
        di = di.when(F.col("dest") == d, i)
    cnt = trans.groupBy("orig", "dest").agg(
        F.count("*").cast("long").alias("c")
    )
    probs = cnt.select(
        (oi * 6 + di).alias("slot"),
        (
            F.col("c").cast("double")
            / F.sum("c").over(W.partitionBy("orig"))
        ).alias("p"),
    )
    pm = probs.agg(
        F.map_from_arrays(
            F.collect_list("slot"), F.collect_list("p")
        ).alias("P")
    )
    scen = spark.createDataFrame(
        [("(full)",)] + [(c,) for c in _MK_CH], "scen string"
    )
    grid = scen.crossJoin(F.broadcast(pm))

    # map keys are the raw slot ints (0-based); element_at on maps is
    # BY KEY, so no 1-based shift
    def pk(r, d):
        return F.coalesce(
            F.element_at(F.col("P"), F.lit(r * 6 + d)), F.lit(0.0)
        )

    acc_idx = {"click": 1, "error": 2, "signup": 3, "view": 4}

    def val(d_i, acc):
        d = _MK_DESTS[d_i]
        if d == "purchase":
            return F.lit(1.0)
        if d == "END":
            return F.lit(0.0)
        return F.when(F.col("scen") == d, 0.0).otherwise(
            F.element_at(acc, acc_idx[d])
        )

    def dot(orig_row, acc):
        expr = None
        for d_i in range(len(_MK_DESTS)):
            term = pk(orig_row, d_i) * val(d_i, acc)
            expr = term if expr is None else expr + term
        return expr

    def step(acc, _x):
        parts = []
        for ch in _MK_CH:
            orig_row = _MK_ORIGS.index(ch)
            parts.append(
                F.when(F.col("scen") == ch, 0.0).otherwise(
                    F.round(dot(orig_row, acc), 12)
                )
            )
        return F.array(*parts)

    v = F.aggregate(
        F.sequence(F.lit(1), F.lit(_MK_K)),
        F.array(*[F.lit(0.0) for _ in _MK_CH]),
        step,
    )
    conv = grid.select(
        "scen", F.round(dot(0, v), 12).alias("p_conv")
    )
    full_p = conv.filter(F.col("scen") == "(full)").select(
        F.col("p_conv").alias("pf")
    )
    re = (
        conv.filter(F.col("scen") != "(full)")
        .crossJoin(F.broadcast(full_p))
        .select(
            F.col("scen").alias("channel"),
            F.round("p_conv", 6).alias("p_removed"),
            F.round("pf", 6).alias("p_full"),
            F.round(
                F.greatest(
                    F.lit(0.0), 1.0 - F.col("p_conv") / F.col("pf")
                ),
                12,
            )
            .cast("decimal(38,12)")
            .alias("re"),
        )
    )
    return re.select(
        "channel",
        "p_full",
        "p_removed",
        F.round(F.col("re").cast("double"), 6).alias("removal_effect"),
        F.round(
            F.col("re").cast("double")
            / F.sum("re").over(W.partitionBy()).cast("double"),
            6,
        ).alias("attribution_share"),
    ).orderBy("channel")


# --------------- newsvendor critical-fractile decision (r12)

_NV_CU = 3  # underage cost per unit (lost margin)
_NV_CO = 1  # overage cost per unit (holding/salvage loss)


@query(
    "analytics_newsvendor",
    oracle=f"""
    WITH demand AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS q
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS days FROM demand
    ), pick AS (
      -- critical fractile cu/(cu+co): smallest demand level whose
      -- ECDF reaches it — integer-exact cross-multiplied crossing
      -- (the window_bucket_quantiles convention)
      SELECT min(q) AS q_star FROM (
        SELECT q, count(*) OVER (ORDER BY q) AS cum,
               (SELECT days FROM n) AS days
        FROM demand
      ) WHERE cum * {_NV_CU + _NV_CO} >= {_NV_CU} * days
    )
    SELECT n.days,
           CAST(round(CAST({_NV_CU} AS DOUBLE)
                / ({_NV_CU} + {_NV_CO}), 6) AS DOUBLE)
             AS critical_fractile,
           pick.q_star AS order_qty,
           CAST(sum(greatest(d2.q - pick.q_star, 0)) AS BIGINT)
             AS total_underage_units,
           CAST(sum(greatest(pick.q_star - d2.q, 0)) AS BIGINT)
             AS total_overage_units,
           round(CAST({_NV_CU} * sum(greatest(d2.q - pick.q_star, 0))
                 + {_NV_CO} * sum(greatest(pick.q_star - d2.q, 0))
                 AS DOUBLE) / n.days, 6) AS mean_daily_cost
    FROM demand d2 CROSS JOIN pick CROSS JOIN n
    GROUP BY n.days, pick.q_star
    """,
    tags=("analytics", "inventory", "decision", "events"),
)
def analytics_newsvendor(spark, sf_dir):
    """NEWSVENDOR CRITICAL-FRACTILE STOCKING DECISION (Arrow-Harris-
    Marschak 1951, public) — the canonical inventory/capacity decision
    under demand uncertainty, and the textbook consumer of an exact
    quantile: with underage cost {_NV_CU} and overage cost {_NV_CO},
    the optimal order quantity is the demand distribution's
    cu/(cu+co) = 0.75 quantile. Demand is daily purchase counts; the
    quantile is the smallest demand whose ECDF crosses the fractile,
    tested with the integer cross-multiplied crossing (no float
    threshold); the realized cost of the decision is priced back over
    the same days in exact unit counts.

    Exactness: demands, cumulative counts, and unit totals are exact
    integers; the crossing test is cross-multiplied; two final
    divisions.

    Scale: the demand relation is calendar-bounded (~days); its
    cumulative window is over that bounded grid. The only data-sized
    stage is the per-day count aggregate."""
    from pyspark.sql import Window as W

    demand = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.count("*").cast("long").alias("q"))
    ).transform(barrier)  # bounded grid, three consumers
    n = demand.agg(F.count("*").cast("long").alias("days"))
    # cumulative over the calendar-bounded demand grid (bounded-window
    # convention: benign warning filtered at the logging layer)
    cum = demand.crossJoin(F.broadcast(n)).select(
        "q",
        "days",
        F.count("*").over(W.orderBy("q")).alias("cum"),
    )
    pick = cum.filter(
        F.col("cum") * (_NV_CU + _NV_CO) >= _NV_CU * F.col("days")
    ).agg(F.min("q").alias("q_star"))
    priced = demand.crossJoin(F.broadcast(pick)).crossJoin(
        F.broadcast(n)
    )
    return priced.groupBy("days", "q_star").agg(
        F.round(
            F.lit(float(_NV_CU)) / (_NV_CU + _NV_CO), 6
        ).alias("critical_fractile"),
        F.sum(F.greatest(F.col("q") - F.col("q_star"), F.lit(0)))
        .cast("long")
        .alias("total_underage_units"),
        F.sum(F.greatest(F.col("q_star") - F.col("q"), F.lit(0)))
        .cast("long")
        .alias("total_overage_units"),
        F.round(
            (
                _NV_CU
                * F.sum(
                    F.greatest(F.col("q") - F.col("q_star"), F.lit(0))
                )
                + _NV_CO
                * F.sum(
                    F.greatest(F.col("q_star") - F.col("q"), F.lit(0))
                )
            ).cast("double")
            / F.col("days"),
            6,
        ).alias("mean_daily_cost"),
    ).select(
        "days",
        "critical_fractile",
        F.col("q_star").alias("order_qty"),
        "total_underage_units",
        "total_overage_units",
        "mean_daily_cost",
    )
