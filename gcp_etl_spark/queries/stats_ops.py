"""Statistical inference & robust-estimation operators (round-4 batch).

Classic analyst/DS statistics re-expressed as distributed DataFrame
plans, each with a full DuckDB oracle. The recurring scale shape:
reduce the fact table to a CALENDAR-BOUNDED daily aggregate first
(days don't grow with corpus size — at 100 TB the daily relation is
the same few thousand rows), then run the statistic's algebra over
that constant-size relation; windows over it are the documented-benign
global-window case. Rank-based tests over per-entity relations use the
two-pass range-partitioned global rank (``global_row_number_twopass``
pattern, sets_sorts.py) — never a single-partition sort.

All NS extensions — the reference has no statistics surface
(SURVEY.md §2A, its only aggregate is count:
``k8s/dags/etl-gcp-vinicius-campos.py:119-127``).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.operators.quantiles import exact_quantiles
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t
from gcp_etl_spark.operators.barrier import barrier


def _orders_daily(spark, sf_dir):
    """(day, x epoch-day index, n_orders, revenue) — calendar-bounded."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
        )
        .withColumn("x", F.datediff("d", F.lit("1970-01-01")).cast("double"))
    )


@query(
    "analytics_spearman",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             count(*) AS n_orders, sum(o_totalprice) AS revenue
      FROM orders GROUP BY 1
    ), rk AS (
      SELECT rank() OVER (ORDER BY n_orders)
               + (count(*) OVER (PARTITION BY n_orders) - 1) / 2.0 AS rx,
             rank() OVER (ORDER BY revenue)
               + (count(*) OVER (PARTITION BY revenue) - 1) / 2.0 AS ry
      FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(
             (count(*) * sum(rx * ry) - sum(rx) * sum(ry)) /
             sqrt((count(*) * sum(rx * rx) - sum(rx) * sum(rx)) *
                  (count(*) * sum(ry * ry) - sum(ry) * sum(ry))),
             6) AS rho
    FROM rk
    """,
    tags=("stats", "correlation", "orders"),
)
def analytics_spearman(spark, sf_dir):
    """SPEARMAN rank correlation between daily order count and daily
    revenue: mid-rank (average-rank) assignment for ties — rank() min
    rank plus (tie-group size - 1)/2 — then Pearson over the ranks via
    raw power sums (engine-portable algebra, no stddev built-ins).

    Scale: the fact scan reduces to a calendar-bounded daily relation
    before any window; the rank windows run over that constant-size
    aggregate (the documented-benign global-window case — days don't
    grow at 100 TB)."""
    daily = _orders_daily(spark, sf_dir)
    rx = (
        F.rank().over(Window.orderBy("n_orders"))
        + (F.count("*").over(Window.partitionBy("n_orders")) - 1) / 2.0
    ).alias("rx")
    ry = (
        F.rank().over(Window.orderBy("revenue"))
        + (F.count("*").over(Window.partitionBy("revenue")) - 1) / 2.0
    ).alias("ry")
    rk = daily.select(rx, ry)
    n = F.count("*")
    num = n * F.sum(F.col("rx") * F.col("ry")) - F.sum("rx") * F.sum("ry")
    den = F.sqrt(
        (n * F.sum(F.col("rx") * F.col("rx")) - F.sum("rx") * F.sum("rx"))
        * (n * F.sum(F.col("ry") * F.col("ry")) - F.sum("ry") * F.sum("ry"))
    )
    return rk.agg(
        n.cast("long").alias("n_days"), F.round(num / den, 6).alias("rho")
    )


@query(
    "analytics_kendall_tau",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, sum(value) AS v
      FROM events GROUP BY 1
    ), pairs AS (
      SELECT CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS s
      FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(count(*) FILTER (s = 1) AS BIGINT) AS concordant,
           CAST(count(*) FILTER (s = -1) AS BIGINT) AS discordant,
           round((count(*) FILTER (s = 1) - count(*) FILTER (s = -1))
                 * 1.0 / count(*), 6) AS tau
    FROM pairs
    """,
    tags=("stats", "correlation", "events"),
)
def analytics_kendall_tau(spark, sf_dir):
    """KENDALL tau-a of the daily event-value series against time:
    with the x axis strictly increasing (days), every ordered day pair
    is concordant iff the value rose — C(n,2) pair enumeration over
    the calendar-bounded daily aggregate (30 days -> 435 pairs; the
    pair join NEVER touches the raw events fact table).

    tau-a (no tie correction in the denominator) is the declared
    statistic; value ties count in neither C nor D — identical algebra
    on both engines over double sums."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("v")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        F.when(F.col("b.v") > F.col("a.v"), 1)
        .when(F.col("b.v") < F.col("a.v"), -1)
        .otherwise(0)
    ).alias("s")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).select(s)
    conc = F.count(F.when(F.col("s") == 1, 1))
    disc = F.count(F.when(F.col("s") == -1, 1))
    n_days = daily.count()
    return pairs.agg(
        F.lit(n_days).cast("long").alias("n_days"),
        conc.cast("long").alias("concordant"),
        disc.cast("long").alias("discordant"),
        F.round((conc - disc) * 1.0 / F.count("*"), 6).alias("tau"),
    )


# theil_sen single-task slope-median gate: C(4096,2) slopes ≈ 8.4M
# doubles ≈ 67 MB task memory; calendar-bounded day counts sit far
# below it (module-level so the path-equality test can force the
# distributed side on the small fixtures)
_TS_NUMPY_MAX_DAYS = 4096


@query(
    "analytics_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               * 1.0 AS x,
             sum(o_totalprice) AS y
      FROM orders GROUP BY 1, 2
    ), slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS m
      FROM daily a JOIN daily b ON a.x < b.x
    ), med AS (
      SELECT quantile_cont(m, 0.5) AS m FROM slopes
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           round((SELECT m FROM med), 6) AS slope_per_day,
           round(quantile_cont(daily.y - (SELECT m FROM med) * daily.x, 0.5),
                 4) AS intercept
    FROM daily
    """,
    tags=("stats", "robust", "regression", "orders"),
)
def analytics_theil_sen(spark, sf_dir):
    """THEIL-SEN robust trend of daily revenue: the median of all
    C(n,2) pairwise slopes (29.4% breakdown point vs OLS's 0), with
    the companion median-residual intercept.

    Scale: the slope-pair join is over the calendar-bounded daily
    relation (~2.4k days -> ~2.9M slope pairs — distributed join,
    never touching fact-table cardinality). The slope median is EXACT
    but NOT Spark's ``percentile`` aggregate (whose final merge builds
    a single-reducer value->count map — measured 9.2 s on 2.9M
    distinct doubles). Below the size gate the C(n,2) slope set is
    generated and selected in ONE vectorized task (r13, guide §4.2 /
    §1.2 first-principles: the input is ~2.4k calendar-bounded daily
    rows ≈ 20 KB, so a distributed nested-loop join + range exchange +
    two ranking windows + broadcast join — 17 jobs — was pure
    orchestration overhead around ~30 ms of numpy; measured 3.7-5.0 s
    → the whole query ~1 s). np.partition picks the two middle ranks
    exactly; slopes are the same per-pair IEEE double ops on the same
    Spark-aggregated daily values, so the selected median is
    bit-identical to the distributed path (equality pinned in
    tests/test_r13_opt.py). Above the gate (C(n,2)·8 B past ~130 MB
    task memory — never at calendar-bounded day counts, but the gate
    keeps the 100 TB path principled) the r12 range-partitioned
    two-pass global rank runs unchanged. Interpolated-median semantics
    (mean of the two middles for even n) match DuckDB
    ``quantile_cont`` exactly on both paths."""
    daily = _orders_daily(spark, sf_dir).select(
        "x", F.col("revenue").alias("y")
    )
    n_days = daily.count()
    n_pairs = n_days * (n_days - 1) // 2
    lo, hi = (n_pairs + 1) // 2, n_pairs // 2 + 1
    if n_days <= _TS_NUMPY_MAX_DAYS:
        def slope_median(batches):
            import numpy as np
            import pandas as pd

            xs, ys = [], []
            for pdf in batches:
                xs.append(pdf["x"].to_numpy(np.float64))
                ys.append(pdf["y"].to_numpy(np.float64))
            x = np.concatenate(xs) if xs else np.empty(0)
            y = np.concatenate(ys) if ys else np.empty(0)
            o = np.argsort(x)
            x, y = x[o], y[o]
            iu, ju = np.triu_indices(x.size, k=1)
            m = (y[ju] - y[iu]) / (x[ju] - x[iu])
            if not m.size:
                yield pd.DataFrame({"m": [np.nan]})
                return
            part = np.partition(m, [lo - 1, hi - 1])
            yield pd.DataFrame(
                {"m": [(part[lo - 1] + part[hi - 1]) / 2.0]}
            )

        m_med = daily.coalesce(1).mapInPandas(slope_median, "m double")
    else:
        a = daily.alias("a")
        b = daily.alias("b")
        slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
            (
                (F.col("b.y") - F.col("a.y"))
                / (F.col("b.x") - F.col("a.x"))
            ).alias("m")
        )
        # lazy checkpoint BELOW the range exchange: repartitionByRange's
        # boundary-SAMPLING job executes its child once and the exchange
        # executes it again — uncut, the slope-pair nested-loop join ran
        # twice per query (guide §1.2: remove redundant passes)
        slopes = slopes.transform(barrier)
        parts = slopes.repartitionByRange(32, "m").withColumn(
            "pid", F.spark_partition_id()
        )
        local = parts.withColumn(
            "lrn",
            F.row_number().over(Window.partitionBy("pid").orderBy("m")),
        )
        counts = local.groupBy("pid").agg(F.count("*").alias("n"))
        prior = Window.orderBy("pid").rowsBetween(
            Window.unboundedPreceding, Window.currentRow - 1
        )
        offs = counts.select(
            "pid", F.coalesce(F.sum("n").over(prior), F.lit(0)).alias("off")
        )
        m_med = (
            local.join(F.broadcast(offs), "pid")
            .filter((F.col("lrn") + F.col("off")).isin(lo, hi))
            .agg(F.avg("m").alias("m"))
        )
    return (
        daily.crossJoin(F.broadcast(m_med))
        .agg(
            F.lit(n_days).cast("long").alias("n_days"),
            F.round(F.first("m"), 6).alias("slope_per_day"),
            F.round(
                F.expr("percentile(y - m * x, 0.5)"), 4
            ).alias("intercept"),
        )
    )


@query(
    "analytics_mann_whitney",
    oracle="""
    WITH pc AS (
      SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
             avg(o.o_totalprice) AS v
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY 1, 2
    ), rk AS (
      SELECT seg, v, row_number() OVER (ORDER BY v, k) AS rn FROM pc
    ), ar AS (
      SELECT seg, avg(rn) OVER (PARTITION BY v) AS r FROM rk
    ), s AS (
      SELECT sum(r) FILTER (seg = 'BUILDING') AS r1,
             count(*) FILTER (seg = 'BUILDING') AS n1,
             count(*) FILTER (seg = 'MACHINERY') AS n2
      FROM ar
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 4) AS z
    FROM s
    """,
    tags=("stats", "hypothesis-test", "orders", "scale-pattern"),
)
def analytics_mann_whitney(spark, sf_dir):
    """MANN-WHITNEY U test: do BUILDING customers place larger average
    orders than MACHINERY customers? Mid-ranks over the pooled
    per-customer averages, U1 from the rank sum, normal-approximation
    z (no tie correction — the ranked variable is a continuous double).

    Scale: global ranks come from the TWO-PASS range-partitioned rank
    (sets_sorts.global_row_number_twopass pattern) — range-exchange +
    per-partition row_number + broadcast prefix offsets — NOT a
    single-partition ORDER BY window; mid-ranks then come from a
    per-value group average. Works unchanged at 10^9 customers."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    pc = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_custkey").alias("k")
        )
        .agg(F.avg("o_totalprice").alias("v"))
    )
    # two-pass scale-safe global row_number over (v, k)
    parts = pc.repartitionByRange(32, "v", "k").withColumn(
        "pid", F.spark_partition_id()
    )
    local = parts.withColumn(
        "local_rn",
        F.row_number().over(Window.partitionBy("pid").orderBy("v", "k")),
    )
    counts = local.groupBy("pid").agg(F.count("*").alias("n"))
    prior = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = counts.select(
        "pid", F.coalesce(F.sum("n").over(prior), F.lit(0)).alias("offset")
    )
    rk = local.join(F.broadcast(offsets), "pid").select(
        "seg", "v", (F.col("local_rn") + F.col("offset")).alias("rn")
    )
    ar = rk.select(
        "seg", F.avg("rn").over(Window.partitionBy("v")).alias("r")
    )
    r1 = F.sum(F.when(F.col("seg") == "BUILDING", F.col("r")))
    n1 = F.count(F.when(F.col("seg") == "BUILDING", 1))
    n2 = F.count(F.when(F.col("seg") == "MACHINERY", 1))
    u1 = r1 - n1 * (n1 + 1) / 2.0
    z = (u1 - n1 * n2 / 2.0) / F.sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0)
    return ar.agg(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        F.round(u1, 1).alias("u1"),
        F.round(z, 4).alias("z"),
    )


@query(
    "analytics_runs_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, sum(value) AS v FROM events GROUP BY 1
    ), med AS (
      SELECT quantile_cont(v, 0.5) AS m FROM daily
    ), signs AS (
      SELECT d, CASE WHEN v > (SELECT m FROM med) THEN 1 ELSE -1 END AS s
      FROM daily WHERE v <> (SELECT m FROM med)
    ), runs AS (
      SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS DISTINCT FROM s
                THEN 1 ELSE 0 END AS new_run
      FROM signs
    ), agg AS (
      SELECT sum(new_run) AS r,
             count(*) FILTER (s = 1) AS n1,
             count(*) FILTER (s = -1) AS n2
      FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs, CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))),
                 4) AS z
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "events"),
)
def analytics_runs_test(spark, sf_dir):
    """WALD-WOLFOWITZ runs test for randomness of the daily event-value
    series around its median: sign each day (above/below, equals
    dropped), count maximal same-sign runs via a lag transition flag,
    and compare to the expected run count under exchangeability with
    the normal approximation z.

    Scale: one fact-table reduction to the calendar-bounded daily
    relation; the lag window runs over that constant-size aggregate."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum("value").alias("v")
    )
    med = daily.agg(F.expr("percentile(v, 0.5)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("m"))
        .select(
            "d", F.when(F.col("v") > F.col("m"), 1).otherwise(-1).alias("s")
        )
    )
    w = Window.orderBy("d")
    runs = signs.select(
        "s",
        F.when(
            ~F.lag("s").over(w).eqNullSafe(F.col("s")), 1
        ).otherwise(0).alias("new_run"),
    )
    r = F.sum("new_run").cast("double")
    n1 = F.count(F.when(F.col("s") == 1, 1)).cast("double")
    n2 = F.count(F.when(F.col("s") == -1, 1)).cast("double")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sig = F.sqrt(
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return runs.agg(
        r.cast("long").alias("n_runs"),
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        F.round((r - mu) / sig, 4).alias("z"),
    )


@query(
    "analytics_cramers_v",
    oracle="""
    WITH obs AS (
      SELECT c_nationkey AS r, c_mktsegment AS c, count(*) AS o
      FROM customer GROUP BY 1, 2
    ), tot AS (
      SELECT sum(o) AS n,
             count(DISTINCT r) AS nr, count(DISTINCT c) AS nc
      FROM obs
    ), exp AS (
      SELECT o.o,
             rs.s * cs.s * 1.0 / (SELECT n FROM tot) AS e
      FROM obs o
      JOIN (SELECT r, sum(o) AS s FROM obs GROUP BY 1) rs ON rs.r = o.r
      JOIN (SELECT c, sum(o) AS s FROM obs GROUP BY 1) cs ON cs.c = o.c
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
           round(sum((o - e) * (o - e) / e), 4) AS chi2,
           round(sqrt(sum((o - e) * (o - e) / e)
                 / ((SELECT n FROM tot)
                    * (least((SELECT nr FROM tot), (SELECT nc FROM tot)) - 1))),
                 6) AS cramers_v
    FROM exp
    """,
    tags=("stats", "association", "customer"),
)
def analytics_cramers_v(spark, sf_dir):
    """CRAMER'S V association between customer nation and market
    segment: chi-square over the 25x5 contingency table, normalized by
    n*(min(r,c)-1). Expected counts from the marginal product.

    Scale: one groupBy reduces the fact table to a cardinality-bounded
    contingency relation (|nations| x |segments|); the chi-square
    algebra runs over that tiny table with broadcast marginals —
    nothing downstream of the first aggregation scales with rows."""
    c = t(spark, sf_dir, "customer")
    obs = c.groupBy(
        F.col("c_nationkey").alias("r"), F.col("c_mktsegment").alias("c")
    ).agg(F.count("*").alias("o"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
    )
    rs = obs.groupBy("r").agg(F.sum("o").alias("rsum"))
    cs = obs.groupBy("c").agg(F.sum("o").alias("csum"))
    ex = (
        obs.join(F.broadcast(rs), "r")
        .join(F.broadcast(cs), "c")
        .crossJoin(F.broadcast(tot))
        .withColumn("e", F.col("rsum") * F.col("csum") * 1.0 / F.col("n"))
    )
    chi2 = F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
    return ex.agg(
        F.first("n").cast("long").alias("n"),
        F.round(chi2, 4).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (F.first("n") * (F.least(F.first("nr"), F.first("nc")) - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "analytics_herfindahl",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS seg, sum(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), tot AS (SELECT sum(rev) AS tr, count(*) AS k FROM seg)
    SELECT CAST((SELECT k FROM tot) AS BIGINT) AS n_segments,
           round(sum((rev / (SELECT tr FROM tot))
                     * (rev / (SELECT tr FROM tot))), 6) AS hhi,
           round((sum((rev / (SELECT tr FROM tot))
                      * (rev / (SELECT tr FROM tot)))
                  - 1.0 / (SELECT k FROM tot))
                 / (1 - 1.0 / (SELECT k FROM tot)), 6) AS hhi_normalized
    FROM seg
    """,
    tags=("stats", "concentration", "orders"),
)
def analytics_herfindahl(spark, sf_dir):
    """HERFINDAHL-HIRSCHMAN concentration index of revenue across
    market segments: sum of squared revenue shares, plus the
    k-normalized variant ((H - 1/k)/(1 - 1/k)) that is 0 for a
    perfectly even split and 1 for a monopoly segment.

    Scale: broadcast-joined dimension, one groupBy to a k-row share
    relation — the index algebra is O(k)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tot = seg.agg(F.sum("rev").alias("tr"), F.count("*").alias("k"))
    sh = seg.crossJoin(F.broadcast(tot)).withColumn(
        "share", F.col("rev") / F.col("tr")
    )
    hhi = F.sum(F.col("share") * F.col("share"))
    k = F.first("k")
    return sh.agg(
        k.cast("long").alias("n_segments"),
        F.round(hhi, 6).alias("hhi"),
        F.round((hhi - 1.0 / k) / (1 - 1.0 / k), 6).alias("hhi_normalized"),
    )


@query(
    "analytics_jensen_shannon",
    oracle="""
    WITH lab AS (
      SELECT event_type,
             CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                  THEN 'weekend' ELSE 'weekday' END AS grp
      FROM events
    ), cnt AS (
      SELECT event_type, grp, count(*) AS c FROM lab GROUP BY 1, 2
    ), p AS (
      SELECT event_type,
             sum(c) FILTER (grp = 'weekday') * 1.0
               / (SELECT sum(c) FROM cnt WHERE grp = 'weekday') AS p,
             sum(c) FILTER (grp = 'weekend') * 1.0
               / (SELECT sum(c) FROM cnt WHERE grp = 'weekend') AS q
      FROM cnt GROUP BY 1
    ), terms AS (
      SELECT coalesce(p, 0) AS p, coalesce(q, 0) AS q,
             (coalesce(p, 0) + coalesce(q, 0)) / 2 AS m
      FROM p
    )
    SELECT round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END)
               + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END),
               6) AS js_divergence,
           CAST(count(*) AS BIGINT) AS n_types
    FROM terms
    """,
    tags=("stats", "divergence", "events"),
)
def analytics_jensen_shannon(spark, sf_dir):
    """JENSEN-SHANNON divergence between the weekday and weekend
    event-type distributions — the symmetric, bounded [0, ln 2]
    drift measure (0.5*KL(P||M) + 0.5*KL(Q||M), M the mixture).
    Zero-probability types contribute 0 from their missing side
    (coalesce to 0, guarded ln).

    Scale: one groupBy to the |event_types| x 2 count relation;
    everything after is O(#types). The dual of analytics' KL drift
    monitor, with symmetric/bounded semantics."""
    e = t(spark, sf_dir, "events")
    grp = F.when(
        F.dayofweek(F.to_date("ts")).isin(1, 7), "weekend"
    ).otherwise("weekday")
    cnt = e.groupBy("event_type", grp.alias("grp")).agg(
        F.count("*").alias("c")
    )
    tot = cnt.groupBy("grp").agg(F.sum("c").alias("tc"))
    dist = (
        cnt.join(F.broadcast(tot), "grp")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("grp") == "weekday", F.col("c") / F.col("tc")
                    )
                ),
                F.lit(0.0),
            ).alias("p"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("grp") == "weekend", F.col("c") / F.col("tc")
                    )
                ),
                F.lit(0.0),
            ).alias("q"),
        )
        .withColumn("m", (F.col("p") + F.col("q")) / 2)
    )
    js = F.sum(
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / F.col("m"))).otherwise(0.0)
    ) + F.sum(
        F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / F.col("m"))).otherwise(0.0)
    )
    return dist.agg(
        F.round(js, 6).alias("js_divergence"),
        F.count("*").cast("long").alias("n_types"),
    )


@query(
    "analytics_paired_ttest",
    oracle="""
    WITH mid AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2 AS m FROM events
    ), halves AS (
      SELECT user_id,
             avg(value) FILTER (epoch_us(ts) <  (SELECT m FROM mid)) AS v1,
             avg(value) FILTER (epoch_us(ts) >= (SELECT m FROM mid)) AS v2
      FROM events GROUP BY 1
    ), d AS (
      SELECT v2 - v1 AS d FROM halves WHERE v1 IS NOT NULL AND v2 IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(avg(d), 6) AS mean_diff,
           round(avg(d) / (sqrt((sum(d * d) - count(*) * avg(d) * avg(d))
                                / (count(*) - 1))
                           / sqrt(count(*))), 4) AS t_stat
    FROM d
    """,
    tags=("stats", "hypothesis-test", "events"),
)
def analytics_paired_ttest(spark, sf_dir):
    """PAIRED t-test: per-user mean event value in the first vs second
    half of the observation window (users active in both halves form
    the pairs); t = mean(d) / (s_d / sqrt(n)) with the sample standard
    deviation computed from raw power sums (engine-portable — no
    Welford-vs-sum-of-squares backend divergence).

    Scale: two conditional aggregates in ONE groupBy pass over events
    (no self-join of halves); the t algebra is a second tiny
    aggregation over per-user rows."""
    # ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is identity
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mid = e.agg(
        ((F.min("us") + F.max("us")) / 2).alias("m")
    )
    halves = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.avg(
                F.when(F.col("us") < F.col("m"), F.col("value"))
            ).alias("v1"),
            F.avg(
                F.when(F.col("us") >= F.col("m"), F.col("value"))
            ).alias("v2"),
        )
    )
    d = halves.filter(
        F.col("v1").isNotNull() & F.col("v2").isNotNull()
    ).select((F.col("v2") - F.col("v1")).alias("d"))
    n = F.count("*")
    mean = F.avg("d")
    sd = F.sqrt((F.sum(F.col("d") * F.col("d")) - n * mean * mean) / (n - 1))
    return d.agg(
        n.cast("long").alias("n_users"),
        F.round(mean, 6).alias("mean_diff"),
        F.round(mean / (sd / F.sqrt(n)), 4).alias("t_stat"),
    )


@query(
    "analytics_forecast_pi",
    oracle="""
    WITH daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               * 1.0 AS x,
             sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ), s AS (
      SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my,
             sum(x * y) AS sxy, sum(x * x) AS sxx_r, sum(y * y) AS syy_r,
             max(x) AS xmax
      FROM daily
    ), fit AS (
      SELECT n, mx, my, xmax,
             (sxy - n * mx * my) / (sxx_r - n * mx * mx) AS b,
             sxx_r - n * mx * mx AS sxx,
             (syy_r - n * my * my)
               - (sxy - n * mx * my) * (sxy - n * mx * my)
                 / (sxx_r - n * mx * mx) AS sse
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(b, 4) AS slope,
           round(my + b * (xmax + 1 - mx), 2) AS forecast_next,
           round(1.96 * sqrt(sse / (n - 2))
                 * sqrt(1 + 1.0 / n
                        + (xmax + 1 - mx) * (xmax + 1 - mx) / sxx), 2)
             AS pi_halfwidth
    FROM fit
    """,
    tags=("stats", "regression", "forecast", "orders"),
)
def analytics_forecast_pi(spark, sf_dir):
    """One-step-ahead OLS FORECAST of daily revenue with a 95%
    PREDICTION interval: fit y = a + bx on the daily series, predict
    x_max + 1, and report the half-width 1.96 * s_e *
    sqrt(1 + 1/n + (x0 - mean_x)^2 / Sxx) — the textbook new-
    observation interval (wider than the mean-response CI).

    Scale: the whole fit is ONE aggregation pass over the calendar-
    bounded daily relation — closed-form sums, no iteration, no
    driver-side math."""
    daily = _orders_daily(spark, sf_dir).select(
        "x", F.col("revenue").alias("y")
    )
    s = daily.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_r"),
        F.sum(F.col("y") * F.col("y")).alias("syy_r"),
        F.max("x").alias("xmax"),
    )
    b = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / (
        F.col("sxx_r") - F.col("n") * F.col("mx") * F.col("mx")
    )
    sxx = F.col("sxx_r") - F.col("n") * F.col("mx") * F.col("mx")
    sse = (F.col("syy_r") - F.col("n") * F.col("my") * F.col("my")) - (
        (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) ** 2 / sxx
    )
    x0 = F.col("xmax") + 1 - F.col("mx")
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(b, 4).alias("slope"),
        F.round(F.col("my") + b * x0, 2).alias("forecast_next"),
        F.round(
            1.96
            * F.sqrt(sse / (F.col("n") - 2))
            * F.sqrt(1 + 1.0 / F.col("n") + x0 * x0 / sxx),
            2,
        ).alias("pi_halfwidth"),
    )


@query(
    "analytics_heaps_law",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), firsts AS (
      SELECT w, min(doc_id) AS fd FROM words WHERE w <> '' GROUP BY 1
    ), tokcum AS (
      SELECT doc_id,
             sum(cnt) OVER (ORDER BY doc_id) AS toks
      FROM (SELECT doc_id, count(*) AS cnt FROM words WHERE w <> ''
            GROUP BY 1)
    ), voccum AS (
      SELECT fd AS doc_id, count(*) AS nv FROM firsts GROUP BY 1
    ), chk AS (
      SELECT t.doc_id, t.toks,
             sum(coalesce(v.nv, 0)) OVER (ORDER BY t.doc_id) AS vocab
      FROM tokcum t LEFT JOIN voccum v ON v.doc_id = t.doc_id
    ), pts AS (
      SELECT ln(toks * 1.0) AS lx, ln(vocab * 1.0) AS ly
      FROM chk WHERE doc_id % 20 = 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_checkpoints,
           round((count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                 / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)), 4) AS beta,
           round(exp((sum(ly) - (count(*) * sum(lx * ly) - sum(lx) * sum(ly))
                      / (count(*) * sum(lx * lx) - sum(lx) * sum(lx))
                      * sum(lx)) / count(*)), 2) AS k_coef,
           CAST((SELECT max(vocab) FROM chk) AS BIGINT) AS vocab_final
    FROM pts
    """,
    tags=("stats", "text", "documents"),
)
def analytics_heaps_law(spark, sf_dir):
    """HEAPS' LAW fit V(N) = K * N^beta for vocabulary growth over the
    corpus read in doc_id order: each word contributes to the vocab
    curve at its FIRST-occurrence document (min doc_id per word — one
    groupBy, no ordered scan of the corpus), cumulative token and
    vocab counts at every 20th document form the checkpoints, and
    (K, beta) come from closed-form log-log least squares.

    Scale: token counts and first-occurrence docs are plain
    aggregations; the cumulative windows run over the per-DOC count
    relation (bounded by #docs, tiny vs token volume). The companion
    of text_zipf_fit (frequency law) on the growth axis."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                    " ",
                ),
                lambda w: w != F.lit(""),
            )
        ).alias("w"),
    )
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("fd"))
    percnt = words.groupBy("doc_id").agg(F.count("*").alias("cnt"))
    wcum = Window.orderBy("doc_id")
    tokcum = percnt.select(
        "doc_id", F.sum("cnt").over(wcum).alias("toks")
    )
    voccum = firsts.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").alias("nv")
    )
    chk = tokcum.join(voccum, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(wcum).alias("vocab"),
    )
    vocab_final = chk.agg(F.max("vocab")).first()[0]
    pts = chk.filter(F.col("doc_id") % 20 == 0).select(
        F.log(F.col("toks") * 1.0).alias("lx"),
        F.log(F.col("vocab") * 1.0).alias("ly"),
    )
    n = F.count("*")
    slope = (n * F.sum(F.col("lx") * F.col("ly")) - F.sum("lx") * F.sum("ly")) / (
        n * F.sum(F.col("lx") * F.col("lx")) - F.sum("lx") * F.sum("lx")
    )
    return pts.agg(
        n.cast("long").alias("n_checkpoints"),
        F.round(slope, 4).alias("beta"),
        F.round(
            F.exp((F.sum("ly") - slope * F.sum("lx")) / n), 2
        ).alias("k_coef"),
        F.lit(vocab_final).cast("long").alias("vocab_final"),
    )


@query(
    "agg_central_moments",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS flag, count(*) AS n, avg(l_extendedprice) AS mu,
             sum(l_extendedprice) AS s1,
             sum(l_extendedprice * l_extendedprice) AS s2,
             sum(l_extendedprice * l_extendedprice * l_extendedprice) AS s3,
             sum(l_extendedprice * l_extendedprice * l_extendedprice
                 * l_extendedprice) AS s4
      FROM lineitem GROUP BY 1
    ), m AS (
      SELECT flag, n, mu,
             s2 / n - mu * mu AS m2,
             s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
             s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n
               - 3 * mu * mu * mu * mu AS m4
      FROM s
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           round(mu, 4) AS mean,
           round(sqrt(m2), 4) AS pop_std,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness_g1,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
    FROM m ORDER BY flag
    """,
    tags=("agg", "stats", "lineitem"),
)
def agg_central_moments(spark, sf_dir):
    """Population SKEWNESS (g1 = m3/m2^1.5) and EXCESS KURTOSIS
    (m4/m2^2 - 3) per return flag, computed from raw power sums so the
    algebra is identical on both engines (built-in skewness/kurtosis
    differ between engines in sample-vs-population convention — this
    pins ONE exact definition).

    Scale: a single map-side-combining hash aggregate producing four
    power sums per group; the moment algebra is per-group scalar
    math."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("double").alias("n"),
        F.avg(x).alias("mu"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    mu = F.col("mu")
    n = F.col("n")
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * F.col("s2") / n + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * F.col("s3") / n
        + 6 * mu * mu * F.col("s2") / n
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "flag",
        n.cast("long").alias("n"),
        F.round(mu, 4).alias("mean"),
        F.round(F.sqrt(m2), 4).alias("pop_std"),
        F.round(m3 / (m2 * F.sqrt(m2)), 6).alias("skewness_g1"),
        F.round(m4 / (m2 * m2) - 3, 6).alias("kurtosis_excess"),
    ).orderBy("flag")


@query(
    "agg_ols_loglog_elasticity",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             ln(l_extendedprice / l_quantity) AS x,
             ln(l_quantity) AS y
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ), s AS (
      SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pts GROUP BY 1
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS elasticity,
           round(pow(n * sxy - sx * sy, 2)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s ORDER BY flag
    """,
    tags=("stats", "regression", "lineitem"),
)
def agg_ols_loglog_elasticity(spark, sf_dir):
    """PRICE ELASTICITY per return flag: OLS slope of ln(quantity) on
    ln(unit price) — the log-log specification whose slope IS the
    elasticity — plus R² from the same power sums. Pure closed-form
    sums; no ML library, no iteration.

    Scale: one map-side-combining aggregate producing six sums per
    group; the regression algebra is per-group scalar math (the
    2-feature generalization lives in agg_ols_two_feature)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    x = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    y = F.log(F.col("l_quantity"))
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        F.round(num / vx, 6).alias("elasticity"),
        F.round(num ** 2 / (vx * vy), 6).alias("r2"),
    ).orderBy("flag")


@query(
    "analytics_robust_means",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), q AS (
      SELECT seg, quantile_cont(v, 0.05) AS p05, quantile_cont(v, 0.95) AS p95
      FROM j GROUP BY 1
    )
    SELECT j.seg, CAST(count(*) AS BIGINT) AS n,
           round(avg(j.v), 4) AS mean,
           round(avg(CASE WHEN j.v < q.p05 THEN q.p05
                          WHEN j.v > q.p95 THEN q.p95 ELSE j.v END), 4)
             AS winsorized_mean,
           round(avg(j.v) FILTER (j.v >= q.p05 AND j.v <= q.p95), 4)
             AS trimmed_mean
    FROM j JOIN q ON q.seg = j.seg
    GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "robust", "orders"),
)
def analytics_robust_means(spark, sf_dir):
    """WINSORIZED and TRIMMED means (5%/95%) of order totals per
    market segment beside the raw mean — the standard
    outlier-robust location estimates (winsorize clamps the tails to
    the fences; trim drops them).

    Scale: pass 1 computes per-group exact 5th/95th percentiles via
    ``operators.exact_quantiles`` (two-pass range-partitioned rank —
    never the ``percentile`` aggregate's single-reducer value map over
    the unbounded order totals); the bounded per-group fence relation
    broadcasts into pass 2's conditional aggregate. Pass 2 reads the
    operator's ``return_values`` checkpoint (the (seg, v) relation the
    quantile pass already materialized) instead of re-running the
    scan + broadcast join — o_totalprice is NOT NULL (TPC-H), so the
    operator's null filter drops no rows and the counts are
    unchanged."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_totalprice").alias("v")
    )
    q, vals = exact_quantiles(
        j, "v", {"p05": 0.05, "p95": 0.95}, group_cols=["seg"],
        return_values=True,
    )
    vals = vals.withColumnRenamed("__v", "v")
    clamped = (
        F.when(F.col("v") < F.col("p05"), F.col("p05"))
        .when(F.col("v") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("v"))
    )
    return (
        vals.join(F.broadcast(q), "seg")
        .groupBy("seg")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("v"), 4).alias("mean"),
            F.round(F.avg(clamped), 4).alias("winsorized_mean"),
            F.round(
                F.avg(
                    F.when(
                        (F.col("v") >= F.col("p05"))
                        & (F.col("v") <= F.col("p95")),
                        F.col("v"),
                    )
                ),
                4,
            ).alias("trimmed_mean"),
        )
        .orderBy("seg")
    )


@query(
    "analytics_iqr_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type, quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY 1
    )
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           round(max(q.q3 - q.q1), 4) AS iqr,
           CAST(count(*) FILTER (
             e.value < q.q1 - 1.5 * (q.q3 - q.q1)
             OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)) AS BIGINT)
             AS n_outliers,
           round(count(*) FILTER (
             e.value < q.q1 - 1.5 * (q.q3 - q.q1)
             OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)) * 1.0 / count(*), 6)
             AS outlier_rate
    FROM events e JOIN q USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "outliers", "dq", "events"),
)
def analytics_iqr_outliers(spark, sf_dir):
    """TUKEY IQR fence outlier rate per event type: values beyond
    [Q1 - 1.5*IQR, Q3 + 1.5*IQR] — the boxplot rule, the third point
    in the outlier-detector design space next to anomaly_zscore
    (parametric) and anomaly_mad_robust (median-based).

    Scale: per-group exact quartiles in pass 1 via
    ``operators.exact_quantiles`` (two-pass rank, no single-reducer
    value map), bounded fence relation broadcast, conditional count in
    pass 2 — same two-scan shape as analytics_robust_means."""
    e = t(spark, sf_dir, "events")
    q = exact_quantiles(
        e, "value", {"q1": 0.25, "q3": 0.75}, group_cols=["event_type"]
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.max(iqr), 4).alias("iqr"),
            F.count(F.when(is_out, 1)).cast("long").alias("n_outliers"),
            F.round(
                F.count(F.when(is_out, 1)) * 1.0 / F.count("*"), 6
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


@query(
    "analytics_decile_lift",
    oracle="""
    WITH per_user AS (
      SELECT user_id, sum(value) AS v FROM events GROUP BY 1
    ), ranked AS (
      SELECT v, ntile(10) OVER (ORDER BY v DESC, user_id) AS decile
      FROM per_user
    )
    SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
           round(sum(v), 4) AS total_value,
           round(sum(v) / (SELECT sum(v) FROM per_user), 6) AS share,
           round((sum(v) / count(*))
                 / ((SELECT sum(v) FROM per_user)
                    / (SELECT count(*) FROM per_user)), 4) AS lift
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "analytics", "events"),
)
def analytics_decile_lift(spark, sf_dir):
    """DECILE LIFT table: users ranked by total event value into
    deciles (ntile over the per-user aggregate, deterministic
    (v, user_id) order); per-decile share of total value and lift vs
    the global per-user average — the model-free targeting baseline
    every campaign/churn model is judged against ('top decile carries
    4x average').

    Scale: the window runs over the PER-USER aggregate (entity-
    bounded, far smaller than events); at extreme user counts swap
    ntile for the two-pass percentile-threshold bucketing
    (analytics_robust_means shape) at the cost of exact equal-size
    deciles."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.sum("value").alias("v"))
    tot = per_user.agg(
        F.sum("v").alias("tv"), F.count("*").alias("tn")
    )
    ranked = per_user.select(
        "v",
        F.ntile(10)
        .over(Window.orderBy(F.desc("v"), F.asc("user_id")))
        .alias("decile"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.sum("v"), 4).alias("total_value"),
            F.round(F.sum("v") / F.first("tv"), 6).alias("share"),
            F.round(
                (F.sum("v") / F.count("*"))
                / (F.first("tv") / F.first("tn")),
                4,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


@query(
    "analytics_markov_entropy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), trans AS (
      SELECT prev AS s, event_type AS tgt, count(*) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ), row_tot AS (
      SELECT s, sum(c) AS cs FROM trans GROUP BY 1
    ), tot AS (SELECT sum(c) AS n FROM trans)
    SELECT t.s AS state,
           CAST(r.cs AS BIGINT) AS n_transitions,
           round(r.cs * 1.0 / (SELECT n FROM tot), 6) AS pi,
           round(-sum((t.c * 1.0 / r.cs) * ln(t.c * 1.0 / r.cs)), 6)
             AS h_conditional,
           round(-sum((t.c * 1.0 / (SELECT n FROM tot))
                      * ln(t.c * 1.0 / r.cs)), 6) AS h_contribution
    FROM trans t JOIN row_tot r ON r.s = t.s
    GROUP BY t.s, r.cs ORDER BY 1
    """,
    tags=("stats", "entropy", "events"),
)
def analytics_markov_entropy(spark, sf_dir):
    """ENTROPY RATE of the empirical event-type Markov chain: per
    state, the stationary weight pi (empirical), the conditional
    next-state entropy H(next | state), and its contribution
    pi_i * H_i to the chain's entropy rate — the predictability
    decomposition of user behavior (which states make the journey
    deterministic vs chaotic). Companion to event_transition_matrix,
    which emits the raw probabilities this query summarizes.

    Scale: the lag window partitions per user (parallel); transition
    counts are a |types|^2-bounded aggregate and all entropy algebra
    runs there."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy(
        F.col("prev").alias("s"), F.col("event_type").alias("tgt")
    ).agg(F.count("*").alias("c"))
    row_tot = trans.groupBy("s").agg(F.sum("c").alias("cs"))
    tot = trans.agg(F.sum("c").alias("n"))
    j = trans.join(F.broadcast(row_tot), "s").crossJoin(F.broadcast(tot))
    p_cond = F.col("c") * 1.0 / F.col("cs")
    return (
        j.groupBy("s", "cs")
        .agg(
            F.round(F.first("cs") * 1.0 / F.first("n"), 6).alias("pi"),
            F.round(-F.sum(p_cond * F.log(p_cond)), 6).alias(
                "h_conditional"
            ),
            F.round(
                -F.sum(
                    (F.col("c") * 1.0 / F.col("n")) * F.log(p_cond)
                ),
                6,
            ).alias("h_contribution"),
        )
        .select(
            F.col("s").alias("state"),
            F.col("cs").cast("long").alias("n_transitions"),
            "pi",
            "h_conditional",
            "h_contribution",
        )
        .orderBy("state")
    )


@query(
    "analytics_diff_in_diff",
    oracle="""
    WITH mid AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2 AS m FROM events
    ), treated AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), cells AS (
      SELECT CASE WHEN t.user_id IS NOT NULL THEN 1 ELSE 0 END AS treated,
             CASE WHEN epoch_us(e.ts) >= (SELECT m FROM mid)
                  THEN 1 ELSE 0 END AS post,
             e.value
      FROM events e LEFT JOIN treated t ON t.user_id = e.user_id
      WHERE e.event_type <> 'purchase'
    ), m2 AS (
      SELECT treated, post, avg(value) AS mu, count(*) AS n
      FROM cells GROUP BY 1, 2
    )
    SELECT
      CAST(sum(n) AS BIGINT) AS n_obs,
      round(max(CASE WHEN treated = 1 AND post = 1 THEN mu END), 6) AS t_post,
      round(max(CASE WHEN treated = 1 AND post = 0 THEN mu END), 6) AS t_pre,
      round(max(CASE WHEN treated = 0 AND post = 1 THEN mu END), 6) AS c_post,
      round(max(CASE WHEN treated = 0 AND post = 0 THEN mu END), 6) AS c_pre,
      round((max(CASE WHEN treated = 1 AND post = 1 THEN mu END)
             - max(CASE WHEN treated = 1 AND post = 0 THEN mu END))
            - (max(CASE WHEN treated = 0 AND post = 1 THEN mu END)
               - max(CASE WHEN treated = 0 AND post = 0 THEN mu END)), 6)
        AS did_estimate
    FROM m2
    """,
    tags=("stats", "experimentation", "events"),
)
def analytics_diff_in_diff(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES: purchasers (ever) as the treated
    group, the window midpoint as the intervention, non-purchase
    event values as the outcome — DiD = (T_post - T_pre) -
    (C_post - C_pre), the parallel-trends causal estimate that a
    naive post-only comparison gets wrong whenever groups differ at
    baseline.

    Scale: treated flags come from a distinct-user relation joined
    hash-led (broadcast at dimension scale); the whole 2x2 design
    collapses in ONE aggregation pass."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mid = e.agg(((F.min("us") + F.max("us")) / 2).alias("m"))
    treated = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("is_t", F.lit(1))
    )
    cells = (
        e.filter(F.col("event_type") != "purchase")
        .join(F.broadcast(treated), "user_id", "left")
        .crossJoin(F.broadcast(mid))
        .select(
            F.coalesce(F.col("is_t"), F.lit(0)).alias("treated"),
            F.when(F.col("us") >= F.col("m"), 1).otherwise(0).alias("post"),
            "value",
        )
    )
    m2 = cells.groupBy("treated", "post").agg(
        F.avg("value").alias("mu"), F.count("*").alias("n")
    )

    def cell(tr, po):
        return F.max(
            F.when(
                (F.col("treated") == tr) & (F.col("post") == po), F.col("mu")
            )
        )

    return m2.agg(
        F.sum("n").cast("long").alias("n_obs"),
        F.round(cell(1, 1), 6).alias("t_post"),
        F.round(cell(1, 0), 6).alias("t_pre"),
        F.round(cell(0, 1), 6).alias("c_post"),
        F.round(cell(0, 0), 6).alias("c_pre"),
        F.round(
            (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0)), 6
        ).alias("did_estimate"),
    )


@query(
    "analytics_cuped",
    oracle="""
    WITH mid AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) / 2 AS m FROM events
    ), per_user AS (
      SELECT user_id,
             avg(value) FILTER (epoch_us(ts) <  (SELECT m FROM mid)) AS pre,
             avg(value) FILTER (epoch_us(ts) >= (SELECT m FROM mid)) AS post
      FROM events GROUP BY 1
    ), both_ AS (
      SELECT pre, post FROM per_user
      WHERE pre IS NOT NULL AND post IS NOT NULL
    ), s AS (
      SELECT count(*) AS n, avg(pre) AS mp, avg(post) AS mq,
             sum(pre * post) AS spq, sum(pre * pre) AS spp,
             sum(post * post) AS sqq
      FROM both_
    ), fit AS (
      SELECT n, mp, mq,
             (spq - n * mp * mq) / (spp - n * mp * mp) AS theta,
             (sqq - n * mq * mq) / n AS var_post,
             (spq - n * mp * mq) * (spq - n * mp * mq)
               / ((spp - n * mp * mp) * (sqq - n * mq * mq)) AS rho2
      FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           round(theta, 6) AS theta,
           round(var_post, 6) AS var_raw,
           round(var_post * (1 - rho2), 6) AS var_cuped,
           round(rho2, 6) AS variance_reduction
    FROM fit
    """,
    tags=("stats", "experimentation", "events"),
)
def analytics_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al., controlled experiments
    Using Pre-Experiment Data): theta = cov(pre, post) / var(pre) from
    per-user pre/post-midpoint means; the adjusted metric
    post - theta*(pre - mean_pre) has variance var_post * (1 - rho^2) —
    reported as the achievable variance-reduction fraction (how much
    smaller an A/B test this telemetry affords). All from one pass of
    power sums — the experimentation-platform companion to
    ab_test_proportions.

    Scale: single per-user conditional aggregate + one moment pass."""
    e = t(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    mid = e.agg(((F.min("us") + F.max("us")) / 2).alias("m"))
    per_user = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("us") < F.col("m"), F.col("value"))).alias(
                "pre"
            ),
            F.avg(F.when(F.col("us") >= F.col("m"), F.col("value"))).alias(
                "post"
            ),
        )
        .filter(F.col("pre").isNotNull() & F.col("post").isNotNull())
    )
    s = per_user.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("pre").alias("mp"),
        F.avg("post").alias("mq"),
        F.sum(F.col("pre") * F.col("post")).alias("spq"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("post") * F.col("post")).alias("sqq"),
    )
    cov = F.col("spq") - F.col("n") * F.col("mp") * F.col("mq")
    vp = F.col("spp") - F.col("n") * F.col("mp") * F.col("mp")
    vq = F.col("sqq") - F.col("n") * F.col("mq") * F.col("mq")
    theta = cov / vp
    rho2 = cov * cov / (vp * vq)
    return s.select(
        F.col("n").cast("long").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(vq / F.col("n"), 6).alias("var_raw"),
        F.round((vq / F.col("n")) * (1 - rho2), 6).alias("var_cuped"),
        F.round(rho2, 6).alias("variance_reduction"),
    )


@query(
    "stat_crosstab_exact",
    oracle="""
    SELECT CAST(c_nationkey AS BIGINT) AS nation,
           CAST(count(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS BIGINT)
             AS automobile,
           CAST(count(*) FILTER (c_mktsegment = 'BUILDING') AS BIGINT)
             AS building,
           CAST(count(*) FILTER (c_mktsegment = 'FURNITURE') AS BIGINT)
             AS furniture,
           CAST(count(*) FILTER (c_mktsegment = 'HOUSEHOLD') AS BIGINT)
             AS household,
           CAST(count(*) FILTER (c_mktsegment = 'MACHINERY') AS BIGINT)
             AS machinery
    FROM customer GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "crosstab", "customer"),
)
def stat_crosstab_exact(spark, sf_dir):
    """EXACT contingency crosstab via ``df.stat.crosstab`` — the
    DataFrameStatFunctions entry point (SURVEY §2B scalar/stat
    surface), normalized to typed columns: nation x segment counts,
    zero-filled. crosstab returns string keys and value-derived column
    names; the projection pins both to a stable lowercase schema so
    the oracle's FILTER pivot matches column-for-column.

    Scale: crosstab is one groupBy(a, b) count + a driver-side pivot
    of the (|a| x |b|)-bounded result — dimension-sized, fine
    whenever the category product is (nations x segments here)."""
    c = t(spark, sf_dir, "customer")
    ct = c.stat.crosstab("c_nationkey", "c_mktsegment")
    return (
        ct.select(
            F.col("c_nationkey_c_mktsegment").cast("long").alias("nation"),
            F.col("AUTOMOBILE").alias("automobile"),
            F.col("BUILDING").alias("building"),
            F.col("FURNITURE").alias("furniture"),
            F.col("HOUSEHOLD").alias("household"),
            F.col("MACHINERY").alias("machinery"),
        )
        .orderBy("nation")
    )


@query(
    "analytics_stl_lite",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ), trend AS (
      SELECT d, y, avg(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
                                AND 3 FOLLOWING) AS tr
      FROM daily
    ), seas AS (
      SELECT d, y, tr,
             avg(y - tr) OVER (PARTITION BY dayofweek(d)) AS s
      FROM trend
    )
    SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(max(s), 4) AS seasonal,
           round(avg(abs(y - tr - s)), 4) AS mean_abs_residual
    FROM seas GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "timeseries", "orders"),
)
def analytics_stl_lite(spark, sf_dir):
    """STL-LITE seasonal decomposition of daily revenue: centered
    7-day moving-average TREND, day-of-week mean-of-detrended
    SEASONAL, and the residual magnitude per weekday — the one-pass
    relational approximation of STL (no loess, no iteration) that
    answers 'is the weekly cycle real and how big is what's left'.

    Scale: both windows run over the calendar-bounded daily relation;
    the weekday partition has 7 groups of ~n_days/7 rows each."""
    daily = t(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("y"))
    wtr = Window.orderBy("d").rowsBetween(-3, 3)
    trend = daily.select("d", "y", F.avg("y").over(wtr).alias("tr"))
    dow = F.dayofweek("d")
    seas = trend.withColumn(
        "s", F.avg(F.col("y") - F.col("tr")).over(Window.partitionBy(dow))
    )
    return (
        seas.groupBy(dow.cast("long").alias("dow"))
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(F.max("s"), 4).alias("seasonal"),
            F.round(
                F.avg(F.abs(F.col("y") - F.col("tr") - F.col("s"))), 4
            ).alias("mean_abs_residual"),
        )
        .orderBy("dow")
    )


@query(
    "analytics_weighted_metric_trap",
    oracle="""
    WITH li AS (
      SELECT l_returnflag AS flag, l_quantity AS q,
             l_extendedprice / l_quantity AS unit_price
      FROM lineitem WHERE l_quantity > 0
    )
    SELECT flag, CAST(count(*) AS BIGINT) AS n,
           round(avg(unit_price), 4) AS avg_of_ratios,
           round(sum(unit_price * q) / sum(q), 4)
             AS qty_weighted_ratio,
           round(sum(unit_price * q) / sum(q) - avg(unit_price), 4)
             AS weighting_gap
    FROM li GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "dq", "lineitem"),
)
def analytics_weighted_metric_trap(spark, sf_dir):
    """The WEIGHTED-METRIC TRAP made visible: per flag, the naive
    average of per-line unit prices vs the quantity-weighted average
    (ratio of sums), plus their gap — the aggregation-design bug class
    (avg-of-ratios treats a 1-unit line and a 50-unit line as equal
    evidence) that silently skews every dashboard it touches. A
    nonzero gap quantifies how much the metric definition matters on
    THIS data.

    Scale: one map-side-combining aggregate; both definitions ride the
    same pass."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    up = F.col("l_extendedprice") / F.col("l_quantity")
    return (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(up), 4).alias("avg_of_ratios"),
            F.round(
                F.sum(up * F.col("l_quantity")) / F.sum("l_quantity"), 4
            ).alias("qty_weighted_ratio"),
            F.round(
                F.sum(up * F.col("l_quantity")) / F.sum("l_quantity")
                - F.avg(up),
                4,
            ).alias("weighting_gap"),
        )
        .orderBy("flag")
    )


@query(
    "dq_value_drift_psi",
    oracle="""
    WITH mid AS (
      SELECT quantile_cont(epoch_us(o_orderdate), 0.5) AS m FROM orders
    ), lab AS (
      SELECT o_totalprice AS v,
             CASE WHEN epoch_us(o_orderdate) <= (SELECT m FROM mid)
                  THEN 'ref' ELSE 'tgt' END AS half
      FROM orders
    ), q AS (
      SELECT unnest(quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9])) AS thr
      FROM lab WHERE half = 'ref'
    ), binned AS (
      SELECT half,
             1 + (SELECT count(*) FROM q WHERE q.thr < lab.v) AS bin
      FROM lab
    ), cnt AS (
      SELECT bin,
             count(*) FILTER (half = 'ref') AS nr,
             count(*) FILTER (half = 'tgt') AS nt
      FROM binned GROUP BY 1
    ), tot AS (
      SELECT sum(nr) AS tr, sum(nt) AS tt FROM cnt
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           round(nr * 1.0 / (SELECT tr FROM tot), 6) AS p_ref,
           round(nt * 1.0 / (SELECT tt FROM tot), 6) AS p_tgt,
           round((nt * 1.0 / (SELECT tt FROM tot)
                  - nr * 1.0 / (SELECT tr FROM tot))
                 * ln((nt * 1.0 / (SELECT tt FROM tot))
                      / (nr * 1.0 / (SELECT tr FROM tot))), 6)
             AS psi_contribution
    FROM cnt ORDER BY bin
    """,
    tags=("dq", "drift", "orders"),
)
def dq_value_drift_psi(spark, sf_dir):
    """POPULATION STABILITY INDEX: order totals in the later half of
    history vs reference deciles fit on the earlier half — the ML-ops
    drift metric (PSI > 0.2 = retrain). Reference-decile bin edges come
    from exact interpolated quantiles of the reference half; both
    halves are bucketed against the SAME nine thresholds and each bin
    contributes (p_t - p_r)·ln(p_t/p_r).

    Scale: the nine reference deciles come from
    ``operators.exact_quantiles`` (two-pass rank over the unbounded
    order totals — not the single-reducer ``percentile`` map); the
    median-date split stays a plain ``percentile`` because its input
    is calendar-bounded. The 9-row threshold relation broadcasts into
    a single bucketing pass (count of thresholds below v == bin index
    — no CASE ladder to keep in sync); everything after is a 10-row
    rollup."""
    from gcp_etl_spark.operators.quantiles import prefer_agg

    o = t(spark, sf_dir, "orders").withColumn(
        "us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    )
    mid = o.agg(F.expr("percentile(us, 0.5)").alias("m"))
    lab = o.crossJoin(F.broadcast(mid)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("us") <= F.col("m"), "ref").otherwise("tgt").alias(
            "half"
        ),
    )
    # decide the quantile strategy on the PLANNED relation (Catalyst
    # stats are still attached here), THEN cut lineage: without the
    # barrier the scan -> median -> label subtree re-expanded into
    # every consumer (16 orders scans / 6 percentile aggs in one plan
    # — r12, guide §1.2); a checkpointed RDD carries no size estimate,
    # so the strategy gate must fire before the barrier to stay
    # scale-adaptive (agg here, two-pass rank at 100 TB estimates)
    ref = lab.filter(F.col("half") == "ref")
    strat = "agg" if prefer_agg(ref.select(F.col("v").cast("double"))) else "rank"
    lab = lab.transform(barrier)
    q = exact_quantiles(
        lab.filter(F.col("half") == "ref"),
        "v",
        {f"t{i}": i / 10 for i in range(1, 10)},
        strategy=strat,
    )
    thr = F.array(*[F.col(f"t{i}") for i in range(1, 10)])
    binned = lab.crossJoin(F.broadcast(q)).select(
        "half",
        (
            1 + F.size(F.filter(thr, lambda x: x < F.col("v")))
        ).alias("bin"),
    )
    cnt = binned.groupBy("bin").agg(
        F.count(F.when(F.col("half") == "ref", 1)).alias("nr"),
        F.count(F.when(F.col("half") == "tgt", 1)).alias("nt"),
    ).transform(barrier)  # <=10 rows; feeds tot AND the final join
    tot = cnt.agg(F.sum("nr").alias("tr"), F.sum("nt").alias("tt"))
    j = cnt.crossJoin(F.broadcast(tot))
    p_ref = F.col("nr") * 1.0 / F.col("tr")
    p_tgt = F.col("nt") * 1.0 / F.col("tt")
    return j.select(
        F.col("bin").cast("long").alias("bin"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_tgt, 6).alias("p_tgt"),
        F.round((p_tgt - p_ref) * F.log(p_tgt / p_ref), 6).alias(
            "psi_contribution"
        ),
    ).orderBy("bin")


@query(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (SELECT DISTINCT d FROM ud),
    dau AS (
      SELECT d, count(*) AS dau FROM ud GROUP BY 1
    ), wau AS (
      SELECT days.d, count(DISTINCT ud.user_id) AS wau
      FROM days JOIN ud
        ON ud.d <= days.d AND ud.d > days.d - INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT dau.d AS day, CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           round(dau.dau * 1.0 / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d
    ORDER BY day
    """,
    tags=("analytics", "engagement", "events"),
)
def events_dau_wau_stickiness(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    engagement headline triple. The trailing-window DISTINCT cannot
    ride a window function (count distinct over RANGE isn't
    supported); the standard relational shape: the deduped (user, day)
    relation joined to the calendar on the 7-day band, then distinct
    per anchor day.

    Scale: (user, day) is the bounded activity grid (entity x
    calendar); the band join replicates it at most 7x — the same
    bounded-replication argument as join_interval_banded."""
    e = t(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count("*").alias("dau"))
    a = days.select(F.col("d").alias("anchor"))
    wau = (
        ud.join(
            F.broadcast(a),
            (F.col("d") <= F.col("anchor"))
            & (F.col("d") > F.date_sub(F.col("anchor"), 7)),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.anchor)
        .select(
            F.col("d").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


@query(
    "analytics_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS y
      FROM orders GROUP BY 1
    ), mean_ AS (SELECT avg(y) AS mu FROM daily),
    cum AS (
      SELECT d,
             sum(y - (SELECT mu FROM mean_)) OVER (ORDER BY d
               ROWS UNBOUNDED PRECEDING) AS c
      FROM daily
    ), dd AS (
      SELECT d, c,
             max(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS peak
      FROM cum
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           round(max(peak - c), 2) AS max_drawdown,
           CAST(max_by(d, peak - c) AS DATE) AS trough_day,
           round(max(peak), 2) AS max_peak
    FROM dd
    """,
    tags=("stats", "timeseries", "orders"),
)
def analytics_max_drawdown(spark, sf_dir):
    """MAXIMUM DRAWDOWN of the demeaned cumulative revenue series (the
    'performance vs expectation' curve: cumsum of daily revenue minus
    the mean day): largest peak-to-trough fall plus the trough date —
    the risk metric answering 'how far below the best run-rate did we
    slip, and when'. One running sum and one running max — both over
    the calendar-bounded daily relation.

    max_by tie-break: both engines pick the argmax of the SAME exact
    double expression; ties are measure-zero on real revenue."""
    daily = t(spark, sf_dir, "orders").groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.sum("o_totalprice").alias("y"))
    mu = daily.agg(F.avg("y").alias("mu"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.crossJoin(F.broadcast(mu)).select(
        "d", F.sum(F.col("y") - F.col("mu")).over(w).alias("c")
    )
    dd = cum.select("d", "c", F.max("c").over(w).alias("peak"))
    gap = F.col("peak") - F.col("c")
    return dd.agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(F.max(gap), 2).alias("max_drawdown"),
        F.expr("max_by(d, peak - c)").alias("trough_day"),
        F.round(F.max("peak"), 2).alias("max_peak"),
    )


@query(
    "analytics_hhi_trend",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
             c.c_mktsegment AS seg, sum(o.o_totalprice) AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT mon, sum(rev) AS tr, count(*) AS k FROM m GROUP BY 1
    )
    SELECT CAST(m.mon AS DATE) AS month,
           CAST(max(tot.k) AS BIGINT) AS n_segments,
           round(sum((m.rev / tot.tr) * (m.rev / tot.tr)), 6) AS hhi
    FROM m JOIN tot ON tot.mon = m.mon
    GROUP BY 1 ORDER BY 1
    """,
    tags=("stats", "concentration", "orders"),
)
def analytics_hhi_trend(spark, sf_dir):
    """CONCENTRATION TREND: monthly Herfindahl index of revenue across
    market segments — the temporal extension of analytics_herfindahl
    that shows whether revenue is concentrating (HHI rising) or
    diversifying over the business's history.

    Scale: one broadcast-dim join + (month x segment)-bounded
    aggregate; per-month share algebra on that tiny relation."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    m = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("mon"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    tot = m.groupBy("mon").agg(
        F.sum("rev").alias("tr"), F.count("*").alias("k")
    )
    share = F.col("rev") / F.col("tr")
    return (
        m.join(tot, "mon")
        .groupBy(F.col("mon").alias("month"))
        .agg(
            F.max("k").cast("long").alias("n_segments"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------- Cohen's kappa
@query(
    "stats_cohens_kappa",
    oracle="""
    WITH flags AS (
      SELECT o.o_orderkey,
             CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS ra,
             CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS rb
      FROM orders o
      LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                 WHERE l_returnflag = 'R') r
        ON r.l_orderkey = o.o_orderkey
    ),
    c AS (
      SELECT count(*) AS n,
             sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
             sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00,
             sum(ra) AS na1, sum(rb) AS nb1
      FROM flags
    )
    SELECT CAST(n AS BIGINT) AS n_items,
           round((n11 + n00) / CAST(n AS DOUBLE), 6) AS po,
           round((na1 * nb1 + (n - na1) * (n - nb1))
                 / CAST(n AS DOUBLE) / n, 6) AS pe,
           round(((n11 + n00) / CAST(n AS DOUBLE)
                  - (na1 * nb1 + (n - na1) * (n - nb1))
                    / CAST(n AS DOUBLE) / n)
                 / (1 - (na1 * nb1 + (n - na1) * (n - nb1))
                        / CAST(n AS DOUBLE) / n), 6) AS kappa
    FROM c
    """,
    tags=("stats", "agreement", "classification"),
)
def stats_cohens_kappa(spark, sf_dir):
    """COHEN'S KAPPA — chance-corrected agreement between two binary
    "raters" over the same items: here, per order, rater A says
    "finished" (o_orderstatus = 'F') and rater B says "has a returned
    line" (any lineitem with l_returnflag = 'R'). kappa = (po - pe) /
    (1 - pe) with po the observed agreement and pe the agreement
    expected from the raters' marginals. The standard label-quality /
    annotator-consistency gate before training on labeled data.

    Determinism: all four cell counts are exact longs; po/pe/kappa are
    a fixed expression tree over those longs — identical doubles in
    both engines, rounded 6 dp.

    Scale: rater B is a map-side-combinable DISTINCT on the filtered
    lineitem (returned orderkeys only), one equi-join on the orders
    key, then a single 4-cell aggregate — the 2x2 confusion matrix is
    the only thing that leaves the executors."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("rb", F.lit(1))
    )
    flags = o.join(
        returned, o.o_orderkey == returned.l_orderkey, "left"
    ).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("ra"),
        F.coalesce(F.col("rb"), F.lit(0)).alias("rb"),
    )
    c = flags.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)
        ).alias("n11"),
        F.sum(
            F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)
        ).alias("n00"),
        F.sum("ra").alias("na1"),
        F.sum("rb").alias("nb1"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (
        F.col("na1") * F.col("nb1")
        + (F.col("n") - F.col("na1")) * (F.col("n") - F.col("nb1"))
    ) / n / F.col("n")
    return c.select(
        F.col("n").cast("long").alias("n_items"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1) - pe), 6).alias("kappa"),
    )


# ----------------------------------------------- one-way ANOVA
@query(
    "stats_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n_g,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s_g,
             CAST(sum(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS q_g
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s, sum(q_g) AS q,
             sum(s_g * s_g / n_g) AS sg2
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_rows,
           round(sg2 - s * s / n, 4) AS ss_between,
           round(q - sg2, 4) AS ss_within,
           round(((sg2 - s * s / n) / (k - 1))
                 / ((q - sg2) / (n - k)), 6) AS f_stat
    FROM tot
    """,
    tags=("stats", "anova", "hypothesis-test"),
)
def stats_anova_oneway(spark, sf_dir):
    """ONE-WAY ANOVA F-statistic: does mean(value) differ across event
    types? F = (SSB/(k-1)) / (SSW/(n-k)) with the textbook sum-of-
    squares decomposition computed entirely from per-group sufficient
    statistics — count, Σx, Σx² — so the corpus is scanned ONCE and
    everything after the first agg is a k-row relation. The third
    member of the engine's hypothesis-test family next to the KS and
    Mann-Whitney statistics.

    Determinism: Σx and Σx² accumulate as DECIMALS (the value column's
    2-dp money convention — exact, order-free); the sum-of-squares
    algebra then runs over identical doubles in both engines, rounded
    4/6 dp.

    Scale: ONE map-side-combinable aggregate per group; the F algebra
    lives on k rows. Nothing else moves."""
    e = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.sum(dec).cast("double").alias("s_g"),
        F.sum(dec * dec).cast("double").alias("q_g"),
    )
    tot = g.agg(
        F.count("*").alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.sum("q_g").alias("q"),
        F.sum(F.col("s_g") * F.col("s_g") / F.col("n_g")).alias("sg2"),
    )
    ssb = F.col("sg2") - F.col("s") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("sg2")
    return tot.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
    )


# ------------------------------------------ Wilcoxon signed-rank
@query(
    "stats_wilcoxon_signed_rank",
    oracle="""
    WITH halves AS (
      SELECT user_id,
             CAST(sum(CASE WHEN day(ts) % 2 = 1
                      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               / count(CASE WHEN day(ts) % 2 = 1 THEN 1 END) AS m_odd,
             CAST(sum(CASE WHEN day(ts) % 2 = 0
                      THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
               / count(CASE WHEN day(ts) % 2 = 0 THEN 1 END) AS m_even
      FROM events GROUP BY user_id
      HAVING count(CASE WHEN day(ts) % 2 = 1 THEN 1 END) > 0
         AND count(CASE WHEN day(ts) % 2 = 0 THEN 1 END) > 0
    ),
    diffs AS (
      SELECT user_id, m_odd - m_even AS d, abs(m_odd - m_even) AS ad
      FROM halves WHERE m_odd <> m_even
    ),
    ranked AS (
      SELECT d,
             rank() OVER (ORDER BY ad)
               + (count(*) OVER (PARTITION BY ad) - 1) / 2.0 AS r
      FROM diffs
    ),
    s AS (
      SELECT count(*) AS n,
             sum(CASE WHEN d > 0 THEN r ELSE 0 END) AS w_plus,
             sum(CASE WHEN d < 0 THEN r ELSE 0 END) AS w_minus
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round(w_plus, 2) AS w_plus,
           round(w_minus, 2) AS w_minus,
           round((w_plus - n * (n + 1) / 4.0)
                 / sqrt(n * (n + 1) * (2 * n + 1) / 24.0), 6) AS z
    FROM s
    """,
    tags=("stats", "hypothesis-test", "ranks"),
)
def stats_wilcoxon_signed_rank(spark, sf_dir):
    """WILCOXON SIGNED-RANK test — the paired nonparametric member
    completing the hypothesis-test family (KS, Mann-Whitney, ANOVA):
    per user, does mean(value) differ between odd and even days of the
    month (a deterministic within-subject pairing)? Zero diffs drop
    (standard), |diff| ties take AVERAGE ranks (rank() + (tie_count -
    1)/2 — the textbook mid-rank), and the normal-approximation z
    accompanies W+/W-.

    Determinism: half-means divide decimal-exact sums by exact counts;
    the rank relation orders identical doubles; rank arithmetic is
    integer until the final divisions.

    Scale: one grouped pass builds per-user half-means (map-side
    combinable); ranking runs on the |users|-row diff relation through
    the engine-standard two-pass range-partitioned global row number
    (operators/quantiles.py) — no single-partition rank window at any
    population size."""
    e = t(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    odd = F.dayofmonth("ts") % 2 == 1
    halves = (
        e.groupBy("user_id")
        .agg(
            (
                F.sum(F.when(odd, dec)).cast("double")
                / F.count(F.when(odd, 1))
            ).alias("m_odd"),
            (
                F.sum(F.when(~odd, dec)).cast("double")
                / F.count(F.when(~odd, 1))
            ).alias("m_even"),
            F.count(F.when(odd, 1)).alias("n_o"),
            F.count(F.when(~odd, 1)).alias("n_e"),
        )
        .filter((F.col("n_o") > 0) & (F.col("n_e") > 0))
    )
    diffs = halves.select(
        (F.col("m_odd") - F.col("m_even")).alias("d"),
        F.abs(F.col("m_odd") - F.col("m_even")).alias("ad"),
    ).filter(F.col("d") != 0)
    # average ranks WITHOUT a single-partition rank window: the
    # two-pass range-partitioned row number gives a total order over
    # (ad, d); per-|d| tie group, avg rank = min(rn) + (count-1)/2 —
    # identical to rank() + (ties-1)/2 since rank() IS the group's min
    # row number. Same engine-standard shape as the percentile sweep.
    from gcp_etl_spark.operators.quantiles import global_row_number

    rn = global_row_number(diffs, order_cols=["ad", "d"], rn_col="rn")
    tie = rn.groupBy("ad").agg(
        F.min("rn").alias("min_rn"), F.count("*").alias("ties")
    )
    ranked = rn.join(tie, "ad").select(
        "d",
        (F.col("min_rn") + (F.col("ties") - 1) / 2.0).alias("r"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r")).otherwise(0.0)).alias(
            "w_plus"
        ),
        F.sum(F.when(F.col("d") < 0, F.col("r")).otherwise(0.0)).alias(
            "w_minus"
        ),
    )
    n = F.col("n")
    return s.select(
        n.cast("long").alias("n_pairs"),
        F.round("w_plus", 2).alias("w_plus"),
        F.round("w_minus", 2).alias("w_minus"),
        F.round(
            (F.col("w_plus") - n * (n + 1) / 4.0)
            / F.sqrt(n * (n + 1) * (2 * n + 1) / 24.0),
            6,
        ).alias("z"),
    )


# ---------------------------------------------- KS two-sample test
_KS_A = "view"
_KS_B = "purchase"


@query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END AS a,
             CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END AS b
      FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
    ),
    dv AS (
      SELECT value, sum(a) AS ca, sum(b) AS cb FROM s GROUP BY value
    ),
    n AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM dv),
    c AS (
      SELECT sum(ca) OVER (ORDER BY value) AS cuma,
             sum(cb) OVER (ORDER BY value) AS cumb
      FROM dv
    ),
    d AS (
      SELECT max(abs(cuma * n.nb - cumb * n.na)) AS dnum
      FROM c CROSS JOIN n
    )
    SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
           round(CAST(dnum AS DOUBLE) / (n.na * n.nb), 9) AS ks_d,
           round(least(1.0,
                 2 * exp(-2.0 * (CAST(dnum AS DOUBLE) / (n.na * n.nb))
                             * (CAST(dnum AS DOUBLE) / (n.na * n.nb))
                             * n.na * n.nb / (n.na + n.nb))), 6)
             AS p_asymptotic
    FROM d CROSS JOIN n
    """,
    tags=("stats", "hypothesis-test", "distribution"),
)
def stats_ks_two_sample(spark, sf_dir):
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV TEST (distribution equality of
    ``value`` between two event types): D = sup|F_a - F_b| over the
    pooled ECDF, with the one-term asymptotic p-value
    2·exp(-2D²·n_a·n_b/(n_a+n_b)). The distribution-free companion to
    the rank tests (Mann-Whitney, Wilcoxon) already in the suite.

    INTEGER-EXACT D: both ECDFs are cumulative COUNTS over the sorted
    distinct values, and the supremum is computed on the integer
    cross-normalized gap |cum_a·n_b − cum_b·n_a| — division happens
    once, on the final maximum, so the statistic is bit-identical
    cross-engine with zero float-boundary ambiguity.

    Scale: collapses to one row per DISTINCT value (map-side), then
    the engine-standard two-pass range-partitioned cumulative sum
    (in-partition cumsum + broadcast prefix offsets) — never a
    single-partition window over unbounded distinct values; the
    supremum is a plain max agg."""
    from gcp_etl_spark.operators.quantiles import range_prefix_sums

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    dv = e.groupBy("value").agg(
        F.sum((F.col("event_type") == _KS_A).cast("long")).alias("ca"),
        F.sum((F.col("event_type") == _KS_B).cast("long")).alias("cb"),
    )
    # shared two-pass cumulative-sum primitive (both ECDFs in one call)
    cum, psums = range_prefix_sums(dv, ["value"], ["ca", "cb"])
    n = psums.agg(
        F.sum("ca_psum").alias("na"), F.sum("cb_psum").alias("nb")
    )
    # decimal(38,0) for the cross-normalized products: at >~3e9 rows
    # per side cum·n exceeds int64 (the DuckDB oracle computes these
    # in 128-bit HUGEINT) — decimal keeps the Spark side integer-exact
    # to the oracle's width instead of ANSI-erroring at scale
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(
                dec("ca_cum") * dec("nb") - dec("cb_cum") * dec("na")
            )
        ).alias("dnum"),
        F.any_value("na").alias("na"),
        F.any_value("nb").alias("nb"),
    )
    ks = F.col("dnum").cast("double") / (F.col("na") * F.col("nb"))
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(ks, 9).alias("ks_d"),
        F.round(
            # clamp: the one-term asymptotic series exceeds 1 for
            # small D (review finding) — a probability caps at 1
            F.least(
                F.lit(1.0),
                2
                * F.exp(
                    -2.0 * ks * ks * F.col("na") * F.col("nb")
                    / (F.col("na") + F.col("nb"))
                ),
            ),
            6,
        ).alias("p_asymptotic"),
    )


# --------------------------------------------------- QQ decile table
@query(
    "stats_qq_deciles",
    oracle=f"""
    WITH idx AS (SELECT unnest(range(1, 10)) AS i),
    qa AS (
      SELECT quantile_cont(value,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM events WHERE event_type = '{_KS_A}'
    ),
    qb AS (
      SELECT quantile_cont(value,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM events WHERE event_type = '{_KS_B}'
    )
    SELECT CAST(i / 10.0 AS DOUBLE) AS p,
           round(qa.qs[CAST(i AS INT)], 6) AS q_a,
           round(qb.qs[CAST(i AS INT)], 6) AS q_b,
           round(qb.qs[CAST(i AS INT)] - qa.qs[CAST(i AS INT)], 6) AS gap
    FROM idx CROSS JOIN qa CROSS JOIN qb ORDER BY p
    """,
    tags=("stats", "distribution", "quantiles"),
)
def stats_qq_deciles(spark, sf_dir):
    """QUANTILE-QUANTILE DECILE TABLE between two event types — the
    numeric backbone of a Q-Q plot (where the distributions diverge,
    and by how much at each decile), complementing the KS test's
    single-number answer with the location-by-location picture.

    Scale: BOTH decile sweeps run in ONE grouped call of the two-pass
    range-partitioned exact quantile operator (event_type is the group
    key — one exchange serves both sides, nine probabilities amortize
    it); the pivot join is 9×9 rows."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_KS_A, _KS_B)
    )
    probs = {f"d{int(p*10)}": round(p, 1) for p in
             (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)}
    q = exact_quantiles(
        e, "value", probs, group_cols=["event_type"]
    )

    def side(tp, out):
        pairs = F.array(
            *[
                F.struct(
                    F.lit(p).alias("p"),
                    F.round(F.col(name), 6).alias(out),
                )
                for name, p in probs.items()
            ]
        )
        return (
            q.filter(F.col("event_type") == tp)
            .select(F.explode(pairs).alias("e"))
            .select("e.p", f"e.{out}")
        )

    qa, qb = side(_KS_A, "q_a"), side(_KS_B, "q_b")
    return (
        qa.join(qb, "p")
        .select(
            "p", "q_a", "q_b",
            F.round(F.col("q_b") - F.col("q_a"), 6).alias("gap"),
        )
        .orderBy("p")
    )


# ------------------------------------------ rank/robust test batteries
@query(
    "stats_kruskal_wallis",
    oracle="""
    WITH dv AS (
      SELECT value, count(*) AS c FROM events GROUP BY value
    ), cum AS (
      SELECT value, c, sum(c) OVER (ORDER BY value) AS c_cum FROM dv
    ), dvt AS (
      SELECT value, event_type, count(*) AS cg FROM events GROUP BY 1, 2
    ), r2 AS (
      -- 2*midrank(v) = 2*C(v-) + c + 1 = 2*c_cum - c + 1 (integers)
      SELECT t.event_type,
             sum(t.cg) AS n_g,
             sum(t.cg * (2 * m.c_cum - m.c + 1)) AS r2_g
      FROM dvt t JOIN cum m USING (value) GROUP BY 1
    ), n AS (
      SELECT sum(c) AS nn, sum(c * c * c - c) AS ties FROM dv
    ), h AS (
      SELECT max(n.nn) AS nn, max(n.ties) AS ties,
             count(*) AS k,
             3.0 / (max(n.nn) * (max(n.nn) + 1.0))
               * sum(CAST(r2_g AS DOUBLE) * r2_g / n_g)
               - 3.0 * (max(n.nn) + 1) AS h_raw
      FROM r2 CROSS JOIN n
    )
    SELECT CAST(k AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n,
           round(h_raw, 6) AS h,
           round(h_raw / (1.0 - CAST(ties AS DOUBLE)
                                / (CAST(nn AS DOUBLE) * nn * nn - nn)), 6)
             AS h_tie_corrected
    FROM h
    """,
    tags=("stats", "hypothesis-test", "rank", "events"),
)
def stats_kruskal_wallis(spark, sf_dir):
    """KRUSKAL-WALLIS H (rank one-way ANOVA across ALL event types —
    the k-group extension of the suite's Mann-Whitney): mid-ranks over
    the pooled values, H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1), plus the
    tie-corrected H/(1 − Σ(t³−t)/(N³−N)).

    INTEGER-EXACT RANK SUMS: the pooled relation collapses to one row
    per DISTINCT value (the stats_ks_two_sample shape), where
    2·midrank(v) = 2·cum(v) − c(v) + 1 is an integer, so each group's
    doubled rank sum Σ c_g(v)·(2·cum−c+1) is computed in exact longs —
    floats appear only in the final statistic.

    Scale: distinct-value collapse is map-side; the cumulative count
    rides the engine-standard two-pass range exchange
    (range_prefix_sums); the per-(value,type) counts join the
    distinct-value relation on value — everything is distinct-value-
    sized after the first aggregation."""
    from gcp_etl_spark.operators.quantiles import range_prefix_sums

    e = t(spark, sf_dir, "events").select("event_type", "value")
    dv = e.groupBy("value").agg(F.count("*").alias("c"))
    cum, psums = range_prefix_sums(dv, ["value"], ["c"])
    dvt = e.groupBy("value", "event_type").agg(F.count("*").alias("cg"))
    # decimal(38,0) for the rank-sum and tie accumulators: at 10^9+
    # rows c³ and Σ cg·(2·cum−c+1) exceed int64 (DuckDB's BIGINT sums
    # auto-promote to HUGEINT — decimal keeps the Spark side exact to
    # the oracle's width; same class as the r7 KS ADVICE fix)
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    r2 = (
        dvt.join(cum.select("value", "c", "c_cum"), "value")
        .groupBy("event_type")
        .agg(
            F.sum("cg").alias("n_g"),
            F.sum(
                dec(F.col("cg"))
                * dec(2 * F.col("c_cum") - F.col("c") + 1)
            ).alias("r2_g"),
        )
    )
    n = dv.agg(
        F.sum("c").alias("nn"),
        F.sum(
            dec(F.col("c")) * dec(F.col("c")) * dec(F.col("c"))
            - dec(F.col("c"))
        ).alias("ties"),
    )
    h = r2.crossJoin(F.broadcast(n)).agg(
        F.max("nn").alias("nn"),
        F.max("ties").alias("ties"),
        F.count("*").alias("k"),
        (
            F.lit(3.0)
            / (F.max("nn") * (F.max("nn") + F.lit(1.0)))
            * F.sum(
                F.col("r2_g").cast("double")
                * F.col("r2_g")
                / F.col("n_g")
            )
            - F.lit(3.0) * (F.max("nn") + 1)
        ).alias("h_raw"),
    )
    return h.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n"),
        F.round("h_raw", 6).alias("h"),
        F.round(
            F.col("h_raw")
            / (
                F.lit(1.0)
                - F.col("ties").cast("double")
                / (
                    F.col("nn").cast("double") * F.col("nn") * F.col("nn")
                    - F.col("nn")
                )
            ),
            6,
        ).alias("h_tie_corrected"),
    )


@query(
    "stats_levene_brown_forsythe",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), z AS (
      SELECT e.event_type, abs(e.value - m.med) AS z
      FROM events e JOIN med m USING (event_type)
    ), g AS (
      SELECT event_type, count(*) AS n_g, avg(z) AS zbar_g,
             sum(z * z) AS zz_g, sum(z) AS zs_g
      FROM z GROUP BY 1
    ), tot AS (
      SELECT sum(n_g) AS n, sum(zs_g) / sum(n_g) AS zbar, count(*) AS k
      FROM g
    )
    SELECT CAST(tot.k AS BIGINT) AS n_groups, CAST(tot.n AS BIGINT) AS n,
           round(
             (CAST(tot.n AS DOUBLE) - tot.k) / (tot.k - 1)
             * sum(g.n_g * (g.zbar_g - tot.zbar) * (g.zbar_g - tot.zbar))
             / sum(g.zz_g - g.n_g * g.zbar_g * g.zbar_g), 6) AS f_stat
    FROM g CROSS JOIN tot
    GROUP BY tot.k, tot.n
    """,
    tags=("stats", "hypothesis-test", "robust-stats", "events"),
)
def stats_levene_brown_forsythe(spark, sf_dir):
    """BROWN-FORSYTHE test (Levene's test with group MEDIANS —
    variance homogeneity across event types, the robust gate before
    trusting the suite's one-way ANOVA): z = |x − median_g|, then the
    one-way ANOVA F statistic on z.

    Scale: group medians come from ``operators.exact_quantiles`` (the
    adaptive two-pass/aggregate operator — per-type values are
    unbounded-distinct); the F statistic is two hash aggregations over
    the scored relation. Medians are interpolated identically in both
    engines; the remaining algebra is sums."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles

    e = t(spark, sf_dir, "events").select("event_type", "value")
    med, vals = exact_quantiles(
        e, "value", {"med": 0.5}, group_cols=["event_type"],
        return_values=True,
    )
    z = (
        vals.select("event_type", F.col("__v").alias("value"))
        .join(F.broadcast(med), "event_type")
        .select(
            "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
        )
    )
    g = z.groupBy("event_type").agg(
        F.count("*").alias("n_g"),
        F.avg("z").alias("zbar_g"),
        F.sum(F.col("z") * F.col("z")).alias("zz_g"),
        F.sum("z").alias("zs_g"),
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        (F.sum("zs_g") / F.sum("n_g")).alias("zbar"),
        F.count("*").alias("k"),
    )
    num = F.sum(
        F.col("n_g")
        * (F.col("zbar_g") - F.col("zbar"))
        * (F.col("zbar_g") - F.col("zbar"))
    )
    den = F.sum(
        F.col("zz_g") - F.col("n_g") * F.col("zbar_g") * F.col("zbar_g")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .groupBy("k", "n")
        .agg(
            F.round(
                (F.col("n").cast("double") - F.col("k"))
                / (F.col("k") - 1)
                * num
                / den,
                6,
            ).alias("f_stat")
        )
        .select(
            F.col("k").cast("long").alias("n_groups"),
            F.col("n").cast("long").alias("n"),
            "f_stat",
        )
    )


_PERM_A = "view"
_PERM_B = "purchase"
_PERM_B_COUNT = 199  # Monte-Carlo relabelings; p floors at 1/(B+1) = 0.005


@query(
    "stats_permutation_test",
    oracle=f"""
    WITH s AS (
      SELECT event_id, value,
             CASE WHEN event_type = '{_PERM_A}' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('{_PERM_A}', '{_PERM_B}')
    ), nn AS (
      SELECT sum(a) AS na, count(*) AS nt FROM s
    ), obs AS (
      SELECT avg(value) FILTER (a = 1) - avg(value) FILTER (a = 0) AS d
      FROM s
    ), perm AS (
      -- an md5 hex digest is exactly 32 chars = EIGHT 4-char windows:
      -- permutation b = 8g + w reads window w of digest md5(g : id),
      -- so each row computes ceil(B/8) digests instead of B; the hex
      -- window compares as a fixed-width lowercase STRING against the
      -- %04x threshold floor(2^16 * n_a / n) — lexicographic ==
      -- numeric for fixed-width hex (16-bit draw granularity shifts
      -- the effective assignment p by < 1/65536, immaterial at B=199)
      SELECT g.g * 8 + w.w AS b,
             CASE WHEN substr(
                    md5(CAST(g.g AS VARCHAR) || ':' ||
                        CAST(s.event_id AS VARCHAR)),
                    1 + 4 * w.w, 4)
                  < printf('%04x',
                           CAST(floor(65536.0 * nn.na / nn.nt)
                                AS BIGINT))
                  THEN 1 ELSE 0 END AS side,
             s.value
      FROM s CROSS JOIN nn,
           generate_series(0, {(_PERM_B_COUNT + 7) // 8 - 1}) g(g),
           generate_series(0, 7) w(w)
      WHERE g.g * 8 + w.w < {_PERM_B_COUNT}
    ), diffs AS (
      SELECT b, avg(value) FILTER (side = 1)
               - avg(value) FILTER (side = 0) AS d
      FROM perm GROUP BY b
    )
    SELECT CAST(nn.na AS BIGINT) AS n_a,
           CAST(nn.nt - nn.na AS BIGINT) AS n_b,
           round(obs.d, 6) AS observed_diff,
           CAST({_PERM_B_COUNT} AS BIGINT) AS n_permutations,
           round((1.0 + count(*) FILTER (WHERE abs(diffs.d) >= abs(obs.d)))
                 / ({_PERM_B_COUNT} + 1.0), 6) AS p_value
    FROM diffs CROSS JOIN obs CROSS JOIN nn
    GROUP BY nn.na, nn.nt, obs.d
    """,
    tags=("stats", "hypothesis-test", "resampling", "events"),
)
def stats_permutation_test(spark, sf_dir):
    """MONTE-CARLO RANDOMIZATION TEST for the mean-value difference
    between two event types (the distribution-free companion to the
    suite's bootstrap CI): B = {B} deterministic pseudo-random
    RELABELINGS of the pooled sample (each row joins side A with
    probability n_a/n, via the md5-hash uniform — the engine's
    standard seeded-hash construction, bit-replayable in DuckDB), and
    p = (1 + #{{|d_b| ≥ |d_obs|}}) / (B + 1) — the add-one Monte-Carlo
    estimator, valid under exchangeability exactly like the classical
    permutation test (relabeling is the iid-approximation every
    large-scale implementation uses; fixed-margin permutation needs a
    global per-replicate shuffle, which is the one thing that does not
    distribute).

    Scale: the B×N explode is MAP-SIDE (sequence + explode, no
    shuffle); partial aggregation combines per (replicate, side)
    before the exchange, so only 2B rows shuffle however large the
    corpus — the same contract as the bootstrap."""
    # r13 sf1.0 scaling probe (t8/t32 = 0.88 — no parallel speedup):
    # the single-file events scan handed the B×N md5 explode 1-2
    # partitions, serializing the query's dominant term; spread the
    # pooled sample right after the read (guide §2.5, scale-adaptive)
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_PERM_A, _PERM_B)
    ).select(
        "event_id",
        "value",
        (F.col("event_type") == _PERM_A).cast("int").alias("a"),
    ).repartition(spark.sparkContext.defaultParallelism)
    nn = e.agg(
        F.sum("a").alias("na"), F.count("*").alias("nt")
    )
    obs = e.agg(
        (
            F.avg(F.when(F.col("a") == 1, F.col("value")))
            - F.avg(F.when(F.col("a") == 0, F.col("value")))
        ).alias("d_obs")
    )
    # md5 is the wall-clock term (measured 5.6 of 7.5 s at sf0.1), so
    # the explode is structured digest-FIRST: one digest per
    # (row, group g), then its 32 hex chars posexplode into EIGHT
    # independent 4-char windows (b = 8g + w) — an 8× cut in digests
    # vs the naive per-permutation digest (r9: was 4×; 16-bit draws
    # shift the assignment p by < 1/65536, immaterial at B=199).
    # The hex window compares as a fixed-width lowercase STRING against
    # the %04x-formatted threshold ⌊2¹⁶·n_a/n⌋ (lexicographic ==
    # numeric for fixed-width hex), killing the per-permutation conv.
    n_groups = (_PERM_B_COUNT + 7) // 8
    dig = F.md5(
        F.concat(
            F.col("g").cast("string"),
            F.lit(":"),
            F.col("event_id").cast("string"),
        )
    )
    thr = F.format_string(
        "%04x",
        F.floor(
            F.lit(65536.0) * F.col("na") / F.col("nt")
        ).cast("long"),
    )
    perm = (
        e.crossJoin(F.broadcast(nn))
        .select(
            "value",
            "na",
            "nt",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_groups - 1))
            ).alias("g"),
            "event_id",
        )
        .select(
            "value",
            (F.col("g") * 8).alias("b0"),
            thr.alias("thr"),
            # the digest is materialized as a column BELOW the window
            # explode: Catalyst cannot collapse a Project across a
            # Generate, so md5 stays computed ONCE per (row, group) —
            # the invariant the old regexp_extract_all slicing
            # protected — while the per-window slice becomes a plain
            # substr instead of a regex scan of every digest
            # (guide §1.2 per-task work: the regex engine was pure
            # overhead on the hot 25x-exploded relation)
            dig.alias("dig"),
        )
        .select(
            "value",
            "b0",
            "thr",
            "dig",
            F.posexplode(F.sequence(F.lit(0), F.lit(7))).alias("w", "ww"),
        )
        .filter(F.col("b0") + F.col("w") < _PERM_B_COUNT)
        .select(
            (F.col("b0") + F.col("w")).alias("b"),
            "value",
            (
                F.col("dig").substr(F.col("w") * 4 + 1, F.lit(4))
                < F.col("thr")
            ).cast("int").alias("side"),
        )
    )
    diffs = perm.groupBy("b").agg(
        (
            F.avg(F.when(F.col("side") == 1, F.col("value")))
            - F.avg(F.when(F.col("side") == 0, F.col("value")))
        ).alias("d")
    )
    return (
        diffs.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(nn))
        .groupBy("na", "nt", "d_obs")
        .agg(
            F.round(
                (
                    F.lit(1.0)
                    + F.count(
                        F.when(F.abs("d") >= F.abs("d_obs"), 1)
                    )
                )
                / F.lit(_PERM_B_COUNT + 1.0),
                6,
            ).alias("p_value")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            (F.col("nt") - F.col("na")).cast("long").alias("n_b"),
            F.round("d_obs", 6).alias("observed_diff"),
            F.lit(_PERM_B_COUNT).cast("long").alias("n_permutations"),
            "p_value",
        )
    )


# --------------------------------- stratified A/B (Cochran-M-H) + EB
@query(
    "stats_cmh_stratified",
    oracle="""
    WITH unit AS (
      SELECT c.c_custkey AS k, c.c_mktsegment AS stratum,
             CAST(c.c_custkey % 2 AS INT) AS treat,
             CASE WHEN count(*) FILTER (
                    o.o_orderpriority IN ('1-URGENT', '2-HIGH')) > 0
                  THEN 1 ELSE 0 END AS success
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ), cells AS (
      SELECT stratum,
             sum(CASE WHEN treat = 1 AND success = 1 THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN treat = 1 AND success = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN treat = 0 AND success = 1 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN treat = 0 AND success = 0 THEN 1 ELSE 0 END) AS d
      FROM unit GROUP BY 1
    ), terms AS (
      SELECT stratum, a, b, c, d,
             a + b + c + d AS n,
             CAST((a + b) AS DOUBLE) * (a + c) / (a + b + c + d) AS e_a,
             CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d)
               / ((a + b + c + d) * (a + b + c + d)
                  * (a + b + c + d - 1)) AS v_a
      FROM cells WHERE a + b + c + d > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(a + b + c + d) AS BIGINT) AS n_units,
           round((sum(a - e_a)) * (sum(a - e_a)) / sum(v_a), 6)
             AS cmh_chi2,
           round(sum(CAST(a AS DOUBLE) * d / n)
                 / sum(CAST(b AS DOUBLE) * c / n), 6) AS mh_odds_ratio
    FROM terms
    """,
    tags=("stats", "hypothesis-test", "ab-test", "orders"),
)
def stats_cmh_stratified(spark, sf_dir):
    """COCHRAN–MANTEL–HAENSZEL stratified A/B test (the confounder-
    aware extension of ab_test_proportions): per-customer variant
    (custkey parity) × success (any urgent/high-priority order),
    stratified by market segment; CMH χ² = (Σ(a−E[a]))²/ΣVar(a) pools
    evidence across strata without mixing their base rates, and the
    Mantel–Haenszel odds ratio Σ(ad/n)/Σ(bc/n) is the standard pooled
    effect estimate. Simpson's-paradox insurance for experiment
    readouts.

    Scale: one join + two hash aggregations; cells are
    strata-bounded (5 segments), everything after the per-customer
    rollup is tiny. Cell counts are exact longs; doubles appear only
    in the per-stratum E/V terms (≤5 of them)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    unit = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("c_custkey").alias("k"),
            F.col("c_mktsegment").alias("stratum"),
            (F.col("c_custkey") % 2).cast("int").alias("treat"),
        )
        .agg(
            (
                F.count(
                    F.when(
                        F.col("o_orderpriority").isin(
                            "1-URGENT", "2-HIGH"
                        ),
                        1,
                    )
                )
                > 0
            )
            .cast("int")
            .alias("success")
        )
    )
    cells = unit.groupBy("stratum").agg(
        F.sum(
            ((F.col("treat") == 1) & (F.col("success") == 1)).cast("long")
        ).alias("a"),
        F.sum(
            ((F.col("treat") == 1) & (F.col("success") == 0)).cast("long")
        ).alias("b"),
        F.sum(
            ((F.col("treat") == 0) & (F.col("success") == 1)).cast("long")
        ).alias("c"),
        F.sum(
            ((F.col("treat") == 0) & (F.col("success") == 0)).cast("long")
        ).alias("d"),
    )
    n = F.col("a") + F.col("b") + F.col("c") + F.col("d")
    terms = cells.filter(n > 1).select(
        "a",
        "b",
        "c",
        "d",
        n.alias("n"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / n
        ).alias("e_a"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (n * n * (n - 1))
        ).alias("v_a"),
    )
    dev = F.sum(F.col("a") - F.col("e_a"))
    return terms.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("n").cast("long").alias("n_units"),
        F.round(dev * dev / F.sum("v_a"), 6).alias("cmh_chi2"),
        F.round(
            F.sum(F.col("a").cast("double") * F.col("d") / F.col("n"))
            / F.sum(F.col("b").cast("double") * F.col("c") / F.col("n")),
            6,
        ).alias("mh_odds_ratio"),
    )


# ----------------------------------------------- equivalence testing
_TOST_DELTA = 5.0  # equivalence margin on the mean difference
_TOST_Z = 1.6448536269514722  # z_{0.95}: one-sided 5% per bound


@query(
    "stats_tost_equivalence",
    oracle=f"""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = '{_PERM_A}' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('{_PERM_A}', '{_PERM_B}')
    ), g AS (
      SELECT a, count(*) AS n, avg(value) AS m,
             sum(value * value) AS ss, sum(value) AS sv
      FROM s GROUP BY 1
    ), w AS (
      SELECT max(CASE WHEN a = 1 THEN n END) AS n1,
             max(CASE WHEN a = 1 THEN m END) AS m1,
             max(CASE WHEN a = 1 THEN (ss - sv * sv / n) / (n - 1) END)
               AS v1,
             max(CASE WHEN a = 0 THEN n END) AS n2,
             max(CASE WHEN a = 0 THEN m END) AS m2,
             max(CASE WHEN a = 0 THEN (ss - sv * sv / n) / (n - 1) END)
               AS v2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           round(m1 - m2, 6) AS mean_diff,
           round(sqrt(v1 / n1 + v2 / n2), 6) AS se,
           round((m1 - m2 + {_TOST_DELTA}) / sqrt(v1 / n1 + v2 / n2), 6)
             AS z_lower,
           round((m1 - m2 - {_TOST_DELTA}) / sqrt(v1 / n1 + v2 / n2), 6)
             AS z_upper,
           ((m1 - m2 + {_TOST_DELTA}) / sqrt(v1 / n1 + v2 / n2)
              > {_TOST_Z}
            AND (m1 - m2 - {_TOST_DELTA}) / sqrt(v1 / n1 + v2 / n2)
              < -{_TOST_Z}) AS equivalent
    FROM w
    """,
    tags=("stats", "hypothesis-test", "equivalence", "events"),
)
def stats_tost_equivalence(spark, sf_dir):
    """TOST EQUIVALENCE TEST (Schuirmann's two one-sided tests,
    public): is the mean difference between two event types WITHIN
    ±{DELTA}? — the inverse question of the difference tests
    (failing to reject ≠ equivalence; TOST is the correct procedure
    for "these two variants are the same" claims). Both one-sided
    z-statistics against the margin, Welch-style unpooled SE, and the
    joint verdict at one-sided α = 5%.

    Scale: ONE map-side-combinable aggregation (n, Σv, Σv²) per side —
    the whole test is a 2-row reduction however large the corpus.
    Variances via the sum-of-squares identity on the same scan."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_PERM_A, _PERM_B)
    ).select(
        "value", (F.col("event_type") == _PERM_A).cast("int").alias("a")
    )
    g = e.groupBy("a").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.sum("value").alias("sv"),
    )
    var = (F.col("ss") - F.col("sv") * F.col("sv") / F.col("n")) / (
        F.col("n") - 1
    )
    w = g.agg(
        F.max(F.when(F.col("a") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("a") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("a") == 1, var)).alias("v1"),
        F.max(F.when(F.col("a") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("a") == 0, F.col("m"))).alias("m2"),
        F.max(F.when(F.col("a") == 0, var)).alias("v2"),
    )
    se = F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    d = F.col("m1") - F.col("m2")
    zl = (d + _TOST_DELTA) / se
    zu = (d - _TOST_DELTA) / se
    return w.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_b"),
        F.round(d, 6).alias("mean_diff"),
        F.round(se, 6).alias("se"),
        F.round(zl, 6).alias("z_lower"),
        F.round(zu, 6).alias("z_upper"),
        ((zl > _TOST_Z) & (zu < -_TOST_Z)).alias("equivalent"),
    )


# ------------------------------------------------ Poisson rate ratio


@query(
    "stats_poisson_rate_ratio",
    oracle=f"""
    WITH span AS (
      SELECT CAST(date_diff('day', min(ts), max(ts)) + 1 AS BIGINT)
               AS days
      FROM events
    ), c AS (
      SELECT count(*) FILTER (event_type = '{_PERM_A}') AS ka,
             count(*) FILTER (event_type = '{_PERM_B}') AS kb
      FROM events
    )
    SELECT CAST(ka AS BIGINT) AS n_a, CAST(kb AS BIGINT) AS n_b,
           span.days AS exposure_days,
           round(CAST(ka AS DOUBLE) / span.days, 6) AS rate_a,
           round(CAST(kb AS DOUBLE) / span.days, 6) AS rate_b,
           round(CAST(ka AS DOUBLE) / kb, 6) AS rate_ratio,
           round(ln(CAST(ka AS DOUBLE) / kb)
                 / sqrt(1.0 / ka + 1.0 / kb), 6) AS z_log_ratio
    FROM c CROSS JOIN span
    """,
    tags=("stats", "hypothesis-test", "poisson", "events"),
)
def stats_poisson_rate_ratio(spark, sf_dir):
    """TWO-SAMPLE POISSON RATE-RATIO TEST (count-process inference —
    incident/arrival rates, where the mean tests assume continuous
    responses): event counts of two types over the shared observation
    window, the rate ratio k_a/k_b (equal exposure cancels), and the
    log-ratio z statistic ln(k_a/k_b)/√(1/k_a + 1/k_b) — the standard
    large-sample test for "did the error rate double?".

    Scale: the entire test is ONE map-side-combinable filtered-count
    aggregation plus a min/max over ts — two scalar rows at any corpus
    size. Counts exact longs; int/int divisions bit-exact."""
    e = t(spark, sf_dir, "events")
    span = e.agg(
        (
            F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
            + 1
        )
        .cast("long")
        .alias("days")
    )
    c = e.agg(
        F.count(F.when(F.col("event_type") == _PERM_A, 1)).alias("ka"),
        F.count(F.when(F.col("event_type") == _PERM_B, 1)).alias("kb"),
    )
    ratio = F.col("ka").cast("double") / F.col("kb")
    return c.crossJoin(F.broadcast(span)).select(
        F.col("ka").cast("long").alias("n_a"),
        F.col("kb").cast("long").alias("n_b"),
        F.col("days").alias("exposure_days"),
        F.round(F.col("ka").cast("double") / F.col("days"), 6).alias(
            "rate_a"
        ),
        F.round(F.col("kb").cast("double") / F.col("days"), 6).alias(
            "rate_b"
        ),
        F.round(ratio, 6).alias("rate_ratio"),
        F.round(
            F.log(ratio)
            / F.sqrt(1.0 / F.col("ka") + 1.0 / F.col("kb")),
            6,
        ).alias("z_log_ratio"),
    )


# ---------------------------------------------- Wilson proportion CI

_WILSON_Z = 1.959963984540054  # z_{0.975}: two-sided 95%


@query(
    "stats_wilson_ci",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CASE WHEN count(*) FILTER (event_type = 'purchase') > 0
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY 1
    ), c AS (SELECT count(*) AS n, sum(conv) AS k FROM u)
    SELECT CAST(n AS BIGINT) AS n_users, CAST(k AS BIGINT) AS n_converted,
           round(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           round((k + {_WILSON_Z} * {_WILSON_Z} / 2)
                 / (n + {_WILSON_Z} * {_WILSON_Z}), 6) AS p_center,
           round(((k + {_WILSON_Z} * {_WILSON_Z} / 2)
                  - {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) * (n - k) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                 / (n + {_WILSON_Z} * {_WILSON_Z}), 6) AS ci_lo,
           round(((k + {_WILSON_Z} * {_WILSON_Z} / 2)
                  + {_WILSON_Z} * sqrt(CAST(k AS DOUBLE) * (n - k) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / 4))
                 / (n + {_WILSON_Z} * {_WILSON_Z}), 6) AS ci_hi
    FROM c
    """,
    tags=("stats", "estimation", "proportion", "events"),
)
def stats_wilson_ci(spark, sf_dir):
    """WILSON SCORE INTERVAL for the user conversion rate — the
    proportion CI that stays inside [0,1] and behaves at small k/n
    where the Wald interval collapses (the estimator-side companion
    of the suite's two-proportion z-TEST): center (k + z²/2)/(n + z²)
    ± z·√(k(n−k)/n + z²/4)/(n + z²) at 95%.

    Scale: one per-user rollup (map-side combinable) then a 1-row
    reduction; exact long counts, int/int divisions."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)) > 0
        )
        .cast("int")
        .alias("conv")
    )
    c = u.agg(F.count("*").alias("n"), F.sum("conv").alias("k"))
    z2 = _WILSON_Z * _WILSON_Z
    kc = F.col("k") + z2 / 2
    den = F.col("n") + z2
    half = _WILSON_Z * F.sqrt(
        F.col("k").cast("double") * (F.col("n") - F.col("k")) / F.col("n")
        + z2 / 4
    )
    return c.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("k").cast("long").alias("n_converted"),
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("p_hat"),
        F.round(kc / den, 6).alias("p_center"),
        F.round((kc - half) / den, 6).alias("ci_lo"),
        F.round((kc + half) / den, 6).alias("ci_hi"),
    )


# --------------------------------------------------- Friedman test
_FR_BLOCKS = 30  # user_id % blocks = the repeated-measures subject


@query(
    "stats_friedman_test",
    oracle=f"""
    WITH k AS (SELECT count(DISTINCT event_type) AS k FROM events),
    cell AS (
      SELECT user_id % {_FR_BLOCKS} AS blk, event_type AS trt,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    ), full_blk AS (
      SELECT blk FROM cell GROUP BY blk
      HAVING count(*) = (SELECT k FROM k)
    ), ranked AS (
      SELECT c.blk, c.trt, c.cnt,
             rank() OVER (PARTITION BY c.blk ORDER BY c.cnt) AS r,
             count(*) OVER (PARTITION BY c.blk, c.cnt) AS tie
      FROM cell c JOIN full_blk USING (blk)
    ), rs AS (
      SELECT trt, sum(2 * r + tie - 1) AS r2_j FROM ranked GROUP BY trt
    ), ties AS (
      SELECT blk, cnt, count(*) AS tt FROM ranked GROUP BY 1, 2
    ), agg AS (
      SELECT (SELECT count(*) FROM full_blk) AS b,
             (SELECT k FROM k) AS k,
             (SELECT sum(r2_j * r2_j) FROM rs) AS sr2,
             (SELECT sum(tt * tt * tt - tt) FROM ties) AS tsum
    )
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
           round(3.0 / (b * k * (k + 1.0)) * sr2 - 3.0 * b * (k + 1),
                 6) AS chi2_f,
           round((3.0 / (b * k * (k + 1.0)) * sr2 - 3.0 * b * (k + 1))
                 / (1.0 - CAST(tsum AS DOUBLE)
                          / (b * k * (CAST(k AS DOUBLE) * k - 1))),
                 6) AS chi2_f_tie_corrected
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "rank", "events"),
)
def stats_friedman_test(spark, sf_dir):
    """FRIEDMAN TEST (rank two-way ANOVA for repeated measures): b
    subject blocks (user_id buckets) × k treatments (event types),
    response = per-cell event count, mid-ranked WITHIN each block;
    χ²_F = 12/(bk(k+1))·Σ R_j² − 3b(k+1), plus the standard tie
    correction 1 − Σ(t³−t)/(bk(k²−1)). Only COMPLETE blocks (all k
    treatments present) enter, computed identically in both engines.

    INTEGER-EXACT RANK SUMS: within a block, 2·midrank = 2·rank_min +
    ties − 1 is an integer, so Σ_j R_j² uses exact longs via the
    doubled-rank identity Σ(2R_j)² = 4·Σ R_j² (the kruskal convention);
    floats appear only in the final statistic.

    Scale: block cells are a bounded hash agg; the within-block rank
    window partitions by block with exactly k rows per partition —
    parallelism = #blocks, no global sort."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        (F.col("user_id") % _FR_BLOCKS).alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(F.count("*").alias("cnt"))
    k1 = e.agg(F.countDistinct("event_type").alias("k"))
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count("*").alias("nt"))
        .crossJoin(F.broadcast(k1))
        .filter(F.col("nt") == F.col("k"))
        .select("blk")
    )
    ranked = cell.join(F.broadcast(full_blk), "blk").select(
        "blk",
        "trt",
        "cnt",
        F.rank().over(Window.partitionBy("blk").orderBy("cnt")).alias("r"),
        F.count("*")
        .over(Window.partitionBy("blk", "cnt"))
        .alias("tie"),
    )
    rs = ranked.groupBy("trt").agg(
        F.sum(2 * F.col("r") + F.col("tie") - 1).alias("r2_j")
    )
    ties = ranked.groupBy("blk", "cnt").agg(F.count("*").alias("tt"))
    b1 = full_blk.agg(F.count("*").alias("b"))
    sr2 = rs.agg(F.sum(F.col("r2_j") * F.col("r2_j")).alias("sr2"))
    tsum = ties.agg(
        F.sum(
            F.col("tt") * F.col("tt") * F.col("tt") - F.col("tt")
        ).alias("tsum")
    )
    agg = (
        b1.crossJoin(F.broadcast(k1))
        .crossJoin(F.broadcast(sr2))
        .crossJoin(F.broadcast(tsum))
    )
    bb, kk = F.col("b"), F.col("k")
    raw = (
        F.lit(3.0) / (bb * kk * (kk + F.lit(1.0))) * F.col("sr2")
        - F.lit(3.0) * bb * (kk + 1)
    )
    corr = raw / (
        F.lit(1.0)
        - F.col("tsum").cast("double")
        / (bb * kk * (kk.cast("double") * kk - 1))
    )
    return agg.select(
        bb.cast("long").alias("n_blocks"),
        kk.cast("long").alias("k"),
        F.round(raw, 6).alias("chi2_f"),
        F.round(corr, 6).alias("chi2_f_tie_corrected"),
    )


# --------------------------------------------------- Cochran's Q

_CQ_BLOCKS = 40
_CQ_THRESH = 49.0  # ~median of value, so the first-event flag is ~Bernoulli(.5)


@query(
    "stats_cochran_q",
    oracle=f"""
    WITH k AS (SELECT count(DISTINCT event_type) AS k FROM events),
    cell AS (
      SELECT user_id % {_CQ_BLOCKS} AS blk, event_type AS trt,
             CASE WHEN arg_min(value, event_id) > {_CQ_THRESH}
                  THEN 1 ELSE 0 END AS x
      FROM events GROUP BY 1, 2
    ), full_blk AS (
      SELECT blk FROM cell GROUP BY blk
      HAVING count(*) = (SELECT k FROM k)
    ), kept AS (
      SELECT c.* FROM cell c JOIN full_blk USING (blk)
    ), col_tot AS (SELECT trt, sum(x) AS cj FROM kept GROUP BY trt),
    row_tot AS (SELECT blk, sum(x) AS ri FROM kept GROUP BY blk),
    agg AS (
      SELECT (SELECT k FROM k) AS k,
             (SELECT count(*) FROM full_blk) AS b,
             (SELECT sum(cj) FROM col_tot) AS n,
             (SELECT sum(cj * cj) FROM col_tot) AS sc2,
             (SELECT sum(ri) FROM row_tot) AS sr,
             (SELECT sum(ri * ri) FROM row_tot) AS sr2
    )
    SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n_success,
           round(CAST(k - 1 AS DOUBLE) * (k * sc2 - CAST(n AS DOUBLE) * n)
                 / (k * sr - sr2), 6) AS q
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "binary", "events"),
)
def stats_cochran_q(spark, sf_dir):
    """COCHRAN'S Q (k-treatment extension of McNemar for binary
    repeated measures): per (user-block, event-type) the binary
    response is "the cell's FIRST event is over the value threshold"
    (a fixed-size property — see the inline note); Q = (k−1)·
    (k·ΣC_j² − N²) / (k·ΣR_i − ΣR_i²) over complete blocks. Every
    accumulator is an integer — the single float is the final ratio.

    Scale: two bounded hash aggs (column totals over k treatments, row
    totals over b blocks) after one map-side cell aggregation; nothing
    driver-bound."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy(
        (F.col("user_id") % _CQ_BLOCKS).alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(
        # x = "first event (min event_id) over the threshold": a
        # FIXED-SIZE property of the cell, so it stays ~Bernoulli(.5)
        # as cells grow with corpus size — any max/avg/majority flag
        # CONCENTRATES with cell size and degenerates Q's denominator
        # to zero at larger scale factors (observed at sf0.01)
        F.when(
            F.min(F.struct("event_id", "value")).getField("value")
            > _CQ_THRESH,
            1,
        )
        .otherwise(0)
        .alias("x")
    )
    k1 = e.agg(F.countDistinct("event_type").alias("k"))
    full_blk = (
        cell.groupBy("blk")
        .agg(F.count("*").alias("nt"))
        .crossJoin(F.broadcast(k1))
        .filter(F.col("nt") == F.col("k"))
        .select("blk")
    )
    kept = cell.join(F.broadcast(full_blk), "blk")
    col_tot = kept.groupBy("trt").agg(F.sum("x").alias("cj"))
    row_tot = kept.groupBy("blk").agg(F.sum("x").alias("ri"))
    agg = (
        k1.crossJoin(
            F.broadcast(full_blk.agg(F.count("*").alias("b")))
        )
        .crossJoin(
            F.broadcast(
                col_tot.agg(
                    F.sum("cj").alias("n"),
                    F.sum(F.col("cj") * F.col("cj")).alias("sc2"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                row_tot.agg(
                    F.sum("ri").alias("sr"),
                    F.sum(F.col("ri") * F.col("ri")).alias("sr2"),
                )
            )
        )
    )
    kk = F.col("k")
    q = (
        (kk - 1).cast("double")
        * (kk * F.col("sc2") - F.col("n").cast("double") * F.col("n"))
        / (kk * F.col("sr") - F.col("sr2"))
    )
    return agg.select(
        F.col("b").cast("long").alias("n_blocks"),
        kk.cast("long").alias("k"),
        F.col("n").cast("long").alias("n_success"),
        F.round(q, 6).alias("q"),
    )


# --------------------------------------------------- Cliff's delta

_CD_A, _CD_B = "click", "view"


@query(
    "stats_cliffs_delta",
    oracle=f"""
    WITH g AS (
      SELECT value,
             count(*) FILTER (event_type = '{_CD_A}') AS c1,
             count(*) FILTER (event_type = '{_CD_B}') AS c2
      FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
      GROUP BY value
    ), cum AS (
      SELECT value, c1, c2,
             sum(c1) OVER (ORDER BY value) AS s1,
             sum(c2) OVER (ORDER BY value) AS s2
      FROM g
    ), agg AS (
      SELECT sum(c1 * (s2 - c2)) AS gt, sum(c2 * (s1 - c1)) AS lt,
             sum(c1) AS n1, sum(c2) AS n2
      FROM cum
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(gt AS BIGINT) AS n_greater, CAST(lt AS BIGINT) AS n_less,
           round((gt - lt) / (1.0 * n1 * n2), 6) AS cliffs_delta
    FROM agg
    """,
    tags=("stats", "effect-size", "rank", "events"),
)
def stats_cliffs_delta(spark, sf_dir):
    """CLIFF'S DELTA (ordinal effect size, the robust companion to the
    suite's Mann-Whitney): δ = (#{x>y} − #{x<y}) / (n₁n₂) between two
    event-type groups — WITHOUT materializing the n₁×n₂ pair matrix.
    Pairs are counted analytically from the DISTINCT-VALUE relation:
    #{x>y} = Σ_v c₁(v)·cum₂(v⁻), an integer fold over one cumulative
    pass (the engine's range_prefix_sums primitive carries both
    groups' counts in a single exchange).

    Scale: |distinct values| rows after a map-side collapse; the
    cumulative sums ride the standard two-pass range exchange — the
    naive pairwise definition would be 10¹⁸ pairs at 10⁹ rows/group."""
    from gcp_etl_spark.operators.quantiles import range_prefix_sums

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    g = e.groupBy("value").agg(
        F.count(F.when(F.col("event_type") == _CD_A, 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == _CD_B, 1)).alias("c2"),
    )
    cum, _ = range_prefix_sums(g, ["value"], ["c1", "c2"])
    agg = cum.agg(
        F.sum(
            F.col("c1") * (F.col("c2_cum") - F.col("c2"))
        ).alias("gt"),
        F.sum(
            F.col("c2") * (F.col("c1_cum") - F.col("c1"))
        ).alias("lt"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("gt").cast("long").alias("n_greater"),
        F.col("lt").cast("long").alias("n_less"),
        F.round(
            (F.col("gt") - F.col("lt"))
            / (F.lit(1.0) * F.col("n1") * F.col("n2")),
            6,
        ).alias("cliffs_delta"),
    )


# ------------------------------------------- Jarque-Bera normality

def _moment_sums(df, col):
    """Exact decimal power sums S1..S4 of a 2dp-valued double column
    (the agg_skew_kurt convention: v, v², v³, v⁴ are exact at
    2/4/6/8 dp and below the decimal widths, so the double→decimal
    casts are lossless in both engines)."""
    v = F.col(col)
    return [
        F.count("*").cast("double").alias("n"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(28,4)")).cast("double").alias("s2"),
        F.sum((v * v * v).cast("decimal(32,6)")).cast("double").alias("s3"),
        F.sum(
            (v * v * v * v).cast("decimal(38,8)")
        ).cast("double").alias("s4"),
    ]


_JB_MOMENTS_SQL = """
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2,
             CAST(sum(CAST(value * value * value AS DECIMAL(32,6)))
                  AS DOUBLE) AS s3,
             CAST(sum(CAST(value * value * value * value AS DECIMAL(38,8)))
                  AS DOUBLE) AS s4
      FROM events
"""


@query(
    "stats_jarque_bera",
    oracle=f"""
    WITH m AS ({_JB_MOMENTS_SQL}),
    c AS (
      SELECT n,
             (s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
               / pow(s2 / n - pow(s1 / n, 2), 1.5) AS skew,
             (s4 / n - 4 * (s1 / n) * (s3 / n)
              + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
               / pow(s2 / n - pow(s1 / n, 2), 2) - 3 AS ekurt
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(skew, 6) AS skew, round(ekurt, 6) AS excess_kurt,
           round(n / 6.0 * (skew * skew + ekurt * ekurt / 4.0), 4) AS jb
    FROM c
    """,
    tags=("stats", "hypothesis-test", "normality", "events"),
)
def stats_jarque_bera(spark, sf_dir):
    """JARQUE-BERA normality test: JB = n/6·(S² + K²/4) from population
    skewness S and excess kurtosis K. Moments come from exact DECIMAL
    power sums (one map-side-combinable aggregate; the agg_skew_kurt
    moment algebra) so the statistic is identical cross-engine up to
    the final IEEE arithmetic, rounded.

    Scale: ONE aggregation pass, four decimal accumulators — no second
    scan for the mean, no per-row deviation materialization."""
    e = t(spark, sf_dir, "events")
    m = e.agg(*_moment_sums(e, "value"))
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    skew = (
        s3 / n - 3 * mean * (s2 / n) + 2 * F.pow(mean, 3)
    ) / F.pow(m2, 1.5)
    ekurt = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * F.pow(mean, 2) * (s2 / n)
        - 3 * F.pow(mean, 4)
    ) / F.pow(m2, 2) - 3
    return m.select(
        n.cast("long").alias("n"),
        F.round(skew, 6).alias("skew"),
        F.round(ekurt, 6).alias("excess_kurt"),
        F.round(n / 6.0 * (skew * skew + ekurt * ekurt / 4.0), 4).alias(
            "jb"
        ),
    )


# --------------------------------------------------- Grubbs statistic


@query(
    "stats_grubbs_max_outlier",
    oracle="""
    WITH m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2
      FROM events
    ), c AS (
      SELECT n, s1 / n AS mu,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS s
      FROM m
    ), dev AS (
      SELECT e.value, abs(e.value - c.mu) AS d, c.n, c.mu, c.s
      FROM events e CROSS JOIN c
    ), mx AS (SELECT max(d) AS dmax FROM dev)
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(max(dmax) / max(s), 6) AS g,
           min(value) AS outlier_value
    FROM dev CROSS JOIN mx WHERE d = dmax
    """,
    tags=("stats", "outlier", "events"),
)
def stats_grubbs_max_outlier(spark, sf_dir):
    """GRUBBS' statistic G = max|x − x̄| / s (sample s): the classical
    single-outlier screen. Mean and s come from exact decimal sums, so
    the per-row deviation |x − x̄| is the same double everywhere and
    the argmax row is engine-independent; ties on the max deviation
    resolve to the smallest value.

    Scale: one moment pass + one max pass over the scan — the
    deviation never shuffles (the 1-row stats relation is broadcast),
    and the argmax filter is a map-side compare against two broadcast
    scalars."""
    e = t(spark, sf_dir, "events")
    v = F.col("value")
    m = e.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    c = m.select(
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s"),
    )
    dev = e.select("value").crossJoin(F.broadcast(c)).select(
        "value", F.abs(v - F.col("mu")).alias("d"), "n", "s"
    )
    mx = dev.agg(F.max("d").alias("dmax"))
    return (
        dev.crossJoin(F.broadcast(mx))
        .filter(F.col("d") == F.col("dmax"))
        .agg(
            F.max("n").cast("long").alias("n"),
            F.round(F.max("dmax") / F.max("s"), 6).alias("g"),
            F.min("value").alias("outlier_value"),
        )
    )


# ---------------------------------- calendar-daily time-series tests
#
# All three share the CALENDAR-BOUNDED daily-revenue series (<= |days|
# rows at ANY corpus size — 2,399 days in the fixture, ~3k for a
# decade of data), so the single-partition windows over the series are
# structurally safe; the heavy work is the map-side-combinable daily
# aggregation underneath. y is integer CENTS (round(price*100) —
# exact, the io_merge_upsert convention), so every prefix/lag operand
# is engine-identical.
_DAILY_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
"""


def _daily(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    return d.select(
        "day",
        "y",
        F.row_number().over(Window.orderBy("day")).alias("t"),
    )


@query(
    "stats_durbin_watson",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    idx AS (
      SELECT day, y, row_number() OVER (ORDER BY day) AS t FROM daily
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(t AS HUGEINT)) AS DOUBLE) AS st,
             CAST(sum(CAST(t AS HUGEINT) * t) AS DOUBLE) AS st2,
             CAST(sum(CAST(t AS HUGEINT) * y) AS DOUBLE) AS sty,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy
      FROM idx
    ), fit AS (
      SELECT n, st, sy,
             (n * sty - st * sy) / (n * st2 - st * st) AS b
      FROM s
    ), res AS (
      SELECT t,
             y - (sy - b * st) / n - b * t AS e,
             lag(y - (sy - b * st) / n - b * t)
               OVER (ORDER BY t) AS e_prev
      FROM idx CROSS JOIN fit
    )
    SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_days,
           round((SELECT b FROM fit), 6) AS slope_cents_per_day,
           round(CAST((SELECT sum(CAST((e - e_prev) * (e - e_prev)
                                       AS DECIMAL(38,6)))
                       FROM res WHERE e_prev IS NOT NULL) AS DOUBLE)
                 / CAST((SELECT sum(CAST(e * e AS DECIMAL(38,6)))
                         FROM res) AS DOUBLE), 6) AS dw
    """,
    tags=("stats", "time-series", "autocorrelation", "orders"),
)
def stats_durbin_watson(spark, sf_dir):
    """DURBIN-WATSON test for lag-1 autocorrelation in the residuals of
    the daily-revenue trend regression: fit y_t = a + b·t by closed-form
    OLS (slope/intercept from exact integer sums Σt, Σt², Σty, Σy —
    cast to double once), then DW = Σ(e_t − e_{t−1})² / Σe_t². Each
    squared residual term is cast to DECIMAL before summing so the two
    sums are order-free (the text_bigram_lm per-term trick); residual
    operands are bit-identical cross-engine because a and b are.

    Scale: the only unbounded work is the daily aggregation (map-side
    combinable); the OLS sums, the lag window, and the two residual
    sums all run on the calendar-bounded series."""
    idx = _daily(spark, sf_dir)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = idx.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec(F.col("t"))).cast("double").alias("st"),
        F.sum(dec(F.col("t")) * F.col("t")).cast("double").alias("st2"),
        F.sum(dec(F.col("t")) * F.col("y")).cast("double").alias("sty"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
    )
    fit = s.select(
        "n",
        "st",
        "sy",
        (
            (F.col("n") * F.col("sty") - F.col("st") * F.col("sy"))
            / (F.col("n") * F.col("st2") - F.col("st") * F.col("st"))
        ).alias("b"),
    )
    e = (
        F.col("y")
        - (F.col("sy") - F.col("b") * F.col("st")) / F.col("n")
        - F.col("b") * F.col("t")
    )
    res = idx.crossJoin(F.broadcast(fit)).select(
        "n",
        "b",
        e.alias("e"),
        F.lag(e).over(Window.orderBy("t")).alias("e_prev"),
    )
    d6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    return res.agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(F.max("b"), 6).alias("slope_cents_per_day"),
        F.round(
            F.sum(
                F.when(
                    F.col("e_prev").isNotNull(),
                    d6(
                        (F.col("e") - F.col("e_prev"))
                        * (F.col("e") - F.col("e_prev"))
                    ),
                )
            ).cast("double")
            / F.sum(d6(F.col("e") * F.col("e"))).cast("double"),
            6,
        ).alias("dw"),
    )


_LB_LAGS = 5


@query(
    "stats_ljung_box",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}),
    idx AS (
      SELECT y, row_number() OVER (ORDER BY day) AS t FROM daily
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy
      FROM idx
    ), d AS (
      SELECT t, y - (SELECT sy / n FROM s) AS dy FROM idx
    ), den AS (
      SELECT CAST(sum(CAST(dy * dy AS DECIMAL(38,6))) AS DOUBLE) AS s0
      FROM d
    ), rk AS (
      SELECT k.k AS lag,
             CAST(sum(CAST(a.dy * b.dy AS DECIMAL(38,6))) AS DOUBLE)
               / (SELECT s0 FROM den) AS r
      FROM (SELECT unnest(range(1, {_LB_LAGS + 1})) AS k) k,
           d a JOIN d b ON b.t = a.t + k.k
      GROUP BY 1
    )
    SELECT CAST((SELECT n FROM s) AS BIGINT) AS n_days,
           round(max(CASE WHEN lag = 1 THEN r END), 6) AS r1,
           round(max(CASE WHEN lag = 2 THEN r END), 6) AS r2,
           round(max(CASE WHEN lag = 3 THEN r END), 6) AS r3,
           round((SELECT n FROM s) * ((SELECT n FROM s) + 2)
                 * sum(r * r / ((SELECT n FROM s) - lag)), 4) AS q_lb
    FROM rk
    """,
    tags=("stats", "time-series", "autocorrelation", "orders"),
)
def stats_ljung_box(spark, sf_dir):
    """LJUNG-BOX portmanteau test on the daily-revenue series: sample
    autocorrelations r_k for lags 1..{L} (ACF denominator convention —
    one variance normalizer), Q = n(n+2)·Σ r_k²/(n−k). Lagged products
    come from an explode(1..{L}) + shifted equi-join on the day index
    — one plan for all lags, not {L} window passes; per-term DECIMAL
    casts make every sum order-free.

    Scale: the lag join is on the bounded daily relation; the
    unbounded scan feeds one map-side daily aggregation."""
    idx = _daily(spark, sf_dir)
    s = idx.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
    )
    d = idx.crossJoin(F.broadcast(s)).select(
        "t", "n", (F.col("y") - F.col("sy") / F.col("n")).alias("dy")
    )
    d6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    den = d.agg(
        F.sum(d6(F.col("dy") * F.col("dy"))).cast("double").alias("s0")
    )
    lags = d.select(
        F.col("t"),
        F.col("dy").alias("dy_a"),
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _LB_LAGS + 1)])
        ).alias("lag"),
    )
    b = d.select(F.col("t").alias("tb"), F.col("dy").alias("dy_b"))
    rk = (
        lags.join(b, F.col("tb") == F.col("t") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(d6(F.col("dy_a") * F.col("dy_b"))).alias("sk"))
        .crossJoin(F.broadcast(den))
        .select("lag", (F.col("sk").cast("double") / F.col("s0")).alias("r"))
    )
    n1 = s.select("n")
    rk2 = rk.crossJoin(F.broadcast(n1)).withColumn(
        "term", F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
    )
    return rk2.agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(F.max(F.when(F.col("lag") == 1, F.col("r"))), 6).alias("r1"),
        F.round(F.max(F.when(F.col("lag") == 2, F.col("r"))), 6).alias("r2"),
        F.round(F.max(F.when(F.col("lag") == 3, F.col("r"))), 6).alias("r3"),
        F.round(
            F.max("n") * (F.max("n") + 2) * F.sum("term"), 4
        ).alias("q_lb"),
    )


# --------------------------------------------------- Bartlett's test
@query(
    "stats_bartlett",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS ni,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2
      FROM events GROUP BY 1
    ), v AS (
      SELECT event_type, ni, (s2 - s1 * s1 / ni) / (ni - 1) AS si2 FROM g
    ), a AS (
      SELECT CAST(sum(ni) AS DOUBLE) AS nn, count(*) AS k,
             sum(CAST((ni - 1) * ln(si2) AS DECIMAL(28,12))) AS sl,
             sum(CAST((ni - 1) * si2 AS DECIMAL(28,8))) AS spnum,
             sum(CAST(1.0 / (ni - 1) AS DECIMAL(28,20))) AS sinv
      FROM v
    )
    SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(((nn - k) * ln(CAST(spnum AS DOUBLE) / (nn - k))
                  - CAST(sl AS DOUBLE))
                 / (1 + (CAST(sinv AS DOUBLE) - 1.0 / (nn - k))
                        / (3.0 * (k - 1))), 6) AS t_bartlett
    FROM a
    """,
    tags=("stats", "hypothesis-test", "variance", "events"),
)
def stats_bartlett(spark, sf_dir):
    """BARTLETT'S TEST for variance homogeneity across the k event
    types (the parametric sibling of the suite's Levene/Brown-
    Forsythe): T = [(N−k)·ln(s_p²) − Σ(n_i−1)·ln(s_i²)] / C with the
    standard correction C. Per-group variances come from exact decimal
    sums; each ln term is one libm op on engine-identical operands,
    cast to DECIMAL before the k-term fold so the sums are order-free.

    Scale: one grouped moment pass (bounded k), then a k-row fold."""
    e = t(spark, sf_dir, "events")
    v0 = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("ni"),
        F.sum(v0.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v0 * v0).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    v = g.select(
        "event_type",
        "ni",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("ni"))
            / (F.col("ni") - 1)
        ).alias("si2"),
    )
    a = v.agg(
        F.sum("ni").cast("double").alias("nn"),
        F.count("*").alias("k"),
        F.sum(
            ((F.col("ni") - 1) * F.log(F.col("si2"))).cast(
                "decimal(28,12)"
            )
        ).alias("sl"),
        F.sum(
            ((F.col("ni") - 1) * F.col("si2")).cast("decimal(28,8)")
        ).alias("spnum"),
        F.sum(
            (F.lit(1.0) / (F.col("ni") - 1)).cast("decimal(28,20)")
        ).alias("sinv"),
    )
    nn, kk = F.col("nn"), F.col("k")
    tstat = (
        (nn - kk) * F.log(F.col("spnum").cast("double") / (nn - kk))
        - F.col("sl").cast("double")
    ) / (
        1
        + (F.col("sinv").cast("double") - F.lit(1.0) / (nn - kk))
        / (F.lit(3.0) * (kk - 1))
    )
    return a.select(
        nn.cast("long").alias("n"),
        kk.cast("long").alias("k"),
        F.round(tstat, 6).alias("t_bartlett"),
    )


# --------------------------------------------------- McNemar's test

_MN_URGENT = ("1-URGENT", "2-HIGH")


@query(
    "stats_mcnemar",
    oracle=f"""
    WITH flags AS (
      SELECT o_custkey,
             max(CASE WHEN o_orderkey % 2 = 0
                       AND o_orderpriority IN {_MN_URGENT}
                      THEN 1 ELSE 0 END) AS x0,
             max(CASE WHEN o_orderkey % 2 = 1
                       AND o_orderpriority IN {_MN_URGENT}
                      THEN 1 ELSE 0 END) AS x1,
             count(*) FILTER (o_orderkey % 2 = 0) AS n0,
             count(*) FILTER (o_orderkey % 2 = 1) AS n1
      FROM orders GROUP BY 1
    ), paired AS (SELECT * FROM flags WHERE n0 > 0 AND n1 > 0),
    c AS (
      SELECT count(*) AS n,
             sum(CASE WHEN x0 = 1 AND x1 = 0 THEN 1 ELSE 0 END) AS b,
             sum(CASE WHEN x0 = 0 AND x1 = 1 THEN 1 ELSE 0 END) AS c
      FROM paired
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
           round((b - c) * (b - c) / (1.0 * (b + c)), 6) AS chi2,
           round((abs(b - c) - 1) * (abs(b - c) - 1)
                 / (1.0 * (b + c)), 6) AS chi2_cc
    FROM c
    """,
    tags=("stats", "hypothesis-test", "paired", "orders"),
)
def stats_mcnemar(spark, sf_dir):
    """McNEMAR'S TEST for paired binary outcomes: per customer, two
    pseudo-conditions (even/odd order keys) each yield a binary
    "placed an urgent order" flag; the test uses only the DISCORDANT
    counts b = #(1→0), c = #(0→1): χ² = (b−c)²/(b+c), plus the
    Edwards continuity correction. Every accumulator is an integer.

    Scale: one grouped flag pass (map-side combinable conditional
    maxes) + a 1-row fold — the pair matrix is never materialized."""
    o = t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin(*_MN_URGENT)
    even = F.col("o_orderkey") % 2 == 0
    flags = o.groupBy("o_custkey").agg(
        F.max(F.when(even & urgent, 1).otherwise(0)).alias("x0"),
        F.max(F.when(~even & urgent, 1).otherwise(0)).alias("x1"),
        F.count(F.when(even, 1)).alias("n0"),
        F.count(F.when(~even, 1)).alias("n1"),
    )
    paired = flags.filter((F.col("n0") > 0) & (F.col("n1") > 0))
    c = paired.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when((F.col("x0") == 1) & (F.col("x1") == 0), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("x0") == 0) & (F.col("x1") == 1), 1).otherwise(0)
        ).alias("c"),
    )
    b_, c_ = F.col("b"), F.col("c")
    return c.select(
        F.col("n").cast("long").alias("n_pairs"),
        b_.cast("long").alias("b"),
        c_.cast("long").alias("c"),
        F.round(
            (b_ - c_) * (b_ - c_) / (F.lit(1.0) * (b_ + c_)), 6
        ).alias("chi2"),
        F.round(
            (F.abs(b_ - c_) - 1)
            * (F.abs(b_ - c_) - 1)
            / (F.lit(1.0) * (b_ + c_)),
            6,
        ).alias("chi2_cc"),
    )


# --------------------------------------------------- Welch's t-test

_WT_A, _WT_B = "purchase", "click"


@query(
    "stats_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2
      FROM events WHERE event_type IN ('{_WT_A}', '{_WT_B}')
      GROUP BY 1
    ), v AS (
      SELECT event_type, n, s1 / n AS mu,
             (s2 - s1 * s1 / n) / (n - 1) AS s2v
      FROM g
    ), w AS (
      SELECT max(CASE WHEN event_type = '{_WT_A}' THEN n END) AS n1,
             max(CASE WHEN event_type = '{_WT_A}' THEN mu END) AS m1,
             max(CASE WHEN event_type = '{_WT_A}' THEN s2v END) AS v1,
             max(CASE WHEN event_type = '{_WT_B}' THEN n END) AS n2,
             max(CASE WHEN event_type = '{_WT_B}' THEN mu END) AS m2,
             max(CASE WHEN event_type = '{_WT_B}' THEN s2v END) AS v2
      FROM v
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_welch,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1)
                    + pow(v2 / n2, 2) / (n2 - 1)), 4) AS df_ws
    FROM w
    """,
    tags=("stats", "hypothesis-test", "two-sample", "events"),
)
def stats_welch_ttest(spark, sf_dir):
    """WELCH'S t-TEST (unequal-variance two-sample mean comparison —
    the parametric twin of the suite's Mann-Whitney) between two event
    types, with the Welch-Satterthwaite degrees of freedom. Means and
    sample variances come from exact decimal sums; the statistic is
    identical IEEE arithmetic both sides, rounded.

    Scale: ONE grouped moment pass over the filtered scan; the final
    statistic is a 1-row pivot fold."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_WT_A, _WT_B)
    )
    v0 = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(v0.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v0 * v0).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    v = g.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2v"),
    )
    pick = lambda et, c: F.max(  # noqa: E731
        F.when(F.col("event_type") == et, F.col(c))
    )
    w = v.agg(
        pick(_WT_A, "n").alias("n1"),
        pick(_WT_A, "mu").alias("m1"),
        pick(_WT_A, "s2v").alias("v1"),
        pick(_WT_B, "n").alias("n2"),
        pick(_WT_B, "mu").alias("m2"),
        pick(_WT_B, "s2v").alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias(
            "t_welch"
        ),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            4,
        ).alias("df_ws"),
    )


# --------------------------------------------------- G-test
_GT_THRESH = 49.0


@query(
    "stats_g_test",
    oracle=f"""
    WITH cells AS (
      SELECT event_type AS r,
             CASE WHEN value > {_GT_THRESH} THEN 1 ELSE 0 END AS c,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT r, c, o,
             sum(o) OVER (PARTITION BY r) AS rt,
             sum(o) OVER (PARTITION BY c) AS ct,
             sum(o) OVER () AS n
      FROM cells
    ), g AS (
      SELECT count(DISTINCT r) AS nr, count(DISTINCT c) AS nc,
             max(n) AS n,
             sum(CAST(2.0 * o * ln(CAST(o AS DOUBLE) * n / (rt * ct))
                      AS DECIMAL(28,12))) AS gsum
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           round(CAST(gsum AS DOUBLE), 6) AS g
    FROM g
    """,
    tags=("stats", "hypothesis-test", "contingency", "events"),
)
def stats_g_test(spark, sf_dir):
    """G-TEST (log-likelihood-ratio contingency test, the
    information-theoretic twin of the suite's χ²): G = 2·Σ O·ln(O·N /
    (row·col)) over the event-type × value-threshold table. Each ln
    term is one libm op on identical integer-derived rationals, cast
    to DECIMAL before the cell fold (order-free); all marginals are
    integers.

    Scale: one map-side cell aggregation (k×2 cells), window marginals
    on the bounded cell relation."""
    e = t(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("r"),
        F.when(F.col("value") > _GT_THRESH, 1).otherwise(0).alias("c"),
    ).agg(F.count("*").alias("o"))
    m = cells.select(
        "r",
        "c",
        "o",
        F.sum("o").over(Window.partitionBy("r")).alias("rt"),
        F.sum("o").over(Window.partitionBy("c")).alias("ct"),
        F.sum("o").over(
            Window.partitionBy()
        ).alias("n"),
    )
    g = m.agg(
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
        F.max("n").alias("n"),
        F.sum(
            (
                F.lit(2.0)
                * F.col("o")
                * F.log(
                    F.col("o").cast("double")
                    * F.col("n")
                    / (F.col("rt") * F.col("ct"))
                )
            ).cast("decimal(28,12)")
        ).alias("gsum"),
    )
    return g.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(F.col("gsum").cast("double"), 6).alias("g"),
    )


# --------------------------------------------------- Fleiss' kappa

_FK_RATINGS = 5  # fixed ratings per item (Fleiss requires constant n)


@query(
    "stats_fleiss_kappa",
    oracle=f"""
    WITH ranked AS (
      SELECT o_custkey AS item, o_orderpriority AS cat,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey) AS rn
      FROM orders
    ), kept AS (
      SELECT item, cat FROM ranked WHERE rn <= {_FK_RATINGS}
        AND item IN (SELECT item FROM ranked GROUP BY item
                     HAVING count(*) >= {_FK_RATINGS})
    ), nij AS (
      SELECT item, cat, count(*) AS nij FROM kept GROUP BY 1, 2
    ), pi AS (
      SELECT item, sum(nij * nij) - {_FK_RATINGS} AS pnum FROM nij
      GROUP BY item
    ), pj AS (
      SELECT cat, sum(nij) AS cj FROM nij GROUP BY cat
    ), agg AS (
      SELECT (SELECT count(*) FROM pi) AS n_items,
             (SELECT sum(pnum) FROM pi) AS pbar_num,
             (SELECT sum(CAST(cj AS HUGEINT) * cj) FROM pj) AS pe_num
    )
    SELECT CAST(n_items AS BIGINT) AS n_items,
           round(CAST(pbar_num AS DOUBLE)
                 / (n_items * {_FK_RATINGS} * ({_FK_RATINGS} - 1)), 6)
             AS p_bar,
           round(CAST(pe_num AS DOUBLE)
                 / pow(CAST(n_items AS DOUBLE) * {_FK_RATINGS}, 2), 6)
             AS p_e,
           round((CAST(pbar_num AS DOUBLE)
                  / (n_items * {_FK_RATINGS} * ({_FK_RATINGS} - 1))
                  - CAST(pe_num AS DOUBLE)
                    / pow(CAST(n_items AS DOUBLE) * {_FK_RATINGS}, 2))
                 / (1 - CAST(pe_num AS DOUBLE)
                        / pow(CAST(n_items AS DOUBLE) * {_FK_RATINGS}, 2)),
                 6) AS kappa
    FROM agg
    """,
    tags=("stats", "agreement", "orders"),
)
def stats_fleiss_kappa(spark, sf_dir):
    """FLEISS' KAPPA (multi-rater categorical agreement, generalizing
    the suite's Cohen's kappa beyond two raters): each customer is an
    "item" whose first {N} orders (by order key — deterministic) are
    the {N} "ratings", category = order priority. κ = (P̄ − P_e)/(1 −
    P_e) with P_i = (Σ_j n_ij² − n)/(n(n−1)) and P_e = Σ_j p_j². Every
    accumulator is an integer (HUGEINT/decimal for Σc_j²); floats are
    the three final ratios.

    Scale: the first-{N} pick is a per-entity bounded window (rows per
    partition = orders per customer); everything after is grouped
    integer counts."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    ranked = o.select(
        F.col("o_custkey").alias("item"),
        F.col("o_orderpriority").alias("cat"),
        F.row_number().over(w).alias("rn"),
    )
    eligible = (
        ranked.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= _FK_RATINGS)
        .select("item")
    )
    kept = ranked.filter(F.col("rn") <= _FK_RATINGS).join(
        eligible, "item"
    )
    nij = kept.groupBy("item", "cat").agg(F.count("*").alias("nij"))
    pi = nij.groupBy("item").agg(
        (F.sum(F.col("nij") * F.col("nij")) - _FK_RATINGS).alias("pnum")
    )
    pj = nij.groupBy("cat").agg(F.sum("nij").alias("cj"))
    agg = (
        pi.agg(
            F.count("*").alias("n_items"),
            F.sum("pnum").alias("pbar_num"),
        )
        .crossJoin(
            F.broadcast(
                pj.agg(
                    F.sum(
                        F.col("cj").cast("decimal(38,0)") * F.col("cj")
                    ).alias("pe_num")
                )
            )
        )
    )
    ni = F.col("n_items")
    p_bar = F.col("pbar_num").cast("double") / (
        ni * _FK_RATINGS * (_FK_RATINGS - 1)
    )
    p_e = F.col("pe_num").cast("double") / F.pow(
        ni.cast("double") * _FK_RATINGS, 2
    )
    return agg.select(
        ni.cast("long").alias("n_items"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (1 - p_e), 6).alias("kappa"),
    )


# --------------------------------------------------- Mood's median test


@query(
    "stats_mood_median",
    oracle="""
    WITH med AS (
      SELECT quantile_cont(value, 0.5) AS gm FROM events
    ), cells AS (
      SELECT event_type,
             CAST(count(*) FILTER (value > (SELECT gm FROM med))
                  AS BIGINT) AS above,
             CAST(count(*) FILTER (value <= (SELECT gm FROM med))
                  AS BIGINT) AS at_or_below
      FROM events GROUP BY 1
    ), m AS (
      SELECT sum(above) AS ta, sum(at_or_below) AS tb,
             sum(above) + sum(at_or_below) AS n
      FROM cells
    )
    SELECT c.event_type, c.above, c.at_or_below,
           round((SELECT gm FROM med), 6) AS grand_median,
           round(pow(c.above - (c.above + c.at_or_below)
                               * CAST(m.ta AS DOUBLE) / m.n, 2)
                 / ((c.above + c.at_or_below) * CAST(m.ta AS DOUBLE) / m.n)
                 + pow(c.at_or_below - (c.above + c.at_or_below)
                                       * CAST(m.tb AS DOUBLE) / m.n, 2)
                 / ((c.above + c.at_or_below)
                    * CAST(m.tb AS DOUBLE) / m.n), 6) AS chi2_contrib
    FROM cells c CROSS JOIN m
    """,
    tags=("stats", "hypothesis-test", "median", "events"),
)
def stats_mood_median(spark, sf_dir):
    """MOOD'S MEDIAN TEST: classify every observation against the
    GRAND median (computed by the engine's two-pass exact_quantiles,
    quantile_cont semantics), then the per-group above/at-or-below
    table with each group's χ² contribution — the k-group
    nonparametric location screen that, unlike Kruskal-Wallis, is
    robust to outliers in the tails.

    Scale: one exact-quantile pass (range-partitioned), one broadcast
    scalar compare, one k×2 hash agg. Counts are integers; the grand
    median is the identical interpolated double in both engines."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles

    e = t(spark, sf_dir, "events").select("event_type", "value")
    med = exact_quantiles(e, "value", {"gm": 0.5})
    cells = (
        e.crossJoin(F.broadcast(med))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("value") > F.col("gm"), 1))
            .cast("long")
            .alias("above"),
            F.count(F.when(F.col("value") <= F.col("gm"), 1))
            .cast("long")
            .alias("at_or_below"),
            F.round(F.max("gm"), 6).alias("grand_median"),
        )
    )
    m = cells.agg(
        F.sum("above").alias("ta"),
        F.sum("at_or_below").alias("tb"),
        (F.sum("above") + F.sum("at_or_below")).alias("n"),
    )
    j = cells.crossJoin(F.broadcast(m))
    ni = F.col("above") + F.col("at_or_below")
    ea = ni * F.col("ta").cast("double") / F.col("n")
    eb = ni * F.col("tb").cast("double") / F.col("n")
    return j.select(
        "event_type",
        "above",
        "at_or_below",
        "grand_median",
        F.round(
            F.pow(F.col("above") - ea, 2) / ea
            + F.pow(F.col("at_or_below") - eb, 2) / eb,
            6,
        ).alias("chi2_contrib"),
    )


# --------------------------------------- Theil's U (uncertainty coeff)
@query(
    "stats_theil_u",
    oracle="""
    WITH cells AS (
      SELECT c_mktsegment AS xs, o_orderpriority AS ys, count(*) AS n
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ), tot AS (SELECT sum(n) AS nn FROM cells),
    hy AS (
      SELECT -sum(CAST((CAST(cy AS DOUBLE) / nn)
                       * ln(CAST(cy AS DOUBLE) / nn)
                       AS DECIMAL(28,18))) AS h_y
      FROM (SELECT ys, sum(n) AS cy FROM cells GROUP BY ys)
      CROSS JOIN tot
    ), hyx AS (
      SELECT -sum(CAST((CAST(n AS DOUBLE) / nn)
                       * ln(CAST(n AS DOUBLE) / cx)
                       AS DECIMAL(28,18))) AS h_y_x
      FROM cells
      JOIN (SELECT xs, sum(n) AS cx FROM cells GROUP BY xs) USING (xs)
      CROSS JOIN tot
    )
    SELECT round(CAST(h_y AS DOUBLE), 6) AS h_y,
           round(CAST(h_y_x AS DOUBLE), 6) AS h_y_given_x,
           round((CAST(h_y AS DOUBLE) - CAST(h_y_x AS DOUBLE))
                 / CAST(h_y AS DOUBLE), 6) AS theil_u
    FROM hy CROSS JOIN hyx
    """,
    tags=("stats", "association", "entropy", "orders"),
)
def stats_theil_u(spark, sf_dir):
    """THEIL'S U (uncertainty coefficient U(priority | segment)): the
    ASYMMETRIC categorical-association measure — how much knowing the
    customer segment reduces the entropy of order priority, U =
    (H(Y) − H(Y|X)) / H(Y). Complements the suite's symmetric
    Cramér's V. Probabilities are integer-count rationals; each ln
    term is cast to DECIMAL before the fold (order-free).

    Scale: one join + one cell hash agg (bounded |segments|×
    |priorities| cells); entropies fold the cell relation."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    cells = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("xs"),
            F.col("o_orderpriority").alias("ys"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = cells.agg(F.sum("n").alias("nn"))
    cy = cells.groupBy("ys").agg(F.sum("n").alias("cy"))
    h_y = (
        cy.crossJoin(F.broadcast(tot))
        .agg(
            (
                -F.sum(
                    (
                        (F.col("cy").cast("double") / F.col("nn"))
                        * F.log(F.col("cy").cast("double") / F.col("nn"))
                    ).cast("decimal(28,18)")
                )
            ).alias("h_y")
        )
    )
    cx = cells.groupBy("xs").agg(F.sum("n").alias("cx"))
    h_y_x = (
        cells.join(cx, "xs")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                -F.sum(
                    (
                        (F.col("n").cast("double") / F.col("nn"))
                        * F.log(F.col("n").cast("double") / F.col("cx"))
                    ).cast("decimal(28,18)")
                )
            ).alias("h_y_x")
        )
    )
    j = h_y.crossJoin(F.broadcast(h_y_x))
    return j.select(
        F.round(F.col("h_y").cast("double"), 6).alias("h_y"),
        F.round(F.col("h_y_x").cast("double"), 6).alias("h_y_given_x"),
        F.round(
            (F.col("h_y").cast("double") - F.col("h_y_x").cast("double"))
            / F.col("h_y").cast("double"),
            6,
        ).alias("theil_u"),
    )


# ----------------------------------------------- jackknife variance


@query(
    "stats_jackknife_ratio",
    oracle="""
    WITH s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS DOUBLE) AS sy,
             CAST(sum(CAST(o_orderkey % 97 + 1 AS BIGINT)) AS DOUBLE) AS sx
      FROM orders
    ), loo AS (
      SELECT (s.sy - round(o_totalprice * 100))
             / (s.sx - (o_orderkey % 97 + 1)) AS ri,
             s.sy / s.sx AS r, s.n
      FROM orders CROSS JOIN s
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(max(r), 6) AS ratio,
           round((max(n) - 1) / max(n)
                 * CAST(sum(CAST((ri - r) * (ri - r) AS DECIMAL(38,20)))
                        AS DOUBLE), 6) AS var_jack,
           round(sqrt((max(n) - 1) / max(n)
                 * CAST(sum(CAST((ri - r) * (ri - r) AS DECIMAL(38,20)))
                        AS DOUBLE)), 6) AS se_jack
    FROM loo
    """,
    tags=("stats", "resampling", "variance", "orders"),
)
def stats_jackknife_ratio(spark, sf_dir):
    """DISTRIBUTED DELETE-1 JACKKNIFE for a NON-LINEAR statistic (the
    ratio estimator R = Σy/Σx): each row's leave-one-out replicate
    R_(i) = (Σy − y_i)/(Σx − x_i) is computed map-side from the two
    broadcast totals — n replicates WITHOUT n passes, the trick that
    makes jackknife variance a one-scan operation at any scale.
    Var_jack = (n−1)/n · Σ(R_(i) − R)²; squared deviations are cast to
    DECIMAL per term (order-free sum). y = integer cents, x = a
    positive integer covariate, so every replicate is the same IEEE
    division of exact integers in both engines.

    Scale: one moment pass + one map-side replicate pass; nothing
    shuffles but two scalar rows."""
    o = t(spark, sf_dir, "orders")
    ycents = F.round(F.col("o_totalprice") * 100).cast("long")
    xcov = (F.col("o_orderkey") % 97 + 1).cast("long")
    s = o.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(ycents).cast("double").alias("sy"),
        F.sum(xcov).cast("double").alias("sx"),
    )
    loo = o.crossJoin(F.broadcast(s)).select(
        (
            (F.col("sy") - F.round(F.col("o_totalprice") * 100))
            / (F.col("sx") - (F.col("o_orderkey") % 97 + 1))
        ).alias("ri"),
        (F.col("sy") / F.col("sx")).alias("r"),
        "n",
    )
    d20 = lambda c: c.cast("decimal(38,20)")  # noqa: E731
    var = (
        (F.max("n") - 1)
        / F.max("n")
        * F.sum(
            d20((F.col("ri") - F.col("r")) * (F.col("ri") - F.col("r")))
        ).cast("double")
    )
    return loo.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max("r"), 6).alias("ratio"),
        F.round(var, 6).alias("var_jack"),
        F.round(F.sqrt(var), 6).alias("se_jack"),
    )


# ------------------------------------- one-sample GOF vs uniform(0,500)

_GOF_M = 500.0  # literal reference domain: events.value ⊂ (0, 490.02]


@query(
    "stats_ks_uniform_gof",
    oracle=f"""
    WITH r AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS i,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(max(greatest(
             CAST(i AS DOUBLE) / n - value / {_GOF_M},
             value / {_GOF_M} - (CAST(i AS DOUBLE) - 1) / n)), 6) AS d
    FROM r
    """,
    tags=("stats", "gof", "events"),
)
def stats_ks_uniform_gof(spark, sf_dir):
    """ONE-SAMPLE KOLMOGOROV-SMIRNOV goodness-of-fit against
    U(0, {M}): D = max_i max(i/n − F₀(x_(i)), F₀(x_(i)) − (i−1)/n).
    The sorted index i comes from the engine's two-pass
    ``global_row_number`` (total order (value, event_id) — ties broken
    deterministically, so both engines walk the identical ECDF), never
    a single-partition sort. F₀ is a literal-scale division.

    Scale: one range exchange + a max fold — the one-sample twin of
    the suite's two-sample KS."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    e = t(spark, sf_dir, "events").select("value", "event_id")
    r = global_row_number(e, ["value", "event_id"], rn_col="i")
    n1 = r.agg(F.count("*").alias("n"))
    j = r.crossJoin(F.broadcast(n1))
    d = F.greatest(
        F.col("i").cast("double") / F.col("n")
        - F.col("value") / _GOF_M,
        F.col("value") / _GOF_M
        - (F.col("i").cast("double") - 1) / F.col("n"),
    )
    return j.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max(d), 6).alias("d"),
    )


@query(
    "stats_cramer_von_mises",
    oracle=f"""
    WITH r AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS i,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(1.0 / (12 * max(n))
                 + CAST(sum(CAST(pow(value / {_GOF_M}
                                     - (2.0 * i - 1) / (2 * n), 2)
                                 AS DECIMAL(38,20))) AS DOUBLE), 6)
             AS w2
    FROM r
    """,
    tags=("stats", "gof", "events"),
)
def stats_cramer_von_mises(spark, sf_dir):
    """CRAMÉR-VON MISES one-sample statistic vs U(0, {M}): W² =
    1/(12n) + Σᵢ (F₀(x_(i)) − (2i−1)/(2n))². Sorted positions from the
    two-pass global rank; each squared term cast to DECIMAL so the
    order of the fold cannot move the sum (the house per-term rule).

    Scale: identical shape to the one-sample KS — range exchange +
    one fold."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    e = t(spark, sf_dir, "events").select("value", "event_id")
    r = global_row_number(e, ["value", "event_id"], rn_col="i")
    n1 = r.agg(F.count("*").alias("n"))
    j = r.crossJoin(F.broadcast(n1))
    term = F.pow(
        F.col("value") / _GOF_M
        - (2.0 * F.col("i") - 1) / (2 * F.col("n")),
        2,
    ).cast("decimal(38,20)")
    return j.agg(
        F.max("n").cast("long").alias("n"),
        F.round(
            F.lit(1.0) / (12 * F.max("n"))
            + F.sum(term).cast("double"),
            6,
        ).alias("w2"),
    )


@query(
    "stats_anderson_darling",
    oracle=f"""
    WITH r AS (
      SELECT value,
             row_number() OVER (ORDER BY value, event_id) AS i,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           round(-CAST(max(n) AS DOUBLE)
                 - CAST(sum(CAST(
                     ((2.0 * i - 1) * ln(value / {_GOF_M})
                      + (2.0 * (n - i) + 1) * ln(1 - value / {_GOF_M}))
                     AS DECIMAL(38,18))) AS DOUBLE) / max(n), 6) AS a2
    FROM r
    """,
    tags=("stats", "gof", "events"),
)
def stats_anderson_darling(spark, sf_dir):
    """ANDERSON-DARLING one-sample statistic vs U(0, {M}) in the
    single-pass form A² = −n − (1/n)·Σᵢ[(2i−1)·ln F₀(x_(i)) +
    (2(n−i)+1)·ln(1−F₀(x_(i)))] — algebraically equal to the textbook
    pairing of x_(i) with x_(n+1−i) but needing NO reversed-rank
    self-join. F₀ < 1 everywhere by the literal domain choice
    ({M} > max value), so both logs are defined; each term is one libm
    ln on identical operands, cast to DECIMAL before the fold.

    Scale: the GOF-family shape — two-pass global rank + one fold.
    AD weights the tails 1/(F(1−F)) — the member of the family that
    catches tail departures KS/CvM miss."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    e = t(spark, sf_dir, "events").select("value", "event_id")
    r = global_row_number(e, ["value", "event_id"], rn_col="i")
    n1 = r.agg(F.count("*").alias("n"))
    j = r.crossJoin(F.broadcast(n1))
    f0 = F.col("value") / _GOF_M
    term = (
        (2.0 * F.col("i") - 1) * F.log(f0)
        + (2.0 * (F.col("n") - F.col("i")) + 1) * F.log(1 - f0)
    ).cast("decimal(38,18)")
    return j.agg(
        F.max("n").cast("long").alias("n"),
        F.round(
            -F.max("n").cast("double")
            - F.sum(term).cast("double") / F.max("n"),
            6,
        ).alias("a2"),
    )


# ------------------------------------------- intraclass correlation


@query(
    "stats_icc_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS DOUBLE) AS ni,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS s2
      FROM events GROUP BY 1
    ), a AS (
      SELECT count(*) AS gk,
             CAST(sum(ni) AS DOUBLE) AS nn,
             sum(CAST(s1 * s1 / ni AS DECIMAL(38,12))) AS ssb_part,
             CAST(sum(CAST(s1 AS DECIMAL(28,8))) AS DOUBLE) AS st1,
             CAST(sum(CAST(s2 AS DECIMAL(38,8))) AS DOUBLE) AS st2,
             sum(CAST(ni * ni AS DECIMAL(38,4))) AS sn2
      FROM g
    ), m AS (
      SELECT gk, nn,
             (CAST(ssb_part AS DOUBLE) - st1 * st1 / nn) / (gk - 1) AS msb,
             (st2 - CAST(ssb_part AS DOUBLE)) / (nn - gk) AS msw,
             (nn - CAST(sn2 AS DOUBLE) / nn) / (gk - 1) AS k0
      FROM a
    )
    SELECT CAST(gk AS BIGINT) AS n_groups, CAST(nn AS BIGINT) AS n,
           round(msb, 6) AS msb, round(msw, 6) AS msw,
           round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1
    FROM m
    """,
    tags=("stats", "agreement", "anova", "events"),
)
def stats_icc_oneway(spark, sf_dir):
    """INTRACLASS CORRELATION ICC(1) (one-way random effects, unequal
    group sizes): MSB/MSW from the one-way ANOVA decomposition with
    k₀ = (N − Σnᵢ²/N)/(g−1) as the effective group size; ICC =
    (MSB − MSW)/(MSB + (k₀−1)·MSW) — the reliability twin of the
    suite's ANOVA. Group moments are exact decimal sums; Σ s₁ᵢ²/nᵢ
    terms are cast to DECIMAL before the g-term fold.

    Scale: one grouped moment pass (bounded g), then a g-row fold."""
    e = t(spark, sf_dir, "events")
    v0 = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count("*").cast("double").alias("ni"),
        F.sum(v0.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v0 * v0).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    a = g.agg(
        F.count("*").alias("gk"),
        F.sum("ni").cast("double").alias("nn"),
        F.sum(
            (F.col("s1") * F.col("s1") / F.col("ni")).cast(
                "decimal(38,12)"
            )
        ).alias("ssb_part"),
        F.sum(F.col("s1").cast("decimal(28,8)")).cast("double").alias(
            "st1"
        ),
        F.sum(F.col("s2").cast("decimal(38,8)")).cast("double").alias(
            "st2"
        ),
        F.sum((F.col("ni") * F.col("ni")).cast("decimal(38,4)")).alias(
            "sn2"
        ),
    )
    m = a.select(
        "gk",
        "nn",
        (
            (F.col("ssb_part").cast("double") - F.col("st1") * F.col("st1") / F.col("nn"))
            / (F.col("gk") - 1)
        ).alias("msb"),
        (
            (F.col("st2") - F.col("ssb_part").cast("double"))
            / (F.col("nn") - F.col("gk"))
        ).alias("msw"),
        (
            (F.col("nn") - F.col("sn2").cast("double") / F.col("nn"))
            / (F.col("gk") - 1)
        ).alias("k0"),
    )
    return m.select(
        F.col("gk").cast("long").alias("n_groups"),
        F.col("nn").cast("long").alias("n"),
        F.round(F.col("msb"), 6).alias("msb"),
        F.round(F.col("msw"), 6).alias("msw"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("k0") - 1) * F.col("msw")),
            6,
        ).alias("icc1"),
    )


# ------------------------------------------------ Cohen's d / Hedges' g
@query(
    "stats_cohens_d",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS flag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,6)))
                  AS DOUBLE) AS s2
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1
    ), v AS (
      SELECT flag, n, s1 / n AS mu,
             (s2 - s1 * s1 / n) / (n - 1) AS s2v
      FROM g
    ), w AS (
      SELECT max(CASE WHEN flag = 'A' THEN n END) AS n1,
             max(CASE WHEN flag = 'A' THEN mu END) AS m1,
             max(CASE WHEN flag = 'A' THEN s2v END) AS v1,
             max(CASE WHEN flag = 'R' THEN n END) AS n2,
             max(CASE WHEN flag = 'R' THEN mu END) AS m2,
             max(CASE WHEN flag = 'R' THEN s2v END) AS v2
      FROM v
    )
    SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_r,
           round(m1 - m2, 6) AS mean_diff,
           round((m1 - m2)
                 / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)),
                 6) AS cohens_d,
           round((m1 - m2)
                 / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
                 * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
    FROM w
    """,
    tags=("stats", "effect-size", "lineitem"),
)
def stats_cohens_d(spark, sf_dir):
    """COHEN'S d + HEDGES' g (standardized mean difference — the
    effect size the suite's t-tests report significance WITHOUT):
    pooled-SD d between returned ('R') and alert ('A') line
    quantities, with Hedges' small-sample bias correction
    J = 1 - 3/(4N - 9). Quantities are integral, so the decimal power
    sums are exact; the statistic is identical IEEE arithmetic both
    sides.

    Scale: ONE grouped moment pass over the filtered scan (map-side
    partial aggregation), then a 2-row pivot fold."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    q = F.col("l_quantity")
    g = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q.cast("decimal(20,6)")).cast("double").alias("s1"),
        F.sum((q * q).cast("decimal(28,6)")).cast("double").alias("s2"),
    )
    v = g.select(
        "flag",
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2v"),
    )
    pick = lambda fl, c: F.max(  # noqa: E731
        F.when(F.col("flag") == fl, F.col(c))
    )
    w = v.agg(
        pick("A", "n").alias("n1"),
        pick("A", "mu").alias("m1"),
        pick("A", "s2v").alias("v1"),
        pick("R", "n").alias("n2"),
        pick("R", "mu").alias("m2"),
        pick("R", "s2v").alias("v2"),
    )
    sp = F.sqrt(
        (
            (F.col("n1") - 1) * F.col("v1")
            + (F.col("n2") - 1) * F.col("v2")
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (F.col("m1") - F.col("m2")) / sp
    j = 1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0)
    return w.select(
        F.col("n1").cast("long").alias("n_a"),
        F.col("n2").cast("long").alias("n_r"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * j, 6).alias("hedges_g"),
    )


# ------------------------------------------- Cochran-Armitage trend


@query(
    "stats_cochran_armitage_trend",
    oracle="""
    WITH g AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
             count(*) AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS r
      FROM orders GROUP BY 1
    ), a AS (
      SELECT sum(n) AS nn, sum(r) AS rr,
             sum(s * r) AS sr, sum(s * n) AS sn,
             sum(s * s * n) AS s2n
      FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n, CAST(rr AS BIGINT) AS n_success,
           round((sr - CAST(sn AS DOUBLE) * rr / nn)
                 / sqrt((CAST(rr AS DOUBLE) / nn)
                        * (1.0 - CAST(rr AS DOUBLE) / nn)
                        * (s2n - CAST(sn AS DOUBLE) * sn / nn)), 6)
             AS z_trend,
           round(pow(sr - CAST(sn AS DOUBLE) * rr / nn, 2)
                 / ((CAST(rr AS DOUBLE) / nn)
                    * (1.0 - CAST(rr AS DOUBLE) / nn)
                    * (s2n - CAST(sn AS DOUBLE) * sn / nn)), 6)
             AS chi2_trend
    FROM a
    """,
    tags=("stats", "hypothesis-test", "trend", "orders"),
)
def stats_cochran_armitage_trend(spark, sf_dir):
    """COCHRAN-ARMITAGE TREND TEST (dose-response for proportions
    across ORDERED groups — what the suite's chi-square cannot see:
    a monotone drift in success rate): dose score = the priority's
    leading digit (1-URGENT .. 5-LOW), success = finished status 'F'.
    T = Σ s·r − (Σ s·n)·R/N, Var = p̄(1−p̄)(Σ s²n − (Σ sn)²/N),
    z = T/√Var. Every accumulator is an exact BIGINT; only the final
    closed form runs in double.

    Scale: one 5-row grouped count pass, then a 1-row fold — the
    standard contingency reduction."""
    o = t(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s")
    ).agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("r"),
    )
    a = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("s") * F.col("r")).alias("sr"),
        F.sum(F.col("s") * F.col("n")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).alias("s2n"),
    )
    nn = F.col("nn").cast("double")
    pbar = F.col("rr").cast("double") / nn
    tnum = F.col("sr") - F.col("sn").cast("double") * F.col("rr") / nn
    var = (
        pbar
        * (1.0 - pbar)
        * (F.col("s2n") - F.col("sn").cast("double") * F.col("sn") / nn)
    )
    return a.select(
        F.col("nn").cast("long").alias("n"),
        F.col("rr").cast("long").alias("n_success"),
        F.round(tnum / F.sqrt(var), 6).alias("z_trend"),
        F.round(F.pow(tnum, 2) / var, 6).alias("chi2_trend"),
    )


# -------------------------------------------------- Cronbach's alpha


@query(
    "stats_cronbach_alpha",
    oracle="""
    WITH u AS (SELECT count(DISTINCT user_id) AS nu FROM events),
    k AS (SELECT count(DISTINCT event_type) AS k FROM events),
    cell AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    item AS (  -- per-item population variance, zero-filled via sums
      SELECT event_type,
             sum(c) AS s1, sum(c * c) AS s2
      FROM cell GROUP BY 1
    ),
    itemvar AS (
      SELECT sum((s2 - CAST(s1 AS DOUBLE) * s1 / nu) / nu) AS sum_var
      FROM item, u
    ),
    totrow AS (
      SELECT user_id, sum(c) AS tot FROM cell GROUP BY 1
    ),
    totvar AS (
      SELECT (sum(tot * tot)
              - CAST(sum(tot) AS DOUBLE) * sum(tot) / max(nu))
             / max(nu) AS var_total
      FROM totrow, u
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(nu AS BIGINT) AS n_users,
           round(CAST(k AS DOUBLE) / (k - 1)
                 * (1.0 - sum_var / var_total), 6) AS cronbach_alpha
    FROM k, u, itemvar, totvar
    """,
    tags=("stats", "reliability", "events"),
)
def stats_cronbach_alpha(spark, sf_dir):
    """CRONBACH'S ALPHA (internal-consistency reliability — do the k
    per-user activity counters measure one latent engagement trait?):
    items = the k event types, subjects = users, score = per-user
    per-type event count, α = k/(k−1)·(1 − Σ var_item / var_total).

    ZERO-FILL VIA SUMS: a user missing a type scores 0, which
    contributes nothing to Σc or Σc² — so population variances over
    ALL users come straight from the present-cell integer sums and
    the global user count, with no pivot and no dense user × type
    materialization (the thing that would not scale).

    Scale: one (user,type) grouped count (map-side partial), two tiny
    reductions over it, one exact distinct-user count."""
    e = t(spark, sf_dir, "events")
    cell = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    u = e.agg(F.countDistinct("user_id").alias("nu"))
    k = e.agg(F.countDistinct("event_type").alias("k"))
    item = cell.groupBy("event_type").agg(
        F.sum("c").alias("s1"), F.sum(F.col("c") * F.col("c")).alias("s2")
    )
    itemvar = item.crossJoin(u).agg(
        F.sum(
            (
                F.col("s2")
                - F.col("s1").cast("double") * F.col("s1") / F.col("nu")
            )
            / F.col("nu")
        ).alias("sum_var")
    )
    totrow = cell.groupBy("user_id").agg(F.sum("c").alias("tot"))
    totvar = totrow.crossJoin(u).agg(
        (
            (
                F.sum(F.col("tot") * F.col("tot"))
                - F.sum("tot").cast("double")
                * F.sum("tot")
                / F.first("nu")
            )
            / F.first("nu")
        ).alias("var_total")
    )
    return (
        k.crossJoin(u)
        .crossJoin(itemvar)
        .crossJoin(totvar)
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("nu").cast("long").alias("n_users"),
            F.round(
                F.col("k").cast("double")
                / (F.col("k") - 1)
                * (1.0 - F.col("sum_var") / F.col("var_total")),
                6,
            ).alias("cronbach_alpha"),
        )
    )


# ------------------------------------------- exact 1-D Wasserstein


@query(
    "stats_wasserstein_1d",
    oracle="""
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS cr
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1
    ), tot AS (
      SELECT sum(ca) AS na, sum(cr) AS nr FROM v
    ), cum AS (
      SELECT q,
             sum(ca) OVER (ORDER BY q) AS fa,
             sum(cr) OVER (ORDER BY q) AS fr,
             lead(q) OVER (ORDER BY q) AS q_next
      FROM v
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nr AS BIGINT) AS n_r,
           round(CAST(sum(abs(fa * nr - fr * na) * (q_next - q))
                      AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nr), 6) AS wasserstein_1
    FROM cum, tot
    WHERE q_next IS NOT NULL
    GROUP BY na, nr
    """,
    tags=("stats", "distribution-distance", "lineitem"),
)
def stats_wasserstein_1d(spark, sf_dir):
    """EXACT 1-D WASSERSTEIN (earth mover's) DISTANCE between the
    quantity distributions of returned vs alert line items:
    W₁ = ∫|F_A − F_B| dx over the shared support, evaluated exactly on
    the ≤50-point integer support as Σ |F_A(q)−F_B(q)|·Δq. The CDF
    difference stays an INTEGER the whole way (|cumA·N_R − cumR·N_A|),
    so the sum is order-free; one double division at the very end —
    the distribution-distance companion to the suite's KS (sup-norm)
    and Jensen-Shannon (density) tests, and the metric ANN/semdedup
    drift monitors care about.

    Scale: the fact scan collapses to the value support first (one
    hash agg, map-side partial); the cumulative window runs on ≤50
    support rows — structurally bounded, single partition by design."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    v = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0)
        ).alias("ca"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("cr"),
    )
    tot = v.agg(F.sum("ca").alias("na"), F.sum("cr").alias("nr"))
    w = Window.orderBy("q")
    cum = v.select(
        "q",
        F.sum("ca").over(w).alias("fa"),
        F.sum("cr").over(w).alias("fr"),
        F.lead("q").over(w).alias("q_next"),
    )
    return (
        cum.filter(F.col("q_next").isNotNull())
        .crossJoin(tot)
        .groupBy("na", "nr")
        .agg(
            F.round(
                F.sum(
                    F.abs(
                        F.col("fa") * F.col("nr")
                        - F.col("fr") * F.col("na")
                    )
                    * (F.col("q_next") - F.col("q"))
                )
                .cast("double")
                / (F.col("na").cast("double") * F.col("nr")),
                6,
            ).alias("wasserstein_1")
        )
        .select(
            F.col("na").cast("long").alias("n_a"),
            F.col("nr").cast("long").alias("n_r"),
            "wasserstein_1",
        )
    )


# ------------------------------------- Goodman-Kruskal gamma / Somers
@query(
    "stats_gamma_somers",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey, count(*) AS n_lines
      FROM lineitem GROUP BY 1
    ), obs AS (
      SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS x,
             lc.n_lines AS y
      FROM orders o JOIN lc ON lc.l_orderkey = o.o_orderkey
    ), cell AS (
      SELECT x, y, count(*) AS n FROM obs GROUP BY 1, 2
    ), pair AS (
      SELECT sum(CASE WHEN b.x > a.x AND b.y > a.y
                      THEN a.n * b.n ELSE 0 END) AS c,
             sum(CASE WHEN b.x > a.x AND b.y < a.y
                      THEN a.n * b.n ELSE 0 END) AS d,
             sum(CASE WHEN b.x > a.x AND b.y = a.y
                      THEN a.n * b.n ELSE 0 END) AS ty
      FROM cell a JOIN cell b
        ON (b.x > a.x) OR (b.x = a.x AND b.y > a.y)
    )
    SELECT CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           round((c - d) * 1.0 / (c + d), 6) AS gk_gamma,
           round((c - d) * 1.0 / (c + d + ty), 6) AS somers_dyx
    FROM pair
    """,
    tags=("stats", "ordinal-association", "orders", "lineitem"),
)
def stats_gamma_somers(spark, sf_dir):
    """GOODMAN-KRUSKAL GAMMA + SOMERS' D (ordinal association between
    order priority rank and order width in line items — the
    ordinal-ordinal slot next to the suite's Kendall tau, which ranks
    continuous pairs): concordant/discordant pair counts computed on
    the CONTINGENCY GRID, never on row pairs — each unordered cell
    pair is visited once via the (x,y)-lexicographic join predicate,
    contributing n_a·n_b pairs at integer exactness. γ ignores ties;
    Somers' d_yx (y = order width as the dependent) additionally
    charges pairs tied on y only, i.e. differing on x (ty).

    Scale: facts collapse to a ≤ 5×|line-widths| cell grid in one
    hash agg; the grid self-join is |cells|² ≈ tiny and constant in
    the data size — the defining trick of grid-based pair statistics
    (same family as stat_crosstab_exact)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    lc = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    obs = o.join(lc, o.o_orderkey == lc.l_orderkey).select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
        F.col("n_lines").alias("y"),
    )
    cell = obs.groupBy("x", "y").agg(F.count("*").alias("n"))
    a = cell.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("n").alias("na")
    )
    b = cell.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("n").alias("nb")
    )
    pair = a.join(
        b,
        (F.col("xb") > F.col("xa"))
        | ((F.col("xb") == F.col("xa")) & (F.col("yb") > F.col("ya"))),
    ).agg(
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        ).alias("d"),
        F.sum(
            F.when(
                (F.col("xb") > F.col("xa")) & (F.col("yb") == F.col("ya")),
                F.col("na") * F.col("nb"),
            ).otherwise(0)
        ).alias("ty"),
    )
    return pair.select(
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round((F.col("c") - F.col("d")) * 1.0 / (F.col("c") + F.col("d")), 6).alias(
            "gk_gamma"
        ),
        F.round(
            (F.col("c") - F.col("d"))
            * 1.0
            / (F.col("c") + F.col("d") + F.col("ty")),
            6,
        ).alias("somers_dyx"),
    )


# --------------------------------------- Lo-MacKinlay variance ratio
_VR_Q = 5


@query(
    "stats_variance_ratio",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS x
      FROM orders GROUP BY 1
    ), sc AS (
      SELECT count(*) - 1 AS tt,
             (max_by(x, d) - min_by(x, d)) / (count(*) - 1) AS mu
      FROM daily
    ), lagged AS (
      SELECT x - lag(x, 1) OVER (ORDER BY d) AS d1,
             x - lag(x, {_VR_Q}) OVER (ORDER BY d) AS dq
      FROM daily
    ), sums AS (
      SELECT
        CAST(sum(CAST((d1 - mu) * (d1 - mu) AS DECIMAL(38,6)))
             AS DOUBLE) AS s1,
        CAST(sum(CAST((dq - {_VR_Q} * mu) * (dq - {_VR_Q} * mu)
                      AS DECIMAL(38,6))) AS DOUBLE) AS sq,
        max(tt) AS tt
      FROM lagged, sc
    )
    SELECT CAST(tt + 1 AS BIGINT) AS n_days,
           round((sq / ({_VR_Q} * (tt - {_VR_Q} + 1.0)))
                 / (s1 / tt), 6) AS vr,
           round(((sq / ({_VR_Q} * (tt - {_VR_Q} + 1.0))) / (s1 / tt)
                  - 1.0)
                 / sqrt(2.0 * (2 * {_VR_Q} - 1) * ({_VR_Q} - 1)
                        / (3.0 * {_VR_Q} * tt)), 6) AS z_homosk
    FROM sums
    """,
    tags=("stats", "time-series", "random-walk", "orders"),
)
def stats_variance_ratio(spark, sf_dir):
    """LO-MACKINLAY VARIANCE RATIO TEST (q = 5): is the daily-revenue
    series a random walk? Under H0 the variance of q-day increments is
    q x the 1-day variance, so VR = σ²_q/(q·σ²_1) ≈ 1; the
    homoskedastic z uses the standard asymptotic variance
    2(2q−1)(q−1)/(3qT). Drift μ̂ = (x_T − x_0)/T, the ML estimator.

    EXACTNESS: increments derive from exact cents-scaled doubles, and
    each squared deviation is cast to DECIMAL per-term before summing
    (the text_bigram_lm trick) so the reduction is order-free.

    Scale: fact scan → calendar-bounded daily relation → two lag
    windows and one fold over ≤|days| rows."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
        ).alias("x")
    )
    sc = daily.agg(
        (F.count("*") - 1).alias("tt"),
        (
            (F.max_by("x", "d") - F.min_by("x", "d"))
            / (F.count("*") - 1)
        ).alias("mu"),
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        (F.col("x") - F.lag("x", 1).over(w)).alias("d1"),
        (F.col("x") - F.lag("x", _VR_Q).over(w)).alias("dq"),
    )
    sums = lagged.crossJoin(sc).agg(
        F.sum(
            ((F.col("d1") - F.col("mu")) * (F.col("d1") - F.col("mu"))).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("s1"),
        F.sum(
            (
                (F.col("dq") - _VR_Q * F.col("mu"))
                * (F.col("dq") - _VR_Q * F.col("mu"))
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sq"),
        F.max("tt").alias("tt"),
    )
    vr = (F.col("sq") / (_VR_Q * (F.col("tt") - _VR_Q + 1.0))) / (
        F.col("s1") / F.col("tt")
    )
    z = (vr - 1.0) / F.sqrt(
        2.0 * (2 * _VR_Q - 1) * (_VR_Q - 1) / (3.0 * _VR_Q * F.col("tt"))
    )
    return sums.select(
        (F.col("tt") + 1).cast("long").alias("n_days"),
        F.round(vr, 6).alias("vr"),
        F.round(z, 6).alias("z_homosk"),
    )


# ------------------------------------------------- Ansari-Bradley
_AB_A, _AB_B = "purchase", "click"


def _ab_s(x: str, intdiv: str) -> str:
    """Closed-form prefix sum of Ansari-Bradley scores,
    S(x) = Σ_{r<=x} min(r, N+1−r), as pure INTEGER arithmetic
    (``intdiv`` is ``div`` on Spark, ``//`` on DuckDB — the geohash
    convention; every product is even before its halving, so the
    integer divisions are exact). References columns x and nn; mm is
    floor((N+1)/2)."""
    mm = f"(({x}) * 0 + (nn + 1) {intdiv} 2)"  # per-row constant
    sx = f"CASE WHEN ({x}) <= {mm} THEN (({x}) * (({x}) + 1)) {intdiv} 2"
    sm = f"(({mm}) * (({mm}) + 1)) {intdiv} 2"
    tail = (
        f"{sm} + (({x}) - {mm}) * (nn + 1)"
        f" - ((({x}) * (({x}) + 1)) - (({mm}) * (({mm}) + 1))) {intdiv} 2"
    )
    return f"({sx} ELSE {tail} END)"


@query(
    "stats_ansari_bradley",
    oracle=f"""
    WITH f AS (
      SELECT value AS v,
             CASE WHEN event_type = '{_AB_A}' THEN 1 ELSE 0 END AS g1
      FROM events WHERE event_type IN ('{_AB_A}', '{_AB_B}')
    ), byv AS (
      SELECT v, count(*) AS cnt, sum(g1) AS c1 FROM f GROUP BY 1
    ), pos AS (
      SELECT v, cnt, c1,
             sum(cnt) OVER (ORDER BY v) - cnt AS before_,
             sum(cnt) OVER () AS nn,
             sum(c1) OVER () AS n1
      FROM byv
    ), sc AS (
      SELECT v, cnt, c1, nn, n1,
             ({_ab_s("before_ + cnt", "//")}
              - {_ab_s("before_", "//")}) * 1.0 / cnt AS avg_score
      FROM pos
    ), agg AS (
      SELECT max(nn) AS nn, max(n1) AS n1,
             CAST(sum(CAST(c1 * avg_score AS DECIMAL(38,12)))
                  AS DOUBLE) AS a_stat,
             CAST(sum(CAST(cnt * avg_score * avg_score
                           AS DECIMAL(38,12))) AS DOUBLE) AS sa2,
             CAST(sum(CAST(cnt * avg_score AS DECIMAL(38,12)))
                  AS DOUBLE) AS sa1
      FROM sc
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(nn - n1 AS BIGINT) AS n2,
           round(a_stat, 6) AS ab_stat,
           round((a_stat - n1 * (sa1 / nn))
                 / sqrt(n1 * (nn - n1) * 1.0 / (nn - 1)
                        * (sa2 / nn - (sa1 / nn) * (sa1 / nn))), 6)
             AS z
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "dispersion", "events"),
)
def stats_ansari_bradley(spark, sf_dir):
    """ANSARI-BRADLEY TEST (rank test for equal DISPERSION — the
    scale-difference slot next to the suite's location tests
    Mann-Whitney/Mood; Levene/Bartlett are its parametric cousins):
    scores a_r = min(r, N+1−r) pile up at the distribution's flanks,
    so a group with larger spread collects smaller scores. Tied values
    receive the exact AVERAGE of their run's scores via the
    closed-form prefix S(x) = Σ min(r, N+1−r) — integer arithmetic
    (the `div`-vs-`//` shared-expression convention), one division
    per distinct value. z uses the exact finite-sampling moments of a
    tie-averaged linear rank statistic: E[A] = n1·ā,
    Var[A] = n1·n2·σ²_a/(N−1).

    Scale: the fact scan collapses to distinct values first; the rank
    windows run over the value support, not the rows; every sum casts
    per-term to DECIMAL (order-free)."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_AB_A, _AB_B)
    )
    byv = e.groupBy(F.col("value").alias("v")).agg(
        F.count("*").alias("cnt"),
        F.sum(
            F.when(F.col("event_type") == _AB_A, 1).otherwise(0)
        ).alias("c1"),
    )
    wv = Window.orderBy("v")
    wall = Window.partitionBy()
    pos = byv.select(
        "v",
        "cnt",
        "c1",
        (F.sum("cnt").over(wv) - F.col("cnt")).alias("before_"),
        F.sum("cnt").over(wall).alias("nn"),
        F.sum("c1").over(wall).alias("n1"),
    )
    sc = pos.select(
        "cnt",
        "c1",
        "nn",
        "n1",
        F.expr(
            f"({_ab_s('before_ + cnt', 'div')}"
            f" - {_ab_s('before_', 'div')}) * 1.0 / cnt"
        ).alias("avg_score"),
    )
    agg = sc.agg(
        F.max("nn").alias("nn"),
        F.max("n1").alias("n1"),
        F.sum(
            (F.col("c1") * F.col("avg_score")).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("a_stat"),
        F.sum(
            (
                F.col("cnt") * F.col("avg_score") * F.col("avg_score")
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sa2"),
        F.sum(
            (F.col("cnt") * F.col("avg_score")).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sa1"),
    )
    abar = F.col("sa1") / F.col("nn")
    var = (
        F.col("n1")
        * (F.col("nn") - F.col("n1"))
        * 1.0
        / (F.col("nn") - 1)
        * (F.col("sa2") / F.col("nn") - abar * abar)
    )
    return agg.select(
        F.col("n1").cast("long").alias("n1"),
        (F.col("nn") - F.col("n1")).cast("long").alias("n2"),
        F.round("a_stat", 6).alias("ab_stat"),
        F.round(
            (F.col("a_stat") - F.col("n1") * abar) / F.sqrt(var), 6
        ).alias("z"),
    )


# ---------------------------------------------- Mann-Kendall trend
@query(
    "stats_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
      FROM orders GROUP BY 1
    ), pairs AS (
      SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM daily a JOIN daily b ON b.d > a.d
    ), ties AS (
      SELECT coalesce(sum(tt * (tt - 1) * (2 * tt + 5)), 0) AS tie_adj
      FROM (SELECT count(*) AS tt FROM daily GROUP BY c
            HAVING count(*) > 1)
    ), nn AS (SELECT count(*) AS n FROM daily)
    SELECT n, s,
           round((s - CASE WHEN s > 0 THEN 1
                           WHEN s < 0 THEN -1 ELSE 0 END)
                 / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                         - tie_adj) / 18.0), 6) AS z_mk
    FROM pairs, ties, nn
    """,
    tags=("stats", "hypothesis-test", "trend", "orders"),
)
def stats_mann_kendall(spark, sf_dir):
    """MANN-KENDALL TREND TEST (the standard nonparametric monotone
    trend test — the significance companion to analytics_theil_sen,
    whose slope it decides is real): S = Σ_{i<j} sign(x_j − x_i) over
    the daily-revenue series, tie-corrected variance
    (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18, continuity-corrected z. Every
    accumulator is an exact BIGINT on exact cents.

    Scale: the pair join runs on the CALENDAR-BOUNDED daily relation
    (≤|days|² ≈ 5.8M comparisons at any corpus size — constant, not
    data-scaled); the fact scan collapses first."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).alias("c")
    )
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(
            F.when(F.col("cb") > F.col("ca"), 1)
            .when(F.col("cb") < F.col("ca"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s")
    )
    ties = (
        daily.groupBy("c")
        .agg(F.count("*").alias("tt"))
        .filter(F.col("tt") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tt")
                    * (F.col("tt") - 1)
                    * (2 * F.col("tt") + 5)
                ),
                F.lit(0),
            ).alias("tie_adj")
        )
    )
    nn = daily.agg(F.count("*").alias("n"))
    cc = (
        F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    )
    var = (
        F.col("n").cast("double")
        * (F.col("n") - 1)
        * (2 * F.col("n") + 5)
        - F.col("tie_adj")
    ) / 18.0
    return (
        pairs.crossJoin(ties)
        .crossJoin(nn)
        .select(
            "n",
            "s",
            F.round((F.col("s") - cc) / F.sqrt(var), 6).alias("z_mk"),
        )
    )


# -------------------------------------------- Brier decomposition
_BRIER_BINS = 10


@query(
    "stats_brier_decomposition",
    oracle=f"""
    WITH scored AS (
      SELECT ((event_id * 2654435761) % 1000) / 1000.0 AS p,
             CASE WHEN value * (1 + ((event_id * 2654435761) % 1000)
                               / 1000.0) > 60 THEN 1 ELSE 0 END AS y
      FROM events
    ), binned AS (
      SELECT least(CAST(floor(p * {_BRIER_BINS}) AS BIGINT),
                   {_BRIER_BINS - 1}) AS k,
             p, y
      FROM scored
    ), per_bin AS (
      SELECT k, count(*) AS n,
             CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS sp,
             sum(y) AS sy
      FROM binned GROUP BY 1
    ), tot AS (
      SELECT sum(n) AS nn, CAST(sum(sy) AS DOUBLE) / sum(n) AS ybar
      FROM per_bin
    ), brier AS (
      SELECT CAST(sum(CAST((p - y) * (p - y) AS DECIMAL(38,12)))
                  AS DOUBLE) AS sq
      FROM binned
    )
    SELECT CAST(nn AS BIGINT) AS n,
           round(sq / nn, 6) AS brier_score,
           round(CAST(sum(CAST(n * (sp / n - CAST(sy AS DOUBLE) / n)
                                 * (sp / n - CAST(sy AS DOUBLE) / n)
                               AS DECIMAL(38,12))) AS DOUBLE) / nn, 6)
             AS reliability,
           round(CAST(sum(CAST(n * (CAST(sy AS DOUBLE) / n - ybar)
                                 * (CAST(sy AS DOUBLE) / n - ybar)
                               AS DECIMAL(38,12))) AS DOUBLE) / nn, 6)
             AS resolution,
           round(ybar * (1 - ybar), 6) AS uncertainty
    FROM per_bin, tot, brier
    GROUP BY nn, sq, ybar
    """,
    tags=("stats", "calibration", "scoring", "events"),
)
def stats_brier_decomposition(spark, sf_dir):
    """MURPHY DECOMPOSITION OF THE BRIER SCORE (reliability −
    resolution + uncertainty ≈ Brier, exactly when forecasts are
    bin-constant — the diagnostic that says WHY a probabilistic
    scorer is bad: miscalibrated (reliability↑) vs uninformative
    (resolution↓); quality_calibration_bins plots the curve, this
    scores it): forecast p is a deterministic Knuth-hash rational
    (NO libm, so every value is exact on both engines), outcome
    y = value·(1+p) > 60 — correlated with p by construction, so
    resolution is non-trivial.

    Scale: one scored scan → {_BRIER_BINS}-bin grouped moments
    (map-side partial) → 1-row fold; per-term decimal casts keep all
    sums order-free."""
    e = t(spark, sf_dir, "events")
    p = ((F.col("event_id") * 2654435761) % 1000) / 1000.0
    scored = e.select(
        p.alias("p"),
        F.when(F.col("value") * (1 + p) > 60, 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * _BRIER_BINS).cast("long"),
            F.lit(_BRIER_BINS - 1),
        ).alias("k"),
        "p",
        "y",
    )
    per_bin = binned.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum(F.col("p").cast("decimal(38,12)")).cast("double").alias("sp"),
        F.sum("y").alias("sy"),
    )
    tot = per_bin.agg(
        F.sum("n").alias("nn"),
        (F.sum("sy").cast("double") / F.sum("n")).alias("ybar"),
    )
    brier = binned.agg(
        F.sum(
            ((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sq")
    )
    pk = F.col("sp") / F.col("n")
    yk = F.col("sy").cast("double") / F.col("n")
    return (
        per_bin.crossJoin(tot)
        .crossJoin(brier)
        .groupBy("nn", "sq", "ybar")
        .agg(
            F.round(
                F.sum(
                    (F.col("n") * (pk - yk) * (pk - yk)).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
                / F.col("nn"),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    (
                        F.col("n")
                        * (yk - F.col("ybar"))
                        * (yk - F.col("ybar"))
                    ).cast("decimal(38,12)")
                ).cast("double")
                / F.col("nn"),
                6,
            ).alias("resolution"),
        )
        .select(
            F.col("nn").cast("long").alias("n"),
            F.round(F.col("sq") / F.col("nn"), 6).alias("brier_score"),
            "reliability",
            "resolution",
            F.round(F.col("ybar") * (1 - F.col("ybar")), 6).alias(
                "uncertainty"
            ),
        )
    )


# --------------------------------------------------- Tukey HSD (q)
@query(
    "stats_tukey_hsd",
    oracle="""
    WITH g AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE)
               AS s2
      FROM events GROUP BY 1
    ), mse AS (
      SELECT sum(s2 - s1 * s1 / n) / (sum(n) - count(*)) AS mse,
             CAST(sum(n) - count(*) AS BIGINT) AS df_err
      FROM g
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round(a.s1 / a.n - b.s1 / b.n, 6) AS mean_diff,
           round(abs(a.s1 / a.n - b.s1 / b.n)
                 / sqrt(mse / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6)
             AS q_stat,
           df_err
    FROM g a JOIN g b ON a.event_type < b.event_type, mse
    ORDER BY 1, 2
    """,
    tags=("stats", "post-hoc", "anova", "events"),
)
def stats_tukey_hsd(spark, sf_dir):
    """TUKEY HSD POST-HOC COMPARISONS (the step AFTER
    stats_anova_oneway rejects: WHICH pairs of groups differ?): for
    every event-type pair, the studentized-range statistic
    q = |m_i − m_j| / √(MSE/2 · (1/n_i + 1/n_j)) with the pooled
    within-group MSE (the Tukey-Kramer unequal-n form). q compares
    against the studentized range quantile q_{α,k,df}; the statistic
    and df are emitted, the table lookup is the caller's (no libm
    special functions exist in either engine).

    Scale: one grouped moment pass (k rows) → k² pair join on the
    tiny group dimension; exact decimal power sums throughout."""
    e = t(spark, sf_dir, "events")
    v = F.col("value")
    g = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(v.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(28,4)")).cast("double").alias("s2"),
    )
    mse = g.agg(
        (
            F.sum(F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.sum("n") - F.count("*"))
        ).alias("mse"),
        (F.sum("n") - F.count("*")).cast("long").alias("df_err"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        (F.col("s1") / F.col("n")).alias("ma"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        (F.col("s1") / F.col("n")).alias("mb"),
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(mse))
        .select(
            "type_a",
            "type_b",
            F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
            F.round(
                F.abs(F.col("ma") - F.col("mb"))
                / F.sqrt(
                    F.col("mse")
                    / 2.0
                    * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                ),
                6,
            ).alias("q_stat"),
            "df_err",
        )
        .orderBy("type_a", "type_b")
    )


# ------------------- Cook's distance / leverage audit (r10 extra)
@query(
    "stats_cooks_distance",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate::DATE AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), xy AS (
      SELECT d, cents,
             CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS x
      FROM daily
    ), m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS syc,
             CAST(sum(CAST(cents AS DECIMAL(38,0))
                      * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS syyc,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sxyc
      FROM xy
    ), der AS (
      SELECT n, sx / n AS xbar, sxx - sx * sx / n AS sxx_c,
             (sxyc - sx * syc / n) / 100.0 AS sxy_c,
             (syyc - syc * syc / n) / 10000.0 AS syy_c,
             syc / n / 100.0 AS ybar
      FROM m
    ), fit AS (
      SELECT n, xbar, sxx_c, ybar,
             sxy_c / sxx_c AS b,
             (syy_c - sxy_c * sxy_c / sxx_c) / (n - 2) AS s2
      FROM der
    )
    SELECT d AS day, x, cents,
           round(cents / 100.0 - ((ybar - b * xbar) + b * x), 6) AS resid,
           round(1.0 / n + (x - xbar) * (x - xbar) / sxx_c, 6) AS leverage,
           round((cents / 100.0 - ((ybar - b * xbar) + b * x))
                 * (cents / 100.0 - ((ybar - b * xbar) + b * x))
                 * (1.0 / n + (x - xbar) * (x - xbar) / sxx_c)
                 / (2 * s2
                    * (1 - (1.0 / n + (x - xbar) * (x - xbar) / sxx_c))
                    * (1 - (1.0 / n + (x - xbar) * (x - xbar) / sxx_c))),
                 6) AS cook_d
    FROM xy CROSS JOIN fit
    ORDER BY (cents / 100.0 - ((ybar - b * xbar) + b * x))
             * (cents / 100.0 - ((ybar - b * xbar) + b * x))
             * (1.0 / n + (x - xbar) * (x - xbar) / sxx_c)
             / (2 * s2
                * (1 - (1.0 / n + (x - xbar) * (x - xbar) / sxx_c))
                * (1 - (1.0 / n + (x - xbar) * (x - xbar) / sxx_c)))
             DESC, day
    LIMIT 10
    """,
    tags=("stats", "regression", "diagnostics", "orders"),
)
def stats_cooks_distance(spark, sf_dir):
    """COOK'S DISTANCE + LEVERAGE regression diagnostics: fit daily
    revenue on the day index (simple OLS over the calendar-bounded
    daily relation) and rank the 10 most INFLUENTIAL days —
    D_i = e_i^2 h_i / (p s^2 (1-h_i)^2) with h_i = 1/n + (x_i-x̄)^2/Sxx,
    p = 2 — the standard audit for 'which days are dragging the trend
    line', i.e. the days a forecasting pipeline should investigate
    before trusting the fit (complements analytics_theil_sen, which
    ROBUSTIFIES against them instead of naming them).

    Exactness: all moments accumulate as DECIMAL(38,0) from exact
    BIGINT cents and integer day indices (summation-order-proof), the
    derived scalars and per-row e/h/D are the SAME IEEE expression
    tree on both engines from those identical operands, so even the
    ORDER BY on the unrounded D is cross-engine stable; final values
    round 6dp, ties broken by day.

    Scale: facts collapse to the daily relation (<= |days| rows at any
    corpus size); one moment pass + one broadcast of 6 scalars; TopK
    via TakeOrdered."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    xy = daily.select(
        "day",
        "cents",
        F.row_number().over(W.orderBy("day")).cast("long").alias("x"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(dec("cents")).cast("double").alias("syc"),
        F.sum(dec("cents") * dec("cents")).cast("double").alias("syyc"),
        F.sum(dec("x") * dec("cents")).cast("double").alias("sxyc"),
    )
    der = m.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias(
            "sxx_c"
        ),
        (
            (F.col("sxyc") - F.col("sx") * F.col("syc") / F.col("n")) / 100.0
        ).alias("sxy_c"),
        (
            (F.col("syyc") - F.col("syc") * F.col("syc") / F.col("n"))
            / 10000.0
        ).alias("syy_c"),
        (F.col("syc") / F.col("n") / 100.0).alias("ybar"),
    )
    fit = der.select(
        "n",
        "xbar",
        "sxx_c",
        "ybar",
        (F.col("sxy_c") / F.col("sxx_c")).alias("b"),
        (
            (F.col("syy_c") - F.col("sxy_c") * F.col("sxy_c") / F.col("sxx_c"))
            / (F.col("n") - 2)
        ).alias("s2"),
    )
    j = xy.crossJoin(F.broadcast(fit))
    e = F.col("cents") / 100.0 - (
        (F.col("ybar") - F.col("b") * F.col("xbar"))
        + F.col("b") * F.col("x")
    )
    h = 1.0 / F.col("n") + (F.col("x") - F.col("xbar")) * (
        F.col("x") - F.col("xbar")
    ) / F.col("sxx_c")
    dcook = (
        e * e * h / (2 * F.col("s2") * (1 - h) * (1 - h))
    )
    return (
        j.select(
            "day",
            "x",
            "cents",
            F.round(e, 6).alias("resid"),
            F.round(h, 6).alias("leverage"),
            F.round(dcook, 6).alias("cook_d"),
            dcook.alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "day")
        .limit(10)
        .drop("_ord")
    )


# ------------- Benjamini-Hochberg FDR over group z-tests (r10 extra)

_BH_Q = 0.10  # FDR level


def _inv_norm(p: float) -> float:
    """Inverse standard-normal CDF (Acklam 2003 rational approximation,
    public; |rel err| < 1.15e-9) in pure Python — evaluated at BUILD
    time so the BH critical values embed as repr-exact double literals
    in BOTH engines: no erf/exp ever runs inside either engine, which
    is how the whole stats battery avoids cross-libm ulp drift."""
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    import math as _m

    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = _m.sqrt(-2 * _m.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        q = _m.sqrt(-2 * _m.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
            * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)


def _bh_crit_literals(m: int = 25, q: float = _BH_Q) -> list[float]:
    """Two-sided BH step-up critical |z| per rank i (1-based):
    z_crit(i) = invPhi(1 - i*q/(2m))."""
    return [_inv_norm(1.0 - (i * q) / (2.0 * m)) for i in range(1, m + 1)]


def _bh_oracle_sql() -> str:
    crits = _bh_crit_literals()
    vals = ", ".join(f"({i + 1}, {c!r})" for i, c in enumerate(crits))
    return f"""
    WITH g AS (
      SELECT c_nationkey AS nation,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT))
                  AS DOUBLE) AS sc,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)
                      * CAST(round(c_acctbal * 100) AS BIGINT))
                  AS DOUBLE) AS sc2
      FROM customer GROUP BY 1
    ), tot AS (
      SELECT sum(n) AS nn, sum(sc) AS ssc, sum(sc2) AS ssc2 FROM g
    ), z AS (
      SELECT nation, n,
             abs((sc / n - ssc / nn) * sqrt(n)
                 / sqrt(ssc2 / nn - (ssc / nn) * (ssc / nn))) AS az
      FROM g CROSS JOIN tot
    ), crit(i, zc) AS (VALUES {vals}),
    ranked AS (
      SELECT nation, n, az,
             row_number() OVER (ORDER BY az DESC, nation) AS i
      FROM z
    ), marked AS (
      SELECT r.*, c.zc, CASE WHEN r.az >= c.zc THEN r.i ELSE 0 END AS hit
      FROM ranked r JOIN crit c ON c.i = r.i
    ), k AS (SELECT max(hit) AS k FROM marked)
    SELECT nation, CAST(n AS BIGINT) AS n_customers,
           CAST(i AS BIGINT) AS rank_desc,
           round(az, 6) AS abs_z,
           round(CAST(zc AS DOUBLE), 6) AS z_crit,
           (i <= k) AS rejected
    FROM marked CROSS JOIN k
    ORDER BY rank_desc
    """


@query(
    "stats_bh_fdr",
    oracle=_bh_oracle_sql(),
    tags=("stats", "multiple-testing", "fdr", "customer"),
)
def stats_bh_fdr(spark, sf_dir):
    """BENJAMINI-HOCHBERG FDR control (q={_BH_Q}) across the 25
    per-nation one-sample z-tests of mean account balance vs the
    global mean — the MULTIPLE-TESTING layer the engine's 60+ test
    battery previously lacked: run one test per group and BH decides
    WHICH rejections survive at a controlled false-discovery rate
    (step-up: reject the k groups of largest |z| where k = max i with
    p_(i) <= i q/m).

    NO SPECIAL FUNCTIONS IN EITHER ENGINE: the step-up condition
    p_(i) <= i q/m is equivalent to |z|_(i) >= invPhi(1 - i q/(2m)),
    and those m critical values are computed at BUILD time in pure
    Python (Acklam's rational inverse-normal, public) and embedded as
    repr-exact double literals in both the Spark plan and the oracle
    VALUES list — the spectral-weekly shared-literal pattern, so
    cross-libm erf drift is structurally impossible. z statistics come
    from DECIMAL-exact cents moments; ORDER on unrounded |z| is
    bit-stable across engines.

    Under this synthetic fixture the GLOBAL NULL IS TRUE (balances
    are IID across nations), so the correct output is zero rejections
    at every scale — asserted literally by the pytest pin, which also
    pins the step-up mechanism on a synthetic z-vector where k must
    be 6 (tests/test_r10.py).

    Scale: one grouped moment pass over the facts, then all BH logic
    on the 25-row group dim."""
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    g = t(spark, sf_dir, "customer").groupBy(
        F.col("c_nationkey").alias("nation")
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).cast("double").alias("sc"),
        F.sum(
            (cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)"))
        )
        .cast("double")
        .alias("sc2"),
    )
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("sc").alias("ssc"),
        F.sum("sc2").alias("ssc2"),
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "nation",
        "n",
        (
            F.abs(
                (F.col("sc") / F.col("n") - F.col("ssc") / F.col("nn"))
                * F.sqrt(F.col("n"))
                / F.sqrt(
                    F.col("ssc2") / F.col("nn")
                    - (F.col("ssc") / F.col("nn"))
                    * (F.col("ssc") / F.col("nn"))
                )
            )
        ).alias("az"),
    )
    crits = _bh_crit_literals()
    spark_sess = z.sparkSession
    crit = spark_sess.createDataFrame(
        [(i + 1, c) for i, c in enumerate(crits)], "i int, zc double"
    )
    from pyspark.sql import Window as W

    ranked = z.select(
        "nation",
        "n",
        "az",
        F.row_number()
        .over(W.orderBy(F.col("az").desc(), "nation"))
        .alias("i"),
    )
    marked = ranked.join(F.broadcast(crit), "i").select(
        "nation",
        "n",
        "az",
        "i",
        "zc",
        F.when(F.col("az") >= F.col("zc"), F.col("i"))
        .otherwise(0)
        .alias("hit"),
    )
    k = marked.agg(F.max("hit").alias("k"))
    return (
        marked.crossJoin(F.broadcast(k))
        .select(
            "nation",
            F.col("n").cast("long").alias("n_customers"),
            F.col("i").cast("long").alias("rank_desc"),
            F.round("az", 6).alias("abs_z"),
            F.round("zc", 6).alias("z_crit"),
            (F.col("i") <= F.col("k")).alias("rejected"),
        )
        .orderBy("rank_desc")
    )


# -------------- Jonckheere-Terpstra ordered-alternative test (r10)
@query(
    "stats_jonckheere_terpstra",
    oracle="""
    WITH cells AS (
      SELECT CAST(l_linenumber AS BIGINT) AS g,
             CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY 1, 2
    ), sizes AS (
      SELECT g, sum(n) AS ng FROM cells GROUP BY g
    ), tot AS (
      SELECT CAST(sum(ng) AS DOUBLE) AS nn,
             CAST(sum(CAST(ng AS DECIMAL(38,0))
                      * CAST(ng AS DECIMAL(38,0))) AS DOUBLE) AS sn2,
             CAST(sum(CAST(ng AS DECIMAL(38,0))
                      * CAST(ng AS DECIMAL(38,0))
                      * CAST(2 * ng + 3 AS DECIMAL(38,0)))
                  AS DOUBLE) AS sn23
      FROM sizes
    ), j2 AS (
      SELECT CAST(sum(CAST(a.n AS DECIMAL(38,0))
                      * CAST(b.n AS DECIMAL(38,0))
                      * (CASE WHEN a.v < b.v THEN 2
                              WHEN a.v = b.v THEN 1
                              ELSE 0 END)) AS DOUBLE) AS twoj
      FROM cells a JOIN cells b ON a.g < b.g
    )
    SELECT CAST(nn AS BIGINT) AS n_rows,
           round(twoj / 2, 1) AS j_stat,
           round((nn * nn - sn2) / 4, 1) AS j_mean,
           round((twoj / 2 - (nn * nn - sn2) / 4)
                 / sqrt((nn * nn * (2 * nn + 3) - sn23) / 72), 6) AS z
    FROM j2 CROSS JOIN tot
    """,
    tags=("stats", "nonparametric", "trend", "lineitem"),
)
def stats_jonckheere_terpstra(spark, sf_dir):
    """JONCKHEERE-TERPSTRA ordered-alternative test (Jonckheere 1954,
    public): does l_quantity trend UP across the ORDERED groups
    l_linenumber 1..7? J = sum over group pairs g<h of the Mann-Whitney
    count #(a<b) + ties/2 — strictly more powerful than Kruskal-Wallis
    when the alternative is monotone, which is exactly the 'does the
    metric drift along an ordinal dimension' question a pipeline DQ
    layer asks.

    Exactness (the stats_ops grid convention): the fact table collapses
    FIRST to the (group, value) cell grid — bounded by 7 x 50 = 350
    cells at ANY corpus size — and all pair algebra runs on the grid
    with DECIMAL(38,0) products (2J stays an exact integer; the
    variance terms exceed BIGINT at 10x so they accumulate as decimals
    too). z uses the standard no-tie variance (documented upward bias
    under ties — the tie-corrected term subtracts <1% on this grid);
    numerator and denominator are identical IEEE trees on both engines.

    Scale: one hash agg to the grid; the pair join is grid x grid,
    constant in the data."""
    cells = (
        t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_linenumber").cast("long").alias("g"),
            F.col("l_quantity").cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    sizes = cells.groupBy("g").agg(F.sum("n").alias("ng"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    tot = sizes.agg(
        F.sum("ng").cast("double").alias("nn"),
        F.sum(dec(F.col("ng")) * dec(F.col("ng")))
        .cast("double")
        .alias("sn2"),
        F.sum(
            dec(F.col("ng"))
            * dec(F.col("ng"))
            * dec(2 * F.col("ng") + 3)
        )
        .cast("double")
        .alias("sn23"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    j2 = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .select(
            (
                dec(F.col("a.n"))
                * dec(F.col("b.n"))
                * F.when(F.col("a.v") < F.col("b.v"), 2)
                .when(F.col("a.v") == F.col("b.v"), 1)
                .otherwise(0)
            ).alias("term")
        )
        .agg(F.sum("term").cast("double").alias("twoj"))
    )
    return j2.crossJoin(F.broadcast(tot)).select(
        F.col("nn").cast("long").alias("n_rows"),
        F.round(F.col("twoj") / 2, 1).alias("j_stat"),
        F.round(
            (F.col("nn") * F.col("nn") - F.col("sn2")) / 4, 1
        ).alias("j_mean"),
        F.round(
            (
                F.col("twoj") / 2
                - (F.col("nn") * F.col("nn") - F.col("sn2")) / 4
            )
            / F.sqrt(
                (
                    F.col("nn") * F.col("nn") * (2 * F.col("nn") + 3)
                    - F.col("sn23")
                )
                / 72
            ),
            6,
        ).alias("z"),
    )


# -------------- Breusch-Pagan heteroskedasticity test (r10 extra)
@query(
    "stats_breusch_pagan",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate::DATE AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ), xy AS (
      SELECT cents, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS x
      FROM daily
    ), m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS syc,
             CAST(sum(CAST(x AS DECIMAL(38,0))
                      * CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS sxyc
      FROM xy
    ), fit AS (
      SELECT n, sx, sxx,
             ((sxyc - sx * syc / n) / 100.0)
               / (sxx - sx * sx / n) AS b,
             (syc / n / 100.0)
               - ((sxyc - sx * syc / n) / 100.0)
                 / (sxx - sx * sx / n) * (sx / n) AS a
      FROM m
    ), resid AS (
      SELECT x,
             (cents / 100.0 - (a + b * x))
               * (cents / 100.0 - (a + b * x)) AS e2
      FROM xy CROSS JOIN fit
    ), aux AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(e2 AS DECIMAL(38,6))) AS DOUBLE) AS se2,
             CAST(sum(CAST(x * e2 AS DECIMAL(38,6))) AS DOUBLE) AS sxe2,
             CAST(sum(CAST(e2 * e2 AS DECIMAL(38,6))) AS DOUBLE) AS se4
      FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round((sxe2 - sx * se2 / n) * (sxe2 - sx * se2 / n)
                 / ((sxx - sx * sx / n) * (se4 - se2 * se2 / n)), 6)
             AS r2_aux,
           round(n * (sxe2 - sx * se2 / n) * (sxe2 - sx * se2 / n)
                 / ((sxx - sx * sx / n) * (se4 - se2 * se2 / n)), 6)
             AS lm_stat,
           (n * (sxe2 - sx * se2 / n) * (sxe2 - sx * se2 / n)
            / ((sxx - sx * sx / n) * (se4 - se2 * se2 / n))
            > 3.841458820694124) AS heteroskedastic_5pct
    FROM aux
    """,
    tags=("stats", "regression", "diagnostics", "orders"),
)
def stats_breusch_pagan(spark, sf_dir):
    """BREUSCH-PAGAN heteroskedasticity test (Koenker's studentized
    form, public): after fitting the daily-revenue trend line, regress
    the SQUARED residuals on the day index — LM = n R²_aux is chi²(1)
    under homoskedasticity; a significant LM means the variance itself
    trends, which invalidates the OLS standard errors every downstream
    interval (conformal widths, control-chart limits) would otherwise
    assume constant. Completes the regression-diagnostics pair with
    stats_cooks_distance (influence) on the same fit.

    Exactness: first-stage moments are DECIMAL(38,0) over exact
    BIGINTs; residuals come from identical IEEE trees; the aux-stage
    sums (e², x e², e⁴) are per-term DECIMAL(38,6)-cast before summing
    (the stats convention — e⁴ also exceeds double-safe integer range,
    and per-term casting makes order irrelevant). The chi²₁ 5%
    critical value 3.8414588… is a shared repr-exact literal (the BH
    pattern — no special functions in-engine).

    Scale: facts collapse to the daily relation; two moment passes."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    xy = daily.select(
        "cents",
        F.row_number().over(W.orderBy("d")).cast("long").alias("x"),
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dec6 = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    m = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec0(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec0(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec0(F.col("cents"))).cast("double").alias("syc"),
        F.sum(dec0(F.col("x")) * dec0(F.col("cents")))
        .cast("double")
        .alias("sxyc"),
    )
    fit = m.select(
        "n",
        "sx",
        "sxx",
        (
            ((F.col("sxyc") - F.col("sx") * F.col("syc") / F.col("n")) / 100.0)
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("b"),
        (
            (F.col("syc") / F.col("n") / 100.0)
            - ((F.col("sxyc") - F.col("sx") * F.col("syc") / F.col("n")) / 100.0)
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            * (F.col("sx") / F.col("n"))
        ).alias("a"),
    )
    e = F.col("cents") / 100.0 - (F.col("a") + F.col("b") * F.col("x"))
    resid = xy.crossJoin(F.broadcast(fit)).select(
        "x", (e * e).alias("e2")
    )
    aux = resid.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec0(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec0(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec6(F.col("e2"))).cast("double").alias("se2"),
        F.sum(dec6(F.col("x") * F.col("e2"))).cast("double").alias("sxe2"),
        F.sum(dec6(F.col("e2") * F.col("e2"))).cast("double").alias("se4"),
    )
    num = (F.col("sxe2") - F.col("sx") * F.col("se2") / F.col("n")) * (
        F.col("sxe2") - F.col("sx") * F.col("se2") / F.col("n")
    )
    den = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) * (
        F.col("se4") - F.col("se2") * F.col("se2") / F.col("n")
    )
    return aux.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(num / den, 6).alias("r2_aux"),
        F.round(F.col("n") * num / den, 6).alias("lm_stat"),
        (F.col("n") * num / den > 3.841458820694124).alias(
            "heteroskedastic_5pct"
        ),
    )


# ------------------------------ Chow structural-break test (r11 extra)
@query(
    "stats_chow_test",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
               AS x,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ), sp AS (
      SELECT (min(x) + max(x)) // 2 AS cut FROM d
    ), seg AS (
      SELECT CASE WHEN x <= cut THEN 0 ELSE 1 END AS s, x, y
      FROM d CROSS JOIN sp
    ), m AS (
      SELECT s,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM seg GROUP BY s
    ), rss AS (
      SELECT s, n,
             (syy - sy * sy / n)
             - (sxy - sx * sy / n) * (sxy - sx * sy / n)
               / (sxx - sx * sx / n) AS r
      FROM m
    ), pooled AS (
      SELECT CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
      FROM seg, (SELECT 1 AS n) _dummy
    ), prss AS (
      SELECT n,
             (syy - sy * sy / n)
             - (sxy - sx * sy / n) * (sxy - sx * sy / n)
               / (sxx - sx * sx / n) AS rp
      FROM pooled
    )
    , slopes AS (
      SELECT s, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b FROM m
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM rss WHERE s = 0) AS n1,
           (SELECT CAST(n AS BIGINT) FROM rss WHERE s = 1) AS n2,
           round((SELECT b FROM slopes WHERE s = 0), 6) AS slope_pre,
           round((SELECT b FROM slopes WHERE s = 1), 6) AS slope_post,
           round(
             (((SELECT rp FROM prss) - (SELECT sum(r) FROM rss)) / 2)
             / ((SELECT sum(r) FROM rss)
                / ((SELECT n FROM prss) - 4)), 6) AS chow_f
    """,
    tags=("stats", "regression", "time-series", "changepoint"),
)
def stats_chow_test(spark, sf_dir):
    """CHOW TEST for a STRUCTURAL BREAK (Chow 1960, public) — does the
    daily-revenue-vs-time OLS line change at the calendar midpoint?
    F = ((RSS_pooled - RSS1 - RSS2) / k) / ((RSS1 + RSS2) / (n - 2k)),
    k = 2 parameters per segment. The changepoint screen a pipeline
    runs before trusting one global trend model.

    Exactness: x = exact epoch day, y = exact revenue cents, the cut
    is INTEGER midpoint arithmetic; every moment sums DECIMAL(38,0)
    (all-integer products, exact); each RSS is the same closed-form
    IEEE tree in both engines, so the F ratio divides bit-identical
    doubles. The emitted columns stay at ROUNDABLE magnitudes (per-
    segment slopes in cents/day and the F ratio, 6dp) — raw RSS at
    ~1e17 cents^2 is where DuckDB's multiply-divide round() loses bits
    that Spark's BigDecimal round keeps, so huge magnitudes are never
    rounded cross-engine (measured 1-ulp divergence, r11).

    Scale: facts collapse to the calendar-bounded daily relation in
    one hash agg; both segment and pooled moments are one grouped agg
    each over <= |days| rows. Nothing downstream scales with corpus."""
    o = t(spark, sf_dir, "orders")
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
    cut = d.agg(
        ((F.min("x") + F.max("x")) / 2).cast("long").alias("cut")
    )
    seg = d.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("x") <= F.col("cut"), 0).otherwise(1).alias("s"),
        "x",
        "y",
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def moments(df, keys):
        return df.groupBy(*keys).agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec(F.col("x"))).cast("double").alias("sx"),
            F.sum(dec(F.col("y"))).cast("double").alias("sy"),
            F.sum(dec(F.col("x") * F.col("y")))
            .cast("double")
            .alias("sxy"),
            F.sum(dec(F.col("x") * F.col("x")))
            .cast("double")
            .alias("sxx"),
            F.sum(dec(F.col("y") * F.col("y")))
            .cast("double")
            .alias("syy"),
        )

    rss_expr = (
        F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    ) - (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) * (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))

    slope_expr = (
        F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    ) / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
    per = moments(seg, ["s"]).select(
        "s", "n", rss_expr.alias("r"), slope_expr.alias("b")
    )
    pooled = moments(seg, []).select(
        "n", rss_expr.alias("rp")
    )
    split = per.agg(
        F.min(F.when(F.col("s") == 0, F.col("n"))).alias("n1"),
        F.min(F.when(F.col("s") == 1, F.col("n"))).alias("n2"),
        F.min(F.when(F.col("s") == 0, F.col("b"))).alias("b0"),
        F.min(F.when(F.col("s") == 1, F.col("b"))).alias("b1"),
        F.sum("r").alias("rs"),
    )
    return split.crossJoin(F.broadcast(pooled)).select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("b0", 6).alias("slope_pre"),
        F.round("b1", 6).alias("slope_post"),
        F.round(
            ((F.col("rp") - F.col("rs")) / 2)
            / (F.col("rs") / (F.col("n") - 4)),
            6,
        ).alias("chow_f"),
    )


# --------------------------------- partial correlation (r11 extra)


@query(
    "stats_partial_correlation",
    oracle="""
    WITH v AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS z
      FROM lineitem
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(z AS DECIMAL(38,0))) AS DOUBLE) AS sz,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * z) AS DOUBLE) AS sxz,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * z) AS DOUBLE) AS syz,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
             CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DOUBLE) AS szz
      FROM v
    ), r AS (
      SELECT n,
        (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy))
          AS rxy,
        (n*sxz - sx*sz) / (sqrt(n*sxx - sx*sx) * sqrt(n*szz - sz*sz))
          AS rxz,
        (n*syz - sy*sz) / (sqrt(n*syy - sy*sy) * sqrt(n*szz - sz*sz))
          AS ryz
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(rxy, 6) AS r_xy,
           round(rxz, 6) AS r_xz,
           round(ryz, 6) AS r_yz,
           round((rxy - rxz * ryz)
                 / (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6)
             AS r_xy_given_z
    FROM r
    """,
    tags=("stats", "correlation"),
)
def stats_partial_correlation(spark, sf_dir):
    """PARTIAL CORRELATION r_xy.z (first-order, public closed form) —
    the correlation between quantity and price with the discount's
    influence REMOVED: r_xy.z = (r_xy - r_xz r_zy) /
    sqrt((1-r_xz^2)(1-r_zy^2)). The confounder screen an analyst runs
    before reading a raw correlation as signal.

    Exactness: all three variables are exact BIGINTs (quantity,
    price cents, discount percent); the nine cross-moments sum in
    DECIMAL(38,0) (integer products — exact, summation-order-free);
    the three Pearson r's and the partial r are the same IEEE tree on
    both engines (sqrt of identical doubles), rounded 6dp at the end.

    Scale: ONE map-side-combinable hash agg over the fact table —
    nine sums and a count; everything downstream is 1-row arithmetic."""
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("z"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = v.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("x")).cast("double").alias("sx"),
        F.sum(dec("y")).cast("double").alias("sy"),
        F.sum(dec("z")).cast("double").alias("sz"),
        F.sum(dec("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(dec("x") * F.col("z")).cast("double").alias("sxz"),
        F.sum(dec("y") * F.col("z")).cast("double").alias("syz"),
        F.sum(dec("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(dec("z") * F.col("z")).cast("double").alias("szz"),
    )
    n = F.col("n")

    def pear(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa) * F.col(sb)) / (
            F.sqrt(n * F.col(saa) - F.col(sa) * F.col(sa))
            * F.sqrt(n * F.col(sbb) - F.col(sb) * F.col(sb))
        )

    r = m.select(
        "n",
        pear("sxy", "sx", "sy", "sxx", "syy").alias("rxy"),
        pear("sxz", "sx", "sz", "sxx", "szz").alias("rxz"),
        pear("syz", "sy", "sz", "syy", "szz").alias("ryz"),
    )
    return r.select(
        F.col("n").cast("long").alias("n"),
        F.round("rxy", 6).alias("r_xy"),
        F.round("rxz", 6).alias("r_xz"),
        F.round("ryz", 6).alias("r_yz"),
        F.round(
            (F.col("rxy") - F.col("rxz") * F.col("ryz"))
            / (
                F.sqrt(1 - F.col("rxz") * F.col("rxz"))
                * F.sqrt(1 - F.col("ryz") * F.col("ryz"))
            ),
            6,
        ).alias("r_xy_given_z"),
    )


# ------------------------- AIC/BIC model comparison (r11 extra)
@query(
    "stats_aic_model_compare",
    oracle="""
    WITH d AS (
      SELECT CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
               AS x1,
             CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT) % 7
               AS x2,
             CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS y
      FROM orders GROUP BY 1, 2
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(sum(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS s2,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS s11,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s22,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s12,
             CAST(sum(CAST(x1 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s1y,
             CAST(sum(CAST(x2 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s2y,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
      FROM d
    ), c AS (  -- centered sums
      SELECT n,
             s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
             s22 - s2 * s2 / n AS a22, s1y - s1 * sy / n AS b1,
             s2y - s2 * sy / n AS b2, syy - sy * sy / n AS tss
      FROM m
    ), f AS (
      SELECT n, tss,
             tss - b1 * b1 / a11 AS rss1,
             tss - (b1 * (a22 * b1 - a12 * b2)
                    + b2 * (a11 * b2 - a12 * b1))
                   / (a11 * a22 - a12 * a12) AS rss2
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(1.0 - rss1 / tss, 6) AS r2_m1,
           round(1.0 - rss2 / tss, 6) AS r2_m2,
           round(n * CAST(CAST(ln(rss1 / n) AS DECIMAL(38,12))
                          AS DOUBLE) + 2 * 2, 4) AS aic_m1,
           round(n * CAST(CAST(ln(rss2 / n) AS DECIMAL(38,12))
                          AS DOUBLE) + 2 * 3, 4) AS aic_m2,
           round(n * CAST(CAST(ln(rss1 / n) AS DECIMAL(38,12))
                          AS DOUBLE)
                 + 2 * CAST(CAST(ln(CAST(n AS DOUBLE))
                                 AS DECIMAL(38,12)) AS DOUBLE), 4)
             AS bic_m1,
           round(n * CAST(CAST(ln(rss2 / n) AS DECIMAL(38,12))
                          AS DOUBLE)
                 + 3 * CAST(CAST(ln(CAST(n AS DOUBLE))
                                 AS DECIMAL(38,12)) AS DOUBLE), 4)
             AS bic_m2
    FROM f
    """,
    tags=("stats", "regression", "model-selection"),
)
def stats_aic_model_compare(spark, sf_dir):
    """AIC / BIC MODEL COMPARISON (Akaike 1974; Schwarz 1978, public)
    between the 1-feature trend model (daily revenue ~ day) and the
    2-feature trend+weekday model (~ day + day%7), both fit closed-
    form from centered moment sums (Cramer's rule for the 2x2 —
    the analytics_granger_lite pattern). The model-selection readout
    (penalized fit: AIC = n ln(RSS/n) + 2k, BIC swaps 2 for ln n) a
    pipeline consults before adding a seasonal term.

    Exactness: all-integer moment sums in DECIMAL(38,0); RSS/R^2 from
    identical IEEE trees; each ln() result is DECIMAL(38,12)-cast
    before re-entering arithmetic (the analytics_theil_index rule —
    absorbs JVM-vs-DuckDB libm last-ulp divergence); AIC/BIC round
    4dp (magnitude ~1e4), R^2 6dp.

    Scale: one hash agg over the calendar-bounded daily relation,
    then 1-row arithmetic."""
    o = t(spark, sf_dir, "orders")
    day = (
        F.unix_timestamp(F.col("o_orderdate").cast("date")) / 86400
    ).cast("long")
    d = o.groupBy(
        day.alias("x1"), (day % 7).alias("x2")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("y")
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec0(F.col("x1"))).cast("double").alias("s1"),
        F.sum(dec0(F.col("x2"))).cast("double").alias("s2"),
        F.sum(dec0(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec0(F.col("x1")) * F.col("x1")).cast("double").alias("s11"),
        F.sum(dec0(F.col("x2")) * F.col("x2")).cast("double").alias("s22"),
        F.sum(dec0(F.col("x1")) * F.col("x2")).cast("double").alias("s12"),
        F.sum(dec0(F.col("x1")) * F.col("y")).cast("double").alias("s1y"),
        F.sum(dec0(F.col("x2")) * F.col("y")).cast("double").alias("s2y"),
        F.sum(dec0(F.col("y")) * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    c = m.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / n).alias("a11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / n).alias("a12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / n).alias("a22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / n).alias("b1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / n).alias("b2"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("tss"),
    )
    f = c.select(
        "n",
        "tss",
        (F.col("tss") - F.col("b1") * F.col("b1") / F.col("a11")).alias(
            "rss1"
        ),
        (
            F.col("tss")
            - (
                F.col("b1")
                * (F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2"))
                + F.col("b2")
                * (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1"))
            )
            / (
                F.col("a11") * F.col("a22")
                - F.col("a12") * F.col("a12")
            )
        ).alias("rss2"),
    )
    ln12 = lambda col: (  # noqa: E731 - theil_index libm-absorb rule
        F.log(col).cast("decimal(38,12)").cast("double")
    )
    return f.select(
        F.col("n").cast("long").alias("n"),
        F.round(1.0 - F.col("rss1") / F.col("tss"), 6).alias("r2_m1"),
        F.round(1.0 - F.col("rss2") / F.col("tss"), 6).alias("r2_m2"),
        F.round(n * ln12(F.col("rss1") / n) + 2 * 2, 4).alias("aic_m1"),
        F.round(n * ln12(F.col("rss2") / n) + 2 * 3, 4).alias("aic_m2"),
        F.round(
            n * ln12(F.col("rss1") / n) + 2 * ln12(n.cast("double")), 4
        ).alias("bic_m1"),
        F.round(
            n * ln12(F.col("rss2") / n) + 3 * ln12(n.cast("double")), 4
        ).alias("bic_m2"),
    )


# ---------------------- Hosmer-Lemeshow calibration (r11 extra)
_HL_BINS = 10


@query(
    "stats_hosmer_lemeshow",
    oracle=f"""
    WITH scored AS (
      SELECT ((event_id * 2654435761) % 1000) / 1000.0 AS p,
             CASE WHEN value * (1 + ((event_id * 2654435761) % 1000)
                               / 1000.0) > 60 THEN 1 ELSE 0 END AS y
      FROM events
    ), binned AS (
      SELECT least(CAST(floor(p * {_HL_BINS}) AS BIGINT),
                   {_HL_BINS - 1}) AS g, p, y
      FROM scored
    ), per AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS o,
             CAST(sum(CAST(p AS DECIMAL(38,12))) AS DOUBLE) AS e
      FROM binned GROUP BY g
    )
    SELECT CAST(sum(n) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_bins,
           round(CAST(sum(CAST(
             (o - e) * (o - e) / (e * (1 - e / n))
             AS DECIMAL(38,12))) AS DOUBLE), 6) AS hl_statistic
    FROM per
    """,
    tags=("stats", "calibration", "ml"),
)
def stats_hosmer_lemeshow(spark, sf_dir):
    """HOSMER-LEMESHOW goodness-of-calibration statistic (Hosmer &
    Lemeshow 1980, public) — THE classical check that a probability
    model's predictions match observed frequencies, chi-square-
    distributed with n_bins - 2 df under calibration: HL =
    sum_g (O_g - E_g)^2 / (E_g (1 - E_g/n_g)) over {_HL_BINS}
    probability deciles. The decision-grade sibling of the Brier
    decomposition (same Knuth-hash rational forecasts, so every p is
    an EXACT multiple of 1/1000 — no libm anywhere in the labels).

    Exactness: O_g are exact BIGINTs; E_g sums exact rationals via
    DECIMAL(38,12); each bin's chi-square term is the same IEEE tree
    both engines then DECIMAL-cast before the final 10-term sum. 6dp.

    Scale: one hash agg to the {_HL_BINS}-row bin grid; everything
    after is constant-size arithmetic."""
    e = t(spark, sf_dir, "events")
    p = ((F.col("event_id") * 2654435761) % 1000) / 1000.0
    scored = e.select(
        p.alias("p"),
        F.when(F.col("value") * (1 + p) > 60, 1).otherwise(0).alias("y"),
    )
    binned = scored.select(
        F.least(
            F.floor(F.col("p") * _HL_BINS).cast("long"),
            F.lit(_HL_BINS - 1),
        ).alias("g"),
        "p",
        "y",
    )
    per = binned.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("o"),
        F.sum(F.col("p").cast("decimal(38,12)"))
        .cast("double")
        .alias("e"),
    )
    term = (
        (F.col("o") - F.col("e"))
        * (F.col("o") - F.col("e"))
        / (F.col("e") * (1 - F.col("e") / F.col("n")))
    ).cast("decimal(38,12)")
    return per.agg(
        F.sum("n").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins"),
        F.round(F.sum(term).cast("double"), 6).alias("hl_statistic"),
    )


# --------------------------- two-way ANOVA (r11 extra)
@query(
    "stats_two_way_anova",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS a,
             CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT) % 7
               AS b,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ), g AS (  -- the 5x7 cell grid: counts + exact sums
      SELECT a, b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS ss
      FROM cell GROUP BY a, b
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS n, sum(s) AS s, sum(ss) AS ss
      FROM g
    ), am AS (SELECT a, sum(n) AS n, sum(s) AS s FROM g GROUP BY a),
    bm AS (SELECT b, sum(n) AS n, sum(s) AS s FROM g GROUP BY b),
    ssq AS (
      SELECT (SELECT ss - s * s / n FROM tot) AS sst,
             (SELECT sum(s * s / n) - (SELECT s * s / n FROM tot)
              FROM am) AS ssa,
             (SELECT sum(s * s / n) - (SELECT s * s / n FROM tot)
              FROM bm) AS ssb,
             (SELECT sum(s * s / n) FROM g)
               - (SELECT sum(s * s / n) FROM am)
               - (SELECT sum(s * s / n) FROM bm)
               + (SELECT s * s / n FROM tot) AS ssab,
             (SELECT ss FROM tot) - (SELECT sum(s * s / n) FROM g)
               AS ssw,
             (SELECT n FROM tot) AS n,
             (SELECT count(*) FROM am) AS ka,
             (SELECT count(*) FROM bm) AS kb
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(ssa / sst, 6) AS eta2_priority,
           round(ssb / sst, 6) AS eta2_weekday,
           round(ssab / sst, 6) AS eta2_interaction,
           round((ssa / (ka - 1)) / (ssw / (n - ka * kb)), 6)
             AS f_priority,
           round((ssb / (kb - 1)) / (ssw / (n - ka * kb)), 6)
             AS f_weekday,
           round((ssab / ((ka - 1) * (kb - 1)))
                 / (ssw / (n - ka * kb)), 6) AS f_interaction
    FROM ssq
    """,
    tags=("stats", "anova", "hypothesis-test"),
)
def stats_two_way_anova(spark, sf_dir):
    """TWO-WAY ANOVA with interaction (unweighted cell-means sums of
    squares on the balanced-ish 5x7 grid; Fisher, public) — does
    order value depend on priority, weekday, or their INTERACTION?
    The one-way ANOVA family member every experiment readout with two
    crossed factors needs; eta^2 columns give effect sizes next to
    the F ratios.

    Exactness: y is exact cents; cell/margin/total sums are
    DECIMAL(38,0)-exact; every SS is sums-of-(s^2/n) algebra on
    identical doubles — no means materialized, no subtraction of
    near-equal rounded values; 6dp at the end.

    Scale: one hash agg to the 35-cell grid; margins and totals fold
    the GRID (never the facts); the rest is 1-row arithmetic."""
    o = t(spark, sf_dir, "orders")
    day = (
        F.unix_timestamp(F.col("o_orderdate").cast("date")) / 86400
    ).cast("long")
    cell = o.select(
        F.col("o_orderpriority").alias("a"),
        (day % 7).alias("b"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = cell.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec0(F.col("y"))).cast("double").alias("s"),
        F.sum(dec0(F.col("y")) * F.col("y")).cast("double").alias("ss"),
    )
    sq = lambda s, n: F.col(s) * F.col(s) / F.col(n)  # noqa: E731
    tot = g.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
    ).select("n", "ss", sq("s", "n").alias("cm"))
    am = (
        g.groupBy("a")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .agg(
            F.sum(sq("s", "n")).alias("sa"),
            F.count("*").cast("long").alias("ka"),
        )
    )
    bm = (
        g.groupBy("b")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .agg(
            F.sum(sq("s", "n")).alias("sb"),
            F.count("*").cast("long").alias("kb"),
        )
    )
    gm = g.agg(F.sum(sq("s", "n")).alias("sg"))
    j = (
        tot.crossJoin(F.broadcast(am))
        .crossJoin(F.broadcast(bm))
        .crossJoin(F.broadcast(gm))
    )
    ssa = F.col("sa") - F.col("cm")
    ssb = F.col("sb") - F.col("cm")
    ssab = F.col("sg") - F.col("sa") - F.col("sb") + F.col("cm")
    ssw = F.col("ss") - F.col("sg")
    sst = F.col("ss") - F.col("cm")
    dfw = F.col("n") - F.col("ka") * F.col("kb")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.round(ssa / sst, 6).alias("eta2_priority"),
        F.round(ssb / sst, 6).alias("eta2_weekday"),
        F.round(ssab / sst, 6).alias("eta2_interaction"),
        F.round((ssa / (F.col("ka") - 1)) / (ssw / dfw), 6).alias(
            "f_priority"
        ),
        F.round((ssb / (F.col("kb") - 1)) / (ssw / dfw), 6).alias(
            "f_weekday"
        ),
        F.round(
            (ssab / ((F.col("ka") - 1) * (F.col("kb") - 1)))
            / (ssw / dfw),
            6,
        ).alias("f_interaction"),
    )


# ------------------ two-proportion power analysis (r11 extra)

# Phi^-1(0.975) and Phi^-1(0.8) as repr-exact shared literals (the
# BH-FDR pattern: quantiles computed at BUILD time, never in-engine)
_PW_Z_A = "1.9599639845400536"  # alpha = 0.05 two-sided
_PW_Z_B = "0.8416212335729144"  # power = 0.80
_PW_MDE = "0.02"                # +2pp absolute minimum detectable effect


@query(
    "stats_power_two_proportion",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT)
               AS k
      FROM orders GROUP BY 1
    ), p AS (
      SELECT grp, n, k,
             CAST(k AS DOUBLE) / n AS p1,
             CAST(k AS DOUBLE) / n + {_PW_MDE} AS p2
      FROM base
    )
    SELECT grp, CAST(n AS BIGINT) AS n_observed,
           round(p1, 6) AS baseline_rate,
           CAST(ceil(
             pow({_PW_Z_A} * sqrt(2 * ((p1 + p2) / 2)
                                  * (1 - (p1 + p2) / 2))
                 + {_PW_Z_B} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
             / (({_PW_MDE}) * ({_PW_MDE}))) AS BIGINT)
             AS n_per_arm,
           CAST(ceil(
             pow({_PW_Z_A} * sqrt(2 * ((p1 + p2) / 2)
                                  * (1 - (p1 + p2) / 2))
                 + {_PW_Z_B} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)), 2)
             / (({_PW_MDE}) * ({_PW_MDE}))) * 2 AS BIGINT)
             AS n_total
    FROM p ORDER BY grp
    """,
    tags=("stats", "experiment", "power-analysis"),
)
def stats_power_two_proportion(spark, sf_dir):
    """TWO-PROPORTION SAMPLE-SIZE / POWER TABLE (the classical normal-
    approximation formula, Fleiss, public): per order priority, the
    per-arm n needed to detect a +{_PW_MDE} absolute lift over the
    observed completion rate at alpha=0.05 (two-sided) with 80% power
    — the table every A/B experiment plan starts from, next to the
    segment's observed volume. n = (z_a sqrt(2 p-bar q-bar) +
    z_b sqrt(p1 q1 + p2 q2))^2 / (p2 - p1)^2.

    Exactness: the z quantiles are repr-exact BUILD-TIME literals
    shared verbatim by both engines (the stats_bh_fdr rule — no
    in-engine inverse-normal anywhere); p1 divides exact BIGINTs, so
    the whole formula is the same IEEE tree; ceil() of that identical
    double is identical. 6dp on the rate only.

    Scale: one grouped count over the facts; the formula runs on the
    5-row group dim."""
    o = t(spark, sf_dir, "orders")
    base = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    p1 = F.col("k").cast("double") / F.col("n")
    p2 = p1 + float(_PW_MDE)
    pbar = (p1 + p2) / 2
    za, zb, mde = float(_PW_Z_A), float(_PW_Z_B), float(_PW_MDE)
    num = F.pow(
        za * F.sqrt(2 * pbar * (1 - pbar))
        + zb * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
        F.lit(2),
    )
    n_arm = F.ceil(num / (mde * mde)).cast("long")
    return base.select(
        "grp",
        F.col("n").cast("long").alias("n_observed"),
        F.round(p1, 6).alias("baseline_rate"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2).cast("long").alias("n_total"),
    ).orderBy("grp")


# ------------- negative-binomial overdispersion fit (r11 extra)
@query(
    "stats_negative_binomial_fit",
    oracle="""
    WITH d AS (
      SELECT CAST(count(*) AS BIGINT) AS y
      FROM orders
      GROUP BY CAST(epoch_ms(o_orderdate::DATE) / 86400000 AS BIGINT)
    ), m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS ss
      FROM d
    ), mv AS (
      SELECT n, s / n AS mu,
             (ss - s * s / n) / (n - 1) AS var
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round(mu, 6) AS mean_daily,
           round(var, 6) AS var_daily,
           round(var / mu, 6) AS dispersion_index,
           round(CASE WHEN var > mu THEN mu * mu / (var - mu)
                      ELSE NULL END, 6) AS nb_r,
           round(CASE WHEN var > mu THEN mu / var
                      ELSE NULL END, 6) AS nb_p
    FROM mv
    """,
    tags=("stats", "count-model", "time-series"),
)
def stats_negative_binomial_fit(spark, sf_dir):
    """NEGATIVE-BINOMIAL METHOD-OF-MOMENTS FIT for the daily order
    count (the standard overdispersed-count model, public): a Poisson
    assumption demands var == mean; the dispersion index var/mu says
    how wrong that is, and when var > mu the NB(r, p) moment match is
    r = mu^2/(var - mu), p = mu/var — the parameters a demand model /
    anomaly threshold is built from. NULL r/p when the data is UNDER-
    dispersed (NB does not exist there; the NULL is the answer).

    Exactness: counts are exact; the two moments sum in
    DECIMAL(38,0); mean/variance/r/p are identical IEEE trees, 6dp.

    Scale: one count-per-day hash agg, one moment agg, 1-row math."""
    o = t(spark, sf_dir, "orders")
    d = o.groupBy(
        (
            (
                F.unix_timestamp(F.col("o_orderdate").cast("date"))
                / 86400
            ).cast("long")
        ).alias("day")
    ).agg(F.count("*").cast("long").alias("y"))
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = d.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec0(F.col("y"))).cast("double").alias("s"),
        F.sum(dec0(F.col("y")) * F.col("y")).cast("double").alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(mu, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mu, 6).alias("dispersion_index"),
        F.round(
            F.when(var > mu, mu * mu / (var - mu)), 6
        ).alias("nb_r"),
        F.round(F.when(var > mu, mu / var), 6).alias("nb_p"),
    )


# ---------------- Kendall's W judge concordance (r11 extra)


@query(
    "stats_kendalls_w",
    oracle="""
    WITH cell AS (
      SELECT r.r_name AS judge, p.p_partkey % 10 AS item,
             CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT)
               AS cents
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ), ranked AS (
      SELECT judge, item,
             row_number() OVER (PARTITION BY judge
                                ORDER BY cents DESC, item) AS rk
      FROM cell
    ), sums AS (
      SELECT item, CAST(sum(rk) AS BIGINT) AS ri,
             (SELECT count(DISTINCT judge) FROM ranked) AS k,
             (SELECT count(DISTINCT item) FROM ranked) AS n
      FROM ranked GROUP BY item
    ), s AS (
      SELECT max(k) AS k, max(n) AS n,
             CAST(sum((2 * ri - k * (n + 1))
                      * (2 * ri - k * (n + 1))) AS BIGINT) AS s4
      FROM sums
    )
    SELECT CAST(k AS BIGINT) AS n_judges, CAST(n AS BIGINT) AS n_items,
           round(3.0 * s4 / (k * k * (CAST(n AS DOUBLE) * n * n - n)),
                 6) AS kendalls_w
    FROM s
    """,
    tags=("stats", "agreement", "ranking"),
)
def stats_kendalls_w(spark, sf_dir):
    """KENDALL'S COEFFICIENT OF CONCORDANCE W (Kendall & Babington
    Smith 1939, public) — agreement among k independent RANKERS of
    the same n items, the statistic an LLM-judge ensemble or a panel
    of quality raters is audited with: each region 'judge' ranks the
    10 part buckets by revenue; W = 12 S / (k^2 (n^3 - n)) with S the
    variance of rank sums around k(n+1)/2. W = 1 means identical
    rankings, W = 0 no agreement.

    Exactness: ranks are exact integers (deterministic cents-desc,
    item tiebreak); S is computed on 4S = sum (2 R_i - k(n+1))^2 —
    ALL-INTEGER (doubling clears the k(n+1)/2 half-integer), so the
    only FP op is the final division, identical both engines. 6dp.

    Scale: facts collapse to the k x n grid in one agg; ranking
    windows run over n-row judge groups (group dim); the rest is
    constant-size."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    n_ = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    from pyspark.sql import Window as W

    cell = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n_, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("r_name").alias("judge"),
            (F.col("p_partkey") % 10).alias("item"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = cell.select(
        "judge",
        "item",
        F.row_number()
        .over(
            W.partitionBy("judge").orderBy(
                F.col("cents").desc(), F.col("item")
            )
        )
        .alias("rk"),
    )
    kn = ranked.agg(
        F.countDistinct("judge").alias("k"),
        F.countDistinct("item").alias("n"),
    )
    sums = (
        ranked.groupBy("item")
        .agg(F.sum("rk").cast("long").alias("ri"))
        .crossJoin(F.broadcast(kn))
    )
    dev = 2 * F.col("ri") - F.col("k") * (F.col("n") + 1)
    agg = sums.agg(
        F.max("k").alias("k"),
        F.max("n").alias("n"),
        F.sum(dev * dev).cast("long").alias("s4"),
    )
    return agg.select(
        F.col("k").cast("long").alias("n_judges"),
        F.col("n").cast("long").alias("n_items"),
        F.round(
            3.0
            * F.col("s4")
            / (
                F.col("k")
                * F.col("k")
                * (
                    F.col("n").cast("double") * F.col("n") * F.col("n")
                    - F.col("n")
                )
            ),
            6,
        ).alias("kendalls_w"),
    )


# ------------- fixed-effect meta-analysis of correlations (r11 extra)
@query(
    "stats_meta_fixed_effect",
    oracle="""
    WITH v AS (
      SELECT l_suppkey % 25 AS g,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ), m AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy
      FROM v GROUP BY g HAVING count(*) >= 4
    ), rz AS (
      SELECT g, n,
             CAST(CAST(0.5 * ln((1 + r) / (1 - r)) AS DECIMAL(38,12))
                  AS DOUBLE) AS z,
             n - 3 AS w
      FROM (
        SELECT g, n,
               (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx)
                                  * sqrt(n*syy - sy*sy)) AS r
        FROM m)
    ), pool AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(sum(CAST(w * z AS DECIMAL(38,12))) AS DOUBLE) AS swz,
             CAST(sum(CAST(w AS DECIMAL(38,0))) AS DOUBLE) AS sw,
             CAST(sum(CAST(w * z * z AS DECIMAL(38,12))) AS DOUBLE)
               AS swzz
      FROM rz
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           round((exp(2 * swz / sw) - 1)
                 / (exp(2 * swz / sw) + 1), 6) AS pooled_r,
           round(swzz - swz * swz / sw, 6) AS cochran_q,
           round(greatest(0.0, 1.0 - (k - 1)
                                / (swzz - swz * swz / sw)), 6)
             AS i_squared
    FROM pool
    """,
    tags=("stats", "meta-analysis", "correlation"),
)
def stats_meta_fixed_effect(spark, sf_dir):
    """FIXED-EFFECT META-ANALYSIS of per-segment correlations
    (Fisher-z pooling + Cochran's Q heterogeneity + Higgins' I^2,
    public): each supplier segment contributes r(quantity, price)
    transformed to z = atanh(r) with weight n-3 (the inverse of
    var(z)); the pooled z back-transforms to the combined r, Q =
    sum w (z - z-bar)^2 tests whether segments share one effect, and
    I^2 = 1 - (k-1)/Q is the share of variance from real
    heterogeneity — the meta-analytic layer over any per-segment
    statistic battery.

    Exactness: per-group moments are DECIMAL(38,0)-exact; each
    atanh(r) (as 0.5 ln((1+r)/(1-r)) — identical tree) is
    DECIMAL(38,12)-cast to absorb libm ulps (the theil_index rule);
    weighted sums are per-term DECIMAL-cast; the back-transform
    tanh runs as the exp identity on identical doubles. 6dp.

    Scale: one grouped moment agg over the facts (25 groups), then
    group-dim arithmetic."""
    li = t(spark, sf_dir, "lineitem")
    v = li.select(
        (F.col("l_suppkey") % 25).alias("g"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec0 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = (
        v.groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec0(F.col("x"))).cast("double").alias("sx"),
            F.sum(dec0(F.col("y"))).cast("double").alias("sy"),
            F.sum(dec0(F.col("x")) * F.col("y"))
            .cast("double")
            .alias("sxy"),
            F.sum(dec0(F.col("x")) * F.col("x"))
            .cast("double")
            .alias("sxx"),
            F.sum(dec0(F.col("y")) * F.col("y"))
            .cast("double")
            .alias("syy"),
        )
        .filter(F.col("n") >= 4)
    )
    n = F.col("n")
    r = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rz = m.select(
        "n",
        (0.5 * F.log((1 + r) / (1 - r)))
        .cast("decimal(38,12)")
        .cast("double")
        .alias("z"),
        (n - 3).alias("w"),
    )
    dec12 = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    pool = rz.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(dec12(F.col("w") * F.col("z"))).cast("double").alias("swz"),
        F.sum(dec0(F.col("w"))).cast("double").alias("sw"),
        F.sum(dec12(F.col("w") * F.col("z") * F.col("z")))
        .cast("double")
        .alias("swzz"),
    )
    zbar2 = 2 * F.col("swz") / F.col("sw")
    q = F.col("swzz") - F.col("swz") * F.col("swz") / F.col("sw")
    return pool.select(
        F.col("k").cast("long").alias("k_groups"),
        F.round(
            (F.exp(zbar2) - 1) / (F.exp(zbar2) + 1), 6
        ).alias("pooled_r"),
        F.round(q, 6).alias("cochran_q"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - (F.col("k") - 1) / q), 6
        ).alias("i_squared"),
    )


# --------------- sequential probability ratio test (r12)

# repr-exact shared literals (the house convention for irrational
# constants): ln(p1/p0), ln((1-p1)/(1-p0)) for H0 p=0.7 vs H1 p=0.8,
# and the Wald boundary ln((1-b)/a) = ln(19) at alpha = beta = 0.05
_SPRT_LA_F = 0.13353139262452277
_SPRT_LB_F = -0.4054651081081643
_SPRT_BOUND_F = 2.9444389791664403
# oracle-side spellings: DuckDB parses a bare decimal literal as
# DECIMAL, so the SQL wraps each in an explicit DOUBLE cast
_SPRT_LA = f"CAST({_SPRT_LA_F!r} AS DOUBLE)"
_SPRT_LB = f"CAST({_SPRT_LB_F!r} AS DOUBLE)"
_SPRT_BOUND = f"CAST({_SPRT_BOUND_F!r} AS DOUBLE)"
_SPRT_THRESH = 100.0


@query(
    "stats_sprt_sequential",
    oracle=f"""
    WITH ord AS (
      SELECT ts, event_id,
             CASE WHEN value > {_SPRT_THRESH} THEN 1 ELSE 0 END AS x
      FROM events
    ), cum AS (
      SELECT row_number() OVER (ORDER BY ts, event_id) AS tt,
             sum(x) OVER (ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM ord
    ), llr AS (
      SELECT tt,
             ({_SPRT_LA} * s) + ({_SPRT_LB} * (tt - s)) AS l
      FROM cum
    ), hit AS (
      SELECT min(tt) AS n_dec FROM llr
      WHERE l >= {_SPRT_BOUND} OR l <= -{_SPRT_BOUND}
    ), fin AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(x) AS BIGINT) AS sx
      FROM ord
    )
    SELECT fin.n_total,
           COALESCE(CAST(hit.n_dec AS BIGINT), -1) AS n_at_decision,
           CASE WHEN hit.n_dec IS NULL THEN 'continue'
                WHEN (SELECT l FROM llr WHERE tt = hit.n_dec)
                     >= {_SPRT_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           round(COALESCE(
             (SELECT l FROM llr WHERE tt = hit.n_dec), 0.0), 6)
             AS llr_at_decision,
           round(({_SPRT_LA} * fin.sx)
                 + ({_SPRT_LB} * (fin.n_total - fin.sx)), 6)
             AS llr_final
    FROM fin CROSS JOIN hit
    """,
    tags=("stats", "sequential", "experimentation", "events"),
)
def stats_sprt_sequential(spark, sf_dir):
    """WALD'S SEQUENTIAL PROBABILITY RATIO TEST (Wald 1945, public) —
    the always-valid early-stopping test every experimentation
    platform reinvents: walk the cumulative log-likelihood ratio of
    H1 (p=0.8) vs H0 (p=0.7) over the event stream in (ts, event_id)
    order, stop the first time it exits [-ln(19), ln(19)]
    (alpha = beta = 0.05). Reports the decision, the sample size at
    decision (the whole point of SPRT: expected n is far below the
    fixed-horizon test's), and the end-of-stream LLR.

    Exactness: the LLR at row t is a closed form of two INTEGERS
    (successes s, index t) times shared repr-exact literals —
    (la*s) + (lb*(t-s)) with identical parenthesization both engines;
    no accumulation of doubles anywhere, so the crossing set is
    bit-identical.

    Scale: the cumulative integers come from range_prefix_sums (the
    two-pass range-partitioned prefix primitive — never a
    single-partition window over the stream); the crossing is a
    filter + min_by fold. The stream version is the same algebra over
    per-epoch additive (s, t) state."""
    from gcp_etl_spark.operators.quantiles import range_prefix_sums

    la, lb, bound = _SPRT_LA_F, _SPRT_LB_F, _SPRT_BOUND_F
    e = t(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        (F.col("value") > _SPRT_THRESH).cast("long").alias("x"),
        F.lit(1).cast("long").alias("one"),
    )
    cum, _ = range_prefix_sums(e, ["ts", "event_id"], ["x", "one"])
    llr = cum.select(
        F.col("one_cum").alias("tt"),
        (
            (F.lit(la) * F.col("x_cum"))
            + (F.lit(lb) * (F.col("one_cum") - F.col("x_cum")))
        ).alias("l"),
    )
    hit = llr.filter(
        (F.col("l") >= bound) | (F.col("l") <= -bound)
    ).agg(
        F.min("tt").alias("n_dec"),
        F.min_by("l", "tt").alias("l_dec"),
    )
    fin = e.agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum("x").cast("long").alias("sx"),
    )
    return fin.crossJoin(F.broadcast(hit)).select(
        "n_total",
        F.coalesce(F.col("n_dec"), F.lit(-1)).cast("long").alias(
            "n_at_decision"
        ),
        F.when(F.col("n_dec").isNull(), "continue")
        .when(F.col("l_dec") >= bound, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
        F.round(F.coalesce(F.col("l_dec"), F.lit(0.0)), 6).alias(
            "llr_at_decision"
        ),
        F.round(
            (F.lit(la) * F.col("sx"))
            + (F.lit(lb) * (F.col("n_total") - F.col("sx"))),
            6,
        ).alias("llr_final"),
    )


# --------------- delta-method CI for a ratio metric (r12)
_DM_Z = 1.959963984540054  # z_{0.975}, shared repr-exact literal


@query(
    "stats_delta_method_ratio_ci",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS x,
             CAST(CAST(sum(CAST(round(value * 100) AS BIGINT))
                  AS BIGINT) AS BIGINT) AS y_cents
      FROM events GROUP BY user_id
    ), mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y_cents) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y_cents * y_cents) AS HUGEINT) AS syy,
             CAST(sum(x * y_cents) AS BIGINT) AS sxy
      FROM per_user
    )
    SELECT n,
           round((CAST(sy AS DOUBLE) / sx) / 100.0, 6) AS ratio,
           round(sqrt(greatest(CAST(0 AS DOUBLE),
             ((CAST(syy AS DOUBLE) / n
                 - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
              - 2.0 * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sy AS DOUBLE) / n))
              + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sx AS DOUBLE) / n)))
             / (n * (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n)))) / 100.0, 6) AS se,
           round(((CAST(sy AS DOUBLE) / sx)
             - CAST({_DM_Z!r} AS DOUBLE) * sqrt(greatest(
                 CAST(0 AS DOUBLE),
             ((CAST(syy AS DOUBLE) / n
                 - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
              - 2.0 * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sy AS DOUBLE) / n))
              + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sx AS DOUBLE) / n)))
             / (n * (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n))))) / 100.0, 6)
             AS ci_lo,
           round(((CAST(sy AS DOUBLE) / sx)
             + CAST({_DM_Z!r} AS DOUBLE) * sqrt(greatest(
                 CAST(0 AS DOUBLE),
             ((CAST(syy AS DOUBLE) / n
                 - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
              - 2.0 * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxy AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sy AS DOUBLE) / n))
              + (CAST(sy AS DOUBLE) / sx) * (CAST(sy AS DOUBLE) / sx)
                * (CAST(sxx AS DOUBLE) / n
                   - (CAST(sx AS DOUBLE) / n)
                     * (CAST(sx AS DOUBLE) / n)))
             / (n * (CAST(sx AS DOUBLE) / n)
                  * (CAST(sx AS DOUBLE) / n))))) / 100.0, 6)
             AS ci_hi
    FROM mom
    """,
    tags=("stats", "experimentation", "ratio-metric", "events"),
)
def stats_delta_method_ratio_ci(spark, sf_dir):
    """DELTA-METHOD CONFIDENCE INTERVAL for a RATIO METRIC (Fieller/
    delta method, public; the Deng et al. 2017 "ratio metrics in A/B
    tests" recipe) — revenue-per-event with users as the randomization
    unit: R = Σy/Σx over per-user totals, Var(R) ≈ (σ_y² − 2Rσ_xy +
    R²σ_x²)/(n·μ_x²). The per-user aggregation is what makes the CI
    honest under within-user correlation — the naive per-event CI is
    the classic A/B-testing mistake this operator exists to prevent.

    Exactness: per-user (x, y) are exact integers (events, cents); all
    five moments are exact integer sums; the variance expression is
    ONE identical IEEE tree both engines (explicit parenthesization),
    guarded nonnegative; sqrt correctly rounded; z is the shared
    repr-exact literal.

    Scale: one per-user hash agg, one 5-moment fold — nothing else."""
    per_user = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").cast("long").alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y_cents"),
    )
    mom = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y_cents").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(
            F.col("y_cents").cast("decimal(38,0)")
            * F.col("y_cents").cast("decimal(38,0)")
        ).alias("syy"),
        F.sum(F.col("x") * F.col("y_cents")).cast("long").alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    ratio = sy / F.col("sx")
    var_y = syy / n - (sy / n) * (sy / n)
    cov = sxy / n - (sx / n) * (sy / n)
    var_x = sxx / n - (sx / n) * (sx / n)
    se = F.sqrt(
        F.greatest(
            F.lit(0.0),
            (var_y - 2.0 * ratio * cov + ratio * ratio * var_x)
            / (n * (sx / n) * (sx / n)),
        )
    )
    return mom.select(
        "n",
        F.round(ratio / 100.0, 6).alias("ratio"),
        F.round(se / 100.0, 6).alias("se"),
        F.round((ratio - _DM_Z * se) / 100.0, 6).alias("ci_lo"),
        F.round((ratio + _DM_Z * se) / 100.0, 6).alias("ci_hi"),
    )
