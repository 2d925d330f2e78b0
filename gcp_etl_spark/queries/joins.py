"""Join operators (SURVEY.md §2B "Joins") — all join shapes plus the
as-of join.

Scale notes: dimension tables (region/nation/supplier/part at star
ratios) are broadcast explicitly so the fact side never shuffles for
them; fact-fact joins stay sort-merge (reference prefers SMJ,
``etl-on-gcp-vinicius-campos.py:85``) with AQE skew splitting. The
as-of join is an equi-key merge with the range predicate inside the
join condition — never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.operators.asof import asof_join
from gcp_etl_spark.queries._exact import dsum_expr
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t

R = lambda c, n=4: F.round(c, n)  # noqa: E731
# oracle-side exact revenue sum (mirrors dsum_expr, _exact.py)
REV_SQL = (
    "CAST(sum(CAST(l_extendedprice * (1 - l_discount) "
    "AS DECIMAL(18,6))) AS DOUBLE)"
)


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {REV_SQL} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'FURNITURE'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    tags=("join", "aggregate", "topk"),
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, filter each side, group, top-10.

    customer is small relative to the facts → broadcast; the
    orders⋈lineitem join is SMJ on the shuffled key; top-10 is
    TakeOrderedAndProject (per-partition partial top-k)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "FURNITURE")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-07-01 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {REV_SQL} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    tags=("join", "aggregate", "star"),
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join with broadcast dims."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum_expr(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


@query(
    "join_inner_basic",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice > 250000
    """,
    tags=("join",),
)
def join_inner_basic(spark, sf_dir):
    """Inner equi join, filter pushed below the join."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    c = t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "join_left_nulls",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN (
        SELECT * FROM orders WHERE o_totalprice > 280000
    ) big ON c_custkey = big.o_custkey
    """,
    tags=("join", "outer"),
)
def join_left_nulls(spark, sf_dir):
    """Left outer join — unmatched customers keep nulls."""
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 280000)
    return c.join(big, c.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_basic",
    oracle="""
    SELECT p_partkey, p_name, l_orderkey, l_quantity
    FROM (SELECT * FROM lineitem WHERE l_quantity >= 49) li
    RIGHT JOIN part ON li.l_partkey = p_partkey
    """,
    tags=("join", "outer"),
)
def join_right_basic(spark, sf_dir):
    """Right outer join — every part kept."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    p = t(spark, sf_dir, "part")
    return li.join(p, li.l_partkey == p.p_partkey, "right").select(
        "p_partkey", "p_name", "l_orderkey", "l_quantity"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH f AS (SELECT o_custkey, count(*) AS f_cnt FROM orders
               WHERE o_orderstatus = 'F' GROUP BY o_custkey),
         o AS (SELECT o_custkey, count(*) AS o_cnt FROM orders
               WHERE o_orderstatus = 'O' GROUP BY o_custkey)
    SELECT coalesce(f.o_custkey, o.o_custkey) AS custkey, f_cnt, o_cnt
    FROM f FULL OUTER JOIN o ON f.o_custkey = o.o_custkey
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates with key coalescing."""
    orders = t(spark, sf_dir, "orders")
    # rename the keys up front — both sides share lineage (self-join),
    # so unrenamed o_custkey references would be ambiguous
    f = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_key"))
        .agg(F.count("*").alias("f_cnt"))
    )
    o = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("o_key"))
        .agg(F.count("*").alias("o_cnt"))
    )
    return f.join(o, f.f_key == o.o_key, "full").select(
        F.coalesce("f_key", "o_key").alias("custkey"), "f_cnt", "o_cnt"
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 280000)
    """,
    tags=("join", "semi"),
)
def join_semi(spark, sf_dir):
    """Left-semi join = EXISTS (no right columns, no duplication)."""
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 280000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    tags=("join", "anti"),
)
def join_anti(spark, sf_dir):
    """Left-anti join = NOT EXISTS."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    tags=("join", "cross"),
)
def join_cross(spark, sf_dir):
    """Explicit cross join (both sides tiny — BroadcastNestedLoop)."""
    return (
        t(spark, sf_dir, "region")
        .crossJoin(t(spark, sf_dir, "nation"))
        .select("r_name", "n_name")
    )


@query(
    "join_theta_pairs",
    oracle="""
    SELECT a.p_size AS p_size, count(*) AS n_pairs,
           CAST(sum(CAST(abs(a.p_retailprice - b.p_retailprice)
                          AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price_gap
    FROM part a JOIN part b
      ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    GROUP BY a.p_size
    """,
    tags=("join", "theta"),
)
def join_theta_pairs(spark, sf_dir):
    """Equi + theta self-join aggregate, computed WITHOUT materializing
    the pair relation (r12 optimization, guide §1.2 "the distributed
    algorithm"): for values sorted within a group, the sorted-rank
    identity Σ_{i<j}(x_(j) − x_(i)) = Σ_j (2j − n − 1)·x_(j) =
    2·Σ j·x_(j) − (n+1)·Σ x_(j) gives the exact pairwise
    |price-gap| sum from ONE window rank + ONE aggregate over the
    20k-row part relation, where the former self-join expanded ~4M
    (p_size, pair) rows before aggregating them straight back down.

    Exactness vs the unchanged pair-join oracle: TPC-H retailprices
    are 2-decimal rationals (double error ≪ 0.005), so casting each
    price to DECIMAL(18,2) up front recovers the exact rational, the
    identity is exact decimal algebra from there (tie order is
    irrelevant — equal values contribute symmetric zero terms), and
    n_pairs = C(n,2) because p_partkey is unique. Same final
    decimal→double cast and double division as the oracle."""
    p = t(spark, sf_dir, "part").select(
        "p_size", "p_partkey", F.col("p_retailprice").cast("decimal(18,2)").alias("x")
    )
    w = Window.partitionBy("p_size").orderBy("x", "p_partkey")
    ranked = p.withColumn("rn", F.row_number().over(w))
    g = ranked.groupBy("p_size").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("rn") * F.col("x")).alias("sjx"),
    )
    gap_sum = F.lit(2) * F.col("sjx") - (F.col("n") + F.lit(1)) * F.col("sx")
    return (
        g.filter(F.col("n") >= 2)
        .select(
            "p_size",
            (F.expr("n * (n - 1) div 2")).alias("n_pairs"),
            (
                gap_sum.cast("double") / F.expr("n * (n - 1) div 2")
            ).alias("avg_price_gap"),
        )
    )


@query(
    "asof_join_events_orders",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    QUALIFY row_number() OVER (
        PARTITION BY e.event_id
        ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
    ) = 1
    """,
    tags=("join", "asof"),
)
def asof_join_events_orders(spark, sf_dir):
    """As-of join: each event picks the customer's latest order at or
    before the event time (DuckDB dual: ASOF JOIN / QUALIFY form)."""
    e = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    out = asof_join(
        e,
        o,
        left_on=["user_id"],
        right_on=["o_custkey"],
        left_ts="ts",
        right_ts="o_orderdate",
        tiebreak=["o_orderkey"],
        how="left",
    )
    return out.select(
        "event_id", "ts", "user_id", "o_orderkey", "o_orderdate", "o_totalprice"
    )


OVERLAP_BUCKET_DAYS = 16


@query(
    "join_interval_overlap",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS a_id, o_orderdate AS a_start,
             o_orderdate + INTERVAL 30 DAY AS a_end
      FROM orders WHERE o_custkey % 25 = 0
    ),
    b AS (
      SELECT DISTINCT l_orderkey * 10 + l_linenumber AS b_id,
             l_shipdate AS b_start,
             l_shipdate + INTERVAL 7 DAY AS b_end
      FROM lineitem WHERE l_suppkey % 50 = 0
    )
    SELECT strftime(a_start, '%Y-%m') AS month,
           count(*) AS n_pairs,
           count(DISTINCT a_id) AS n_a
    FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
    GROUP BY month
    """,
    tags=("join", "interval", "banded", "orders", "lineitem"),
)
def join_interval_overlap(spark, sf_dir):
    """Interval × interval OVERLAP join (both sides are ranges, no
    equi key): 30-day order windows × 7-day shipment windows,
    overlapping-pair counts per month.

    Scale: the naive plan is a nested-loop cross product. This is the
    banded form — each interval explodes to the ~`len/bucket + 1`
    day-buckets it touches, the join runs as an EQUI join on bucket,
    and the exact overlap predicate filters residually. Replication is
    bounded (30/16+1 = 2 buckets for A, 7/16+1 for B), the shuffle is
    hash-on-bucket — time-local, skew-bounded — and output is bounded
    by true overlap density, never |A|·|B|.

    r13 (guide §2.4 remove shuffles): multi-bucket duplicate pairs
    used to be collapsed by a DISTINCT over the ~1M surviving joined
    rows — a full extra shuffle. Every overlapping pair is instead
    counted in exactly ONE bucket: the bucket holding the overlap
    start, max(a_start, b_start), which both intervals necessarily
    touch (it is ≥ both lo buckets and ≤ both hi buckets whenever the
    intervals overlap). A row-local predicate replaces the distinct
    exchange, and only (a_id, a_start) flow onward (§2.3 project
    before the exchange). Measured 2.4-2.7 s → 1.25-1.6 s isolated
    (A/B equal on all 80 output rows); Exchanges 10 → 8.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    day = lambda c: F.to_utc_timestamp(c, "UTC").cast("long") / F.lit(86400)  # noqa: E731
    a = o.filter(F.col("o_custkey") % 25 == 0).select(
        F.col("o_orderkey").alias("a_id"),
        F.col("o_orderdate").alias("a_start"),
        F.date_add("o_orderdate", 30).cast("timestamp").alias("a_end"),
    )
    b = (
        li.filter(F.col("l_suppkey") % 50 == 0)
        .select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("b_id"),
            F.col("l_shipdate").alias("b_start"),
            F.date_add("l_shipdate", 7).cast("timestamp").alias("b_end"),
        )
        # synthetic lineitem contains duplicate (orderkey, linenumber)
        # rows — dedup to DISTINCT shipment windows so pair counts are
        # well-defined on both engines
        .distinct()
        # r13 sf1.0 scaling probe: this is the STREAMED side of the
        # broadcast bucket join, and AQE coalesced the small
        # post-distinct exchange (~180k rows, a few MB) down to 1-2
        # partitions — the ~100M-pair join explosion then ran almost
        # serially (t8/t32 = 1.12 at sf1.0). An explicit repartition
        # (AQE never coalesces an explicit numPartitions) spreads the
        # explosion across the cluster; defaultParallelism keeps it
        # scale-adaptive, and the extra shuffle moves only the tiny
        # pre-explosion rows (guide §2.5 input skew / §2.2).
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def banded(df, start, end):
        lo = F.floor(day(F.col(start)) / OVERLAP_BUCKET_DAYS)
        hi = F.floor(day(F.col(end)) / OVERLAP_BUCKET_DAYS)
        return df.withColumn("bucket", F.explode(F.sequence(lo, hi)))

    pairs = (
        banded(a, "a_start", "a_end")
        .join(banded(b, "b_start", "b_end"), "bucket")
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .filter(
            F.col("bucket")
            == F.floor(
                day(F.greatest("a_start", "b_start")) / OVERLAP_BUCKET_DAYS
            )
        )
        .select("a_id", "a_start")
    )
    return pairs.groupBy(
        F.date_format("a_start", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("a_id").alias("n_a"),
    )


ASOF_TOL_SEC = 3600


@query(
    "asof_nearest_tolerance",
    oracle=f"""
    WITH clicks AS (
      SELECT event_id, user_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT event_id AS p_id, user_id, epoch_us(ts) AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT c.event_id, p.p_id,
             abs(c.t - p.pt) // 1000000 AS gap_sec,
             row_number() OVER (
               PARTITION BY c.event_id
               ORDER BY abs(c.t - p.pt), p.p_id
             ) AS rn
      FROM clicks c JOIN purchases p
        ON c.user_id = p.user_id
       AND abs(c.t - p.pt) <= {ASOF_TOL_SEC * 1_000_000}
    )
    SELECT event_id, p_id, CAST(gap_sec AS BIGINT) AS gap_sec
    FROM pairs WHERE rn = 1
    """,
    tags=("join", "asof", "nearest", "events"),
)
def asof_nearest_tolerance(spark, sf_dir):
    """As-of join in NEAREST mode with a tolerance (pd.merge_asof
    ``direction='nearest'``): each click attaches the user's closest
    purchase within ±1 h, deterministic tie-break on purchase id.
    Complements ``asof_join_events_orders`` (backward mode, the DuckDB
    ``ASOF JOIN`` dual — DuckDB has no nearest mode, so the oracle is
    the explicit rank-over-candidates form).

    Scale: equi-join on user_id with the tolerance band as a residual
    predicate (sort-merge, never nested-loop); the candidate set per
    click is bounded by the ±1 h band, and the rank window shuffles on
    event_id — same cardinality as the click stream.
    """
    e = t(spark, sf_dir, "events")
    us = F.unix_micros(F.to_utc_timestamp(F.col("ts"), "UTC"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("t")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", us.alias("pt")
    )
    gap = F.abs(F.col("t") - F.col("pt"))
    pairs = clicks.join(purchases, "user_id").filter(
        gap <= ASOF_TOL_SEC * 1_000_000
    )
    w = Window.partitionBy("event_id").orderBy(
        F.abs(F.col("t") - F.col("pt")), "p_id"
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "p_id",
            (F.abs(F.col("t") - F.col("pt")) / F.lit(1_000_000))
            .cast("long")
            .alias("gap_sec"),
        )
    )


@query(
    "join_range_lookup_broadcast",
    oracle="""
    WITH brackets(bracket, lo, hi, rate) AS (
      VALUES ('a_small',  0.0,     1000.0,   0.02),
             ('b_medium', 1000.0,  10000.0,  0.05),
             ('c_large',  10000.0, 50000.0,  0.08),
             ('d_jumbo',  50000.0, 1e18,     0.12)
    )
    SELECT b.bracket, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice), 2) AS base,
           round(sum(l.l_extendedprice * b.rate), 2) AS fee
    FROM lineitem l
    JOIN brackets b
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "range", "lineitem"),
)
def join_range_lookup_broadcast(spark, sf_dir):
    """RANGE-LOOKUP join against a tiny literal bracket dimension
    (fee schedule): each fact row lands in the [lo, hi) band via a
    non-equi predicate — the tax-bracket/rate-card/tiering shape.
    Because the build side is a handful of rows, the planner runs a
    BROADCAST nested-loop with the range predicate evaluated streamside
    — the fact table is scanned once and never shuffled (the correct
    plan for ANY small range dimension; banding is only needed when
    BOTH sides are large, cf. join_interval_banded).

    Scale: fee math rides the scan; one |brackets|-row rollup."""
    brackets = spark.createDataFrame(
        [
            ("a_small", 0.0, 1000.0, 0.02),
            ("b_medium", 1000.0, 10000.0, 0.05),
            ("c_large", 10000.0, 50000.0, 0.08),
            ("d_jumbo", 50000.0, 1e18, 0.12),
        ],
        "bracket string, lo double, hi double, rate double",
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(brackets),
            (li.l_extendedprice >= brackets.lo)
            & (li.l_extendedprice < brackets.hi),
        )
        .groupBy("bracket")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("base"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("rate")), 2).alias(
                "fee"
            ),
        )
        .orderBy("bracket")
    )


# ----------------------- as-of join with tolerance (r11 extra)
_ASOF_TOL_US = 600 * 1_000_000  # 10-minute tolerance, microseconds


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS cus FROM events
      WHERE event_type = 'click'
    ), v AS (
      SELECT user_id, epoch_us(ts) AS vus FROM events
      WHERE event_type = 'view'
    ), j AS (
      SELECT c.user_id, c.cus, v.vus
      FROM c ASOF LEFT JOIN v
        ON c.user_id = v.user_id AND v.vus <= c.cus
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(*) FILTER (vus IS NOT NULL
                 AND cus - vus <= {_ASOF_TOL_US}) AS BIGINT)
             AS n_matched,
           CAST(count(*) FILTER (vus IS NOT NULL
                 AND cus - vus > {_ASOF_TOL_US}) AS BIGINT)
             AS n_tolerance_missed,
           CAST(count(*) FILTER (vus IS NULL) AS BIGINT) AS n_no_prior,
           round(CAST(sum(cus - vus)
                      FILTER (vus IS NOT NULL
                              AND cus - vus <= {_ASOF_TOL_US})
                      AS DOUBLE)
                 / count(*) FILTER (vus IS NOT NULL
                                    AND cus - vus <= {_ASOF_TOL_US})
                 / 1000000.0, 6) AS avg_gap_s
    FROM j
    """,
    tags=("joins", "asof", "events", "temporal"),
)
def join_asof_tolerance(spark, sf_dir):
    """AS-OF JOIN WITH TOLERANCE (the kdb/pandas ``merge_asof
    tolerance=`` semantic): each click matches the user's LATEST view
    at-or-before it, but only counts as attributed when the gap is
    within 10 minutes — the attribution-window rule every
    click-attribution pipeline enforces. Reported: matched /
    tolerance-missed (a prior view exists but is stale) / no-prior
    counts and the mean attributed gap.

    Spark implementation (no native ASOF): the union-tag pattern —
    views and clicks interleave in ONE per-user event-time window and
    ``last_value(view_ts, ignorenulls)`` carries the latest view
    forward; ties cannot occur (event timestamps are strictly
    increasing per user in this table). The oracle uses DuckDB's
    NATIVE ASOF LEFT JOIN — two entirely different algorithms, one
    hash-verified answer. Gaps are exact epoch-microsecond BIGINTs;
    the mean divides exact integers (DECIMAL sum), rounded 6dp.

    Scale: one hash shuffle on user_id, one ordered window per user
    (state = one timestamp), one aggregate — the streaming dual is
    stream-static enrich. Never a range join, never an explode."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    tagged = e.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("event_type").alias("et"),
        F.when(
            F.col("event_type") == "view",
            F.unix_micros(F.col("ts").cast("timestamp")),
        ).alias("vus"),
    )
    # views sort BEFORE clicks at equal timestamps ('click' < 'view'
    # lexically, so order by et DESC puts view first) — moot here
    # (per-user timestamps are unique) but pinned for determinism
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("us"), F.col("et").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    j = (
        tagged.select(
            "user_id",
            "us",
            "et",
            F.last("vus", ignorenulls=True).over(w).alias("last_vus"),
        )
        .filter(F.col("et") == "click")
        .select("us", "last_vus")
    )
    matched = F.col("last_vus").isNotNull() & (
        F.col("us") - F.col("last_vus") <= _ASOF_TOL_US
    )
    stale = F.col("last_vus").isNotNull() & (
        F.col("us") - F.col("last_vus") > _ASOF_TOL_US
    )
    return j.agg(
        F.count("*").cast("long").alias("n_clicks"),
        F.sum(F.when(matched, 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.sum(F.when(stale, 1).otherwise(0))
        .cast("long")
        .alias("n_tolerance_missed"),
        F.sum(F.when(F.col("last_vus").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_no_prior"),
        F.round(
            F.sum(
                F.when(
                    matched,
                    (F.col("us") - F.col("last_vus")).cast(
                        "decimal(38,0)"
                    ),
                )
            ).cast("double")
            / F.sum(F.when(matched, 1))
            / 1000000.0,
            6,
        ).alias("avg_gap_s"),
    )
