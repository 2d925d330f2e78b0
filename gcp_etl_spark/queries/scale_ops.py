"""Scale-pattern queries: banded interval join, cascaded time rollups,
deterministic hash sampling, content-hash dedup, one-pass profiling.

These are the operations a 100 TB training-data/analytics pipeline
leans on daily; none exist in the reference (its surface is
scan→limit→count, SURVEY.md §2A) — all are NS extensions with full
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.functions.hashing import md5_draw
from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t


@query(
    "join_interval_banded",
    oracle="""
    SELECT o_orderkey,
           count(*) AS n_shipped,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS qty_shipped
    FROM orders JOIN lineitem
      ON l_shipdate BETWEEN o_orderdate
                        AND o_orderdate + INTERVAL 30 DAY
    WHERE o_orderkey % 997 = 0
    GROUP BY o_orderkey
    """,
    tags=("join", "interval", "scale"),
)
def join_interval_banded(spark, sf_dir):
    """Point-in-interval join executed through the banded equi-join
    rewrite (operators/interval_join.py): lineitems shipped within 30
    days of each (subsetted) order's date. A naive BETWEEN join is a
    nested loop at scale; banding makes it a hash join on day-buckets
    with <=2x interval replication."""
    from gcp_etl_spark.operators.interval_join import interval_join

    li = t(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    iv = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 997 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("w_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("w_end"),
        )
    )
    joined = interval_join(
        li, iv, point_ts="l_shipdate", start_ts="w_start", end_ts="w_end",
        bucket_days=31,
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("*").alias("n_shipped"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("qty_shipped"),
    )


@query(
    "rollup_multires",
    oracle="""
    WITH minute AS (
      SELECT date_trunc('minute', ts) AS bucket_ts,
             count(*) AS n_events,
             sum(CAST(value AS DECIMAL(18,2))) AS sv
      FROM events GROUP BY 1
    )
    SELECT 'minute' AS grain, bucket_ts,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(sv AS DOUBLE) AS sum_value
    FROM minute
    UNION ALL
    SELECT 'hour', date_trunc('hour', bucket_ts),
           CAST(sum(n_events) AS BIGINT), CAST(sum(sv) AS DOUBLE)
    FROM minute GROUP BY 2
    UNION ALL
    SELECT 'day', CAST(date_trunc('day', bucket_ts) AS TIMESTAMP),
           CAST(sum(n_events) AS BIGINT), CAST(sum(sv) AS DOUBLE)
    FROM minute GROUP BY 2
    """,
    tags=("aggregate", "timeseries", "scale"),
)
def rollup_multires(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: minute partials feed
    the hour level, hour feeds day — each coarser grain re-aggregates
    ~60x fewer rows instead of rescanning the events table (the
    continuous-aggregate pattern; at 100 TB the minute partials are
    what you persist). Decimal sums keep the cascade exact; doubles
    only at the output edge."""
    e = t(spark, sf_dir, "events")
    minute = e.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    )
    # feeds both coarser grains — lazy localCheckpoint, not SQL persist
    # (a persist with no unpersist parks the relation in the session
    # CacheManager forever; r8 leak audit)
    minute = minute.transform(barrier)
    hour = minute.groupBy(
        F.date_trunc("hour", F.col("bucket_ts")).alias("bucket_ts")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
    day = minute.groupBy(
        F.date_trunc("day", F.col("bucket_ts")).alias("bucket_ts")
    ).agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))

    def lvl(df, grain):
        # date_trunc yields session-tz timestamps; outputs stay ntz
        # like the source column (arrow schema parity with DuckDB)
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("bucket_ts").cast("timestamp_ntz").alias("bucket_ts"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sv").cast("double").alias("sum_value"),
        )

    return lvl(minute, "minute").unionByName(lvl(hour, "hour")).unionByName(
        lvl(day, "day")
    )


# Deterministic multiplicative hash in plain BIGINT arithmetic — the
# identical expression runs on both engines, so the sample is exactly
# reproducible, cluster-layout-independent, and pushes down to the
# scan as a plain filter. (df.sample() draws per-partition, so its
# row set changes with partitioning — useless as a contract at scale.)
_MIX = 2654435761  # Knuth multiplicative constant
_SAMPLE_PRED = f"(o_orderkey * {_MIX}) % 4294967296 < 429496730"  # ~10%


@query(
    "sample_hash_deterministic",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE {_SAMPLE_PRED}
    """,
    tags=("sampling", "scale"),
)
def sample_hash_deterministic(spark, sf_dir):
    """~10% Bernoulli sample by multiplicative key hashing —
    reproducible across engines/cluster layouts (unlike df.sample),
    evaluated as a pushed-down scan filter."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.expr(_SAMPLE_PRED))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


_STRAT_RATE = (
    "CASE o_orderstatus WHEN 'F' THEN 214748365 "
    "WHEN 'O' THEN 429496730 ELSE 2147483648 END"
)  # F: 5%, O: 10%, P: 50% of 2^32


@query(
    "sample_stratified",
    oracle=f"""
    SELECT o_orderstatus, count(*) AS n_sampled,
           CAST(min(o_orderkey) AS BIGINT) AS first_key
    FROM orders
    WHERE (o_orderkey * {_MIX}) % 4294967296 < {_STRAT_RATE}
    GROUP BY o_orderstatus
    """,
    tags=("sampling", "scale"),
)
def sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-stratum Bernoulli rates
    (5%/10%/50% by order status) from one hash expression — the
    downsample-majority-class primitive of training-data pipelines,
    still a single pushed-down filter."""
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(F.expr(f"(o_orderkey * {_MIX}) % 4294967296 < {_STRAT_RATE}"))
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_sampled"),
            F.min("o_orderkey").alias("first_key"),
        )
    )


# Efraimidis-Spirakis priority for weighted sampling WITHOUT
# replacement: priority = ln(u)/w with u~Uniform(0,1); the k largest
# priorities are a weighted k-sample. u comes from the same
# multiplicative hash as above (+0.5 centers the lattice away from
# ln(0)), so the sample is exactly reproducible on both engines and
# the whole operator is top-k — per-partition TakeOrdered partials,
# never a global sort, at any scale.
_WPRI = (
    f"ln(((o_orderkey * {_MIX}) % 4294967296 + 0.5) / 4294967296.0)"
    " / o_totalprice"
)


@query(
    "sample_weighted_priority",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           round({_WPRI}, 9) AS priority
    FROM orders
    ORDER BY {_WPRI} DESC, o_orderkey
    LIMIT 100
    """,
    tags=("sampling", "scale", "weighted"),
)
def sample_weighted_priority(spark, sf_dir):
    """Weighted k-sample without replacement (Efraimidis-Spirakis
    A-ES): inclusion probability scales with o_totalprice — the
    quality-weighted corpus subsampling primitive of training-data
    pipelines (sample high-quality docs preferentially, keep the draw
    deterministic for reproducible datasets). Hash-derived uniforms
    make the exact row set engine-independent; the plan is a scan +
    TakeOrdered(100), no shuffle of the data itself."""
    o = t(spark, sf_dir, "orders")
    return (
        o.withColumn("priority", F.round(F.expr(_WPRI), 9))
        .orderBy(F.expr(_WPRI).desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "priority")
    )


@query(
    "dedup_content_hash",
    oracle="""
    SELECT sha256(text) AS content_sha256,
           count(*) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keep_id
    FROM documents
    GROUP BY 1 HAVING count(*) > 1
    """,
    tags=("llm", "dedup", "multimodal"),
)
def dedup_content_hash(spark, sf_dir):
    """Content-addressed exact dedup: digest the payload, group by
    digest, keep the smallest id. THE first dedup pass of any
    multimodal pipeline (digests work the same on image/audio bytes
    as on text — this fixture's payload is the text column); one
    shuffle of (digest, id), never the payloads themselves."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("content_sha256"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "profile_columns",
    oracle="""
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_str,
           CAST(max(o_orderkey) AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    """,
    tags=("profiling", "aggregate", "scale"),
)
def profile_columns(spark, sf_dir):
    """One-pass data profiling (per-column null/distinct/min/max),
    unpivoted to long form driver-side-free; numeric min/max
    stringified through decimal(18,2) so both engines print identical
    text.

    r13 split (guide §1.2 per-task work): packing the four
    countDistinct columns AND the plain count/min/max aggregates into
    ONE aggregate made Catalyst plan an Expand whose every branch
    carries all rider columns — the combined aggregate measured
    1.37 s where the two pieces run in 0.56 s. The distinct counts
    now run in their own 4-way-Expand aggregate (only the four
    distinct columns wide), the plain aggregates in a cheap scalar
    aggregate, and the two 1-row results meet in a broadcast cross
    join — same 17 output fields, bit-identical."""
    o = t(spark, sf_dir, "orders")
    dist = o.agg(
        F.countDistinct("o_orderkey").alias("nd_key"),
        F.countDistinct("o_orderstatus").alias("nd_st"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.countDistinct("o_orderdate").alias("nd_od"),
    )
    rest = o.agg(
        F.count("*").alias("n"),
        F.count("o_orderkey").alias("nn_key"),
        F.min("o_orderkey").cast("string").alias("min_key"),
        F.max("o_orderkey").cast("string").alias("max_key"),
        F.count("o_orderstatus").alias("nn_st"),
        F.min("o_orderstatus").alias("min_st"),
        F.max("o_orderstatus").alias("max_st"),
        F.count("o_totalprice").alias("nn_tp"),
        F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("min_tp"),
        F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("max_tp"),
        F.count("o_orderdate").alias("nn_od"),
        F.min("o_orderdate").cast("string").alias("min_od"),
        F.max("o_orderdate").cast("string").alias("max_od"),
    )
    a = rest.crossJoin(F.broadcast(dist))
    return a.selectExpr(
        """stack(4,
          'o_orderkey',    n, n - nn_key, nd_key, min_key, max_key,
          'o_orderstatus', n, n - nn_st,  nd_st,  min_st,  max_st,
          'o_totalprice',  n, n - nn_tp,  nd_tp,  min_tp,  max_tp,
          'o_orderdate',   n, n - nn_od,  nd_od,  min_od,  max_od
        ) AS (col_name, n_rows, n_null, n_distinct, min_str, max_str)"""
    )


@query(
    "cdc_apply_batch",
    oracle="""
    WITH dels AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 17 = 0
    ), ups AS (
      SELECT c_custkey, c_name, c_acctbal + 500.0 AS c_acctbal
      FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 17 <> 0
    )
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE c_custkey % 17 <> 0 AND c_custkey % 10 <> 0
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM ups
    """,
    tags=("cdc", "merge", "scale"),
)
def cdc_apply_batch(spark, sf_dir):
    """CDC apply (current-state semantics, vs scd2's full history):
    a change batch of upserts + deletes folded into the snapshot with
    two anti joins + a union — the change-key sets broadcast, the
    snapshot majority is never shuffled. At 100 TB the snapshot is
    partitioned by key and the joins prune."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    del_keys = c.filter(F.col("c_custkey") % 17 == 0).select("c_custkey")
    upserts = (
        c.filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 17 != 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 500.0)
    )
    survivors = c.join(
        F.broadcast(del_keys), "c_custkey", "left_anti"
    ).join(
        F.broadcast(upserts.select("c_custkey")), "c_custkey", "left_anti"
    )
    return survivors.unionByName(upserts)


@query(
    "snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT c_custkey, c_acctbal FROM customer
    ), b AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 50.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 29 <> 0
    )
    SELECT change_kind, count(*) AS n_rows FROM (
      SELECT CASE WHEN b.c_custkey IS NULL THEN 'removed'
                  WHEN a.c_acctbal <> b.c_acctbal THEN 'changed'
                  ELSE 'same' END AS change_kind
      FROM a LEFT JOIN b ON a.c_custkey = b.c_custkey
    ) GROUP BY 1
    """,
    tags=("cdc", "diff", "scale"),
)
def snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: classify every key of snapshot A as
    same/changed/removed vs snapshot B via one key-partitioned join +
    hash agg — the audit primitive behind incremental-load
    validation. One shuffle per side on the join key; counts, not
    rows, leave the executors."""
    c = t(spark, sf_dir, "customer")
    a = c.select("c_custkey", "c_acctbal")
    b = (
        c.filter(F.col("c_custkey") % 29 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 50.0
            ).otherwise(F.col("c_acctbal")).alias("b_acctbal"),
        )
    )
    kinds = a.join(b, "c_custkey", "left").select(
        F.when(F.col("b_acctbal").isNull(), "removed")
        .when(F.col("c_acctbal") != F.col("b_acctbal"), "changed")
        .otherwise("same")
        .alias("change_kind")
    )
    return kinds.groupBy("change_kind").agg(F.count("*").alias("n_rows"))


@query(
    "histogram_fixed_bins",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
           count(*) AS n,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_min,
           CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_max
    FROM orders GROUP BY 1
    """,
    tags=("profiling", "aggregate"),
)
def histogram_fixed_bins(spark, sf_dir):
    """Equi-width histogram (25k bins over order value): single
    hash agg keyed on the bin expression — the distribution-profiling
    counterpart of profile_columns; min/max carried per bin for bar
    labeling without a second pass."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 25000).cast("long").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bin_min"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bin_max"),
        )
    )


@query(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("aggregate", "incremental", "scale"),
)
def incremental_agg_merge(spark, sf_dir):
    """Materialized-view maintenance algebra: a pre-existing aggregate
    (first half of the month) is REFRESHED with a delta batch (second
    half) by merging partial states — sum-of-sums / sum-of-counts —
    instead of rescanning the base table. The oracle is the full
    recompute: the merge must be indistinguishable. At 100 TB this is
    the difference between touching the delta and touching the world.
    (count/sum/min/max merge losslessly; avg must be carried as
    sum+count, which is why the partial schema stores those.)"""
    e = t(spark, sf_dir, "events")
    mid = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )

    existing = partial(e.filter(F.col("ts") < mid))   # the stored MV
    delta = partial(e.filter(F.col("ts") >= mid))     # today's batch
    return (
        existing.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("n_events").alias("n_events"), F.sum("sv").alias("sv"))
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("sv").cast("double").alias("sum_value"),
        )
    )


def _zorder_oracle():
    from gcp_etl_spark.operators.zorder import zvalue_sql

    z = zvalue_sql("o_custkey % 65536", "CAST(floor(o_totalprice / 10) AS BIGINT) % 65536")
    return f"""
    SELECT o_orderkey, {z} AS zval
    FROM orders
    ORDER BY zval, o_orderkey LIMIT 200
    """


@query(
    "zorder_curve",
    oracle=_zorder_oracle(),
    tags=("layout", "scale"),
)
def zorder_curve(spark, sf_dir):
    """Z-order (Morton) curve value over (customer, price-decile)
    keys — the multi-dimensional clustering key the layout operator
    (operators/zorder.py::zorder_by) range-partitions and sorts by so
    parquet min-max pruning works on both columns. Pure JVM bit
    arithmetic; the declared output is the curve head (stable
    tiebreak) so the oracle pins the exact interleave."""
    from gcp_etl_spark.operators.zorder import zvalue

    o = t(spark, sf_dir, "orders")
    z = zvalue(
        F.col("o_custkey") % 65536,
        F.floor(F.col("o_totalprice") / 10).cast("long") % 65536,
    )
    return (
        o.select("o_orderkey", z.alias("zval"))
        .orderBy("zval", "o_orderkey")
        .limit(200)
    )


@query(
    "dq_expectations",
    oracle="""
    WITH o AS (
      SELECT count(*) AS n_rows,
             CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS null_custkey,
             CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nonpositive_price,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                  THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
             count(*) - count(DISTINCT o_orderkey) AS dup_orderkey
      FROM orders
    ),
    ri AS (
      SELECT count(*) AS orphan_lineitems
      FROM lineitem l LEFT JOIN orders r ON l.l_orderkey = r.o_orderkey
      WHERE r.o_orderkey IS NULL
    )
    SELECT chk, violations FROM (
      SELECT 'orders.custkey_not_null' AS chk, null_custkey AS violations
        FROM o
      UNION ALL SELECT 'orders.totalprice_positive', nonpositive_price FROM o
      UNION ALL SELECT 'orders.status_domain', bad_status FROM o
      UNION ALL SELECT 'orders.orderkey_unique', dup_orderkey FROM o
      UNION ALL SELECT 'lineitem.orderkey_ref_integrity', orphan_lineitems
        FROM ri
    ) ORDER BY chk
    """,
    tags=("quality", "expectations", "scale"),
)
def dq_expectations(spark, sf_dir):
    """Declarative data-quality expectation suite (the Great-
    Expectations / dbt-test shape, reference's R15 quality gate
    generalized): ALL per-table checks (null, domain, range,
    uniqueness) ride ONE aggregate scan of orders — conditional sums
    fuse into a single map-side partial agg, so adding a check costs
    one column, not one pass. The referential-integrity check is a
    separate left-anti count of lineitem against orders keys (at
    100 TB that join is the dominant cost; it shuffles on the already-
    clustered orderkey and AQE can bloom-prune it). Output is the
    normalized (check, violations) long form that a quality gate
    consumes."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    wide = o.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey"
        ),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_orderkey"),
    )
    orphans = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lineitems"))
    )
    long = wide.selectExpr(
        """stack(4,
             'orders.custkey_not_null', null_custkey,
             'orders.totalprice_positive', nonpositive_price,
             'orders.status_domain', bad_status,
             'orders.orderkey_unique', dup_orderkey) AS (chk, violations)"""
    ).unionByName(
        orphans.select(
            F.lit("lineitem.orderkey_ref_integrity").alias("chk"),
            F.col("orphan_lineitems").alias("violations"),
        )
    )
    return long.orderBy("chk")


# Count-min sketch: universal-hash coefficients as LITERALS so the
# DuckDB oracle reproduces the identical sketch (integer arithmetic is
# exact on both engines — no engine-private hash involved).
_CMS_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_CMS_W = 64
_CMS_COEF = ((1000003, 12345), (999983, 54321), (1000033, 98765), (999979, 13579))


def _cms_hash_sql(d: int, key: str) -> str:
    a, b = _CMS_COEF[d]
    return f"((({a} * {key} + {b}) % {_CMS_P}) % {_CMS_W})"


@query(
    "sketch_countmin",
    oracle=f"""
    WITH counters AS (
      SELECT d,
             CASE d
               WHEN 0 THEN {_cms_hash_sql(0, 'l_partkey')}
               WHEN 1 THEN {_cms_hash_sql(1, 'l_partkey')}
               WHEN 2 THEN {_cms_hash_sql(2, 'l_partkey')}
               ELSE {_cms_hash_sql(3, 'l_partkey')}
             END AS bucket,
             count(*) AS cnt
      FROM lineitem, (SELECT unnest([0, 1, 2, 3]) AS d)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT l_partkey, count(*) AS exact_n
      FROM lineitem GROUP BY 1
      ORDER BY exact_n DESC, l_partkey LIMIT 10
    )
    SELECT e.l_partkey, e.exact_n, min(c.cnt) AS cms_estimate
    FROM exact e
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) ds
    JOIN counters c
      ON c.d = ds.d
     AND c.bucket = CASE ds.d
               WHEN 0 THEN {_cms_hash_sql(0, 'e.l_partkey')}
               WHEN 1 THEN {_cms_hash_sql(1, 'e.l_partkey')}
               WHEN 2 THEN {_cms_hash_sql(2, 'e.l_partkey')}
               ELSE {_cms_hash_sql(3, 'e.l_partkey')}
             END
    GROUP BY 1, 2
    ORDER BY exact_n DESC, l_partkey
    """,
    tags=("sketch", "approximate", "scale"),
)
def sketch_countmin(spark, sf_dir):
    """Count-min sketch heavy-hitter estimation — the mergeable-sketch
    family (alongside HLL/approx-quantile) with a FULLY deterministic
    construction: 4 universal-hash rows x 64 buckets, coefficients as
    shared literals, so the oracle rebuilds the bit-identical sketch.
    Build = one scan, explode x4, hash agg with map-side partials: the
    sketch state is 256 counters TOTAL independent of input size — the
    whole point at 100 TB (the counter table broadcasts; per-executor
    partials are the only traffic). Estimate = min over the 4 rows'
    counters for each probe key; CMS guarantees estimate >= exact,
    asserted row-wise in tests."""
    li = t(spark, sf_dir, "lineitem")

    def h(d: int, key):
        a, b = _CMS_COEF[d]
        return ((F.lit(a) * key + F.lit(b)) % _CMS_P) % _CMS_W

    hashed = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        h(d, F.col("l_partkey")).alias("bucket"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("e")
    ).select("e.d", "e.bucket")
    counters = hashed.groupBy("d", "bucket").agg(F.count("*").alias("cnt"))
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "l_partkey")
        .limit(10)
    )
    probes = exact.select(
        "l_partkey",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        h(d, F.col("l_partkey")).alias("bucket"),
                    )
                    for d in range(4)
                ]
            )
        ).alias("e"),
    ).select("l_partkey", "exact_n", "e.d", "e.bucket")
    return (
        probes.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("l_partkey", "exact_n")
        .agg(F.min("cnt").alias("cms_estimate"))
        .orderBy(F.desc("exact_n"), "l_partkey")
    )


@query(
    "sketch_hll_merge",
    oracle=None,  # datasketches binary sketch — the merge ALGEBRA is
    # pinned in-engine (hll_direct column must equal hll_estimate on
    # every row, asserted in pytest and visible in the output);
    # cross-engine only a tolerance vs exact applies (pytest)
    tags=("sketch", "approx", "aggregate"),
)
def sketch_hll_merge(spark, sf_dir):
    """Mergeable HLL sketches (Spark 3.5 Apache DataSketches builtins):
    build one sketch PER GROUP with hll_sketch_agg, then merge the
    per-group binary sketches with hll_union_agg for the global count —
    the 100 TB pattern where each partition/day materializes a fixed-size
    sketch and any rollup is a cheap sketch merge, never a re-scan
    (reference's count(*) gate generalized to distinct-count telemetry).

    The merge algebra is EXACT even though the estimate is not:
    union-of-per-group-sketches and one whole-table sketch are the
    same deterministic state, so ``hll_estimate`` (via merge) must
    equal ``hll_direct`` (one-pass whole-table sketch) on the __ALL__
    row — an equality, not a tolerance (VERDICT r2 #8). Output is
    BIGINT estimates only (no binary columns → driver-canon safe).
    """
    c = t(spark, sf_dir, "customer")
    per = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey", 14).alias("sk"),
        F.count_distinct("c_custkey").alias("exact_n"),
    )
    per_rows = per.select(
        "c_mktsegment",
        F.hll_sketch_estimate("sk").alias("hll_estimate"),
        # per-segment rows: merge of one sketch is that sketch
        F.hll_sketch_estimate("sk").alias("hll_direct"),
        "exact_n",
    )
    direct_all = c.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey", 14)).alias("hll_direct")
    )
    merged = (
        per.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("hll_estimate"),
            F.sum("exact_n").alias("exact_n"),  # segments partition customers
        )
        .crossJoin(direct_all)
        .select(
            F.lit("__ALL__").alias("c_mktsegment"),
            "hll_estimate",
            "hll_direct",
            "exact_n",
        )
    )
    return per_rows.unionByName(merged).orderBy("c_mktsegment")


@query(
    "theta_gap_closed_form",
    oracle="""
    SELECT a.p_size AS p_size, count(*) AS n_pairs,
           CAST(sum(CAST(abs(a.p_retailprice - b.p_retailprice)
                          AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price_gap
    FROM part a JOIN part b
      ON a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    GROUP BY a.p_size
    """,
    tags=("join", "theta", "scale", "rewrite"),
)
def theta_gap_closed_form(spark, sf_dir):
    """100 TB rewrite of `join_theta_pairs` (identical pair-join
    oracle): per-group sum of pairwise |price gaps| via the sorted
    closed form  sum_{i<j}|v_i - v_j| = sum_k v_(k) * (2k - n - 1)  —
    one window rank + one hash agg, O(n log n) per group instead of
    the O(n^2) self-join blow-up (n rows shuffled, not n^2 pairs).
    All gap arithmetic stays in DECIMAL(18,2), so the result is
    bit-identical to summing per-pair decimal differences."""
    p = t(spark, sf_dir, "part").select(
        "p_size",
        "p_partkey",
        F.col("p_retailprice").cast("decimal(18,2)").alias("v"),
    )
    w = Window.partitionBy("p_size").orderBy("v", "p_partkey")
    ranked = p.select(
        "p_size",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("p_size")).alias("n"),
    )
    return (
        ranked.groupBy("p_size")
        .agg(
            (F.max("n") * (F.max("n") - 1) / 2).cast("bigint").alias("n_pairs"),
            F.sum(F.col("v") * (2 * F.col("rn") - F.col("n") - 1)).alias("gap_sum"),
        )
        .filter(F.col("n_pairs") > 0)
        .select(
            "p_size",
            "n_pairs",
            (F.col("gap_sum").cast("double") / F.col("n_pairs")).alias(
                "avg_price_gap"
            ),
        )
    )


@query(
    "sketch_kmv_jaccard",
    oracle="""
    WITH words AS (
      SELECT DISTINCT source, word FROM (
        SELECT source, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE word <> ''
    ),
    hashed AS (SELECT source, md5(word) AS h FROM words),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= 256
    ),
    srcs AS (SELECT DISTINCT source FROM sk),
    p AS (SELECT a.source AS src_a, b.source AS src_b
          FROM srcs a JOIN srcs b ON a.source < b.source),
    u AS (
      SELECT p.src_a, p.src_b, s.h FROM p JOIN sk s ON s.source = p.src_a
      UNION ALL
      SELECT p.src_a, p.src_b, s.h FROM p JOIN sk s ON s.source = p.src_b
    ),
    g AS (SELECT src_a, src_b, h, count(*) AS sides FROM u GROUP BY 1, 2, 3),
    m AS (
      SELECT * FROM (
        SELECT g.*, row_number() OVER (PARTITION BY src_a, src_b
                                       ORDER BY h) AS rn
        FROM g
      ) WHERE rn <= 256
    )
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS m_rows,
           CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS matches,
           CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS est_jaccard
    FROM m GROUP BY 1, 2
    """,
    tags=("sketch", "kmv", "similarity", "scale"),
)
def sketch_kmv_jaccard(spark, sf_dir):
    """KMV (bottom-k / k-minimum-values) distinct sketches with a
    mergeable set-operation estimate: per-source vocabulary sketches
    (the 256 lexicographically smallest md5(word) values), pairwise
    Jaccard estimated as the two-sided fraction of the MERGED bottom-k
    (Beyer et al., SIGMOD'07). Complements the DataSketches HLL row
    (`sketch_hll_merge`): HLL's binary state is
    implementation-specific so only tolerances can be asserted, while
    a KMV sketch is just sorted hashes — both engines materialize the
    IDENTICAL sketch, so the sketch algebra itself is hash-verified.

    Scale shape: sketches are fixed 256 rows per source regardless of
    corpus size and merge by union + re-rank (how a 100 TB corpus
    maintains them incrementally per shard); the pairwise comparison
    is sketch-sized, never corpus-sized. When the true union is
    smaller than k the sketch degrades to the exact set and the
    estimate to exact Jaccard (denominator = merged size)."""
    k = 256
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    words = (
        d.select(
            "source", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    hashed = words.select("source", F.md5("word").alias("h"))
    wsk = Window.partitionBy("source").orderBy("h")
    # lazy localCheckpoint (r12 resume, guide §1.2): sk — the whole
    # scan → explode → distinct → md5 → per-source top-k pipeline —
    # feeds the source list and BOTH union legs; without the barrier
    # it re-expanded into all three consumers (12 parquet scans / 44
    # exchanges in one plan). The sketch is ≤ k rows per source BY
    # CONSTRUCTION, so the materialization is sketch-sized.
    sk = (
        hashed.withColumn("rn", F.row_number().over(wsk))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .transform(barrier)
    )
    srcs = sk.select("source").distinct()
    a = srcs.select(F.col("source").alias("src_a"))
    b = srcs.select(F.col("source").alias("src_b"))
    p = a.crossJoin(b).filter(F.col("src_a") < F.col("src_b"))
    ea = p.join(
        sk.select(F.col("source").alias("src_a"), "h"), "src_a"
    ).select("src_a", "src_b", "h")
    eb = p.join(
        sk.select(F.col("source").alias("src_b"), "h"), "src_b"
    ).select("src_a", "src_b", "h")
    g = (
        ea.unionByName(eb)
        .groupBy("src_a", "src_b", "h")
        .agg(F.count("*").alias("sides"))
    )
    wm = Window.partitionBy("src_a", "src_b").orderBy("h")
    m = g.withColumn("rn", F.row_number().over(wm)).filter(F.col("rn") <= k)
    return m.groupBy("src_a", "src_b").agg(
        F.count("*").alias("m_rows"),
        F.sum((F.col("sides") == 2).cast("long")).alias("matches"),
        (
            F.sum((F.col("sides") == 2).cast("long")).cast("double")
            / F.count("*")
        ).alias("est_jaccard"),
    )


@query(
    "table_checksum_drift",
    oracle="""
    WITH o AS (
      SELECT ('0x' || substr(md5(concat(
               CAST(o_orderkey AS VARCHAR), '|',
               CAST(o_custkey AS VARCHAR), '|', o_orderstatus, '|',
               CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
             )), 1, 15))::BIGINT AS h
      FROM orders
    ),
    c AS (
      SELECT ('0x' || substr(md5(concat(
               CAST(c_custkey AS VARCHAR), '|', c_name, '|',
               CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
             )), 1, 15))::BIGINT AS h
      FROM customer
    )
    SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(h) AS VARCHAR) AS checksum
    FROM o
    UNION ALL
    SELECT 'customer', CAST(count(*) AS BIGINT), CAST(sum(h) AS VARCHAR)
    FROM c
    """,
    tags=("scale", "checksum", "quality"),
)
def table_checksum_drift(spark, sf_dir):
    """Order-independent table content checksum — the cross-system
    drift/migration check: per row, a 60-bit md5-derived hash of the
    canonical row string (money as integer cents, so no float
    formatting enters the hash); per table, the EXACT integer sum of
    row hashes (decimal(38,0) — never wraps), emitted as a string.
    Commutative sum => partitioning/order independent; one scan, one
    1-row aggregate per table, trivially incremental (add hashes of
    inserted rows, subtract deleted)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")

    def row_hash(*cols):
        s = F.concat_ws("|", *cols)
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")

    ho = o.select(
        row_hash(
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        ).alias("h")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias(
            "checksum"
        ),
    ).select(F.lit("orders").alias("table_name"), "n_rows", "checksum")
    hc = c.select(
        row_hash(
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
        ).alias("h")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias(
            "checksum"
        ),
    ).select(F.lit("customer").alias("table_name"), "n_rows", "checksum")
    return ho.unionByName(hc)


@query(
    "skew_diagnostics",
    oracle="""
    WITH ok AS (
      SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
    ),
    lk AS (
      SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1
    )
    SELECT 'orders.o_custkey' AS join_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows,
           CAST(sum(c) AS BIGINT) AS total_rows,
           round(max(c) * count(*) / CAST(sum(c) AS DOUBLE), 4)
             AS skew_ratio
    FROM ok
    UNION ALL
    SELECT 'lineitem.l_orderkey',
           CAST(count(*) AS BIGINT),
           CAST(max(c) AS BIGINT),
           CAST(sum(c) AS BIGINT),
           round(max(c) * count(*) / CAST(sum(c) AS DOUBLE), 4)
    FROM lk
    """,
    tags=("scale", "skew", "diagnostics"),
)
def skew_diagnostics(spark, sf_dir):
    """Join-key skew diagnostics — the pre-flight a planner (or
    engineer) runs before a big shuffle join: per candidate key, the
    key count, hottest-key row count, and skew ratio max/avg. Ratio
    >> 1 routes the join to AQE skew-split or operators/skew.py
    salting. One hash agg per key column; the second-level stats
    aggregate over #keys rows, never raw rows."""

    def stats(df, key, label):
        per = df.groupBy(F.col(key).alias("k")).agg(F.count("*").alias("c"))
        return per.agg(
            F.lit(label).alias("join_key"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_rows"),
            F.sum("c").alias("total_rows"),
            F.round(
                F.max("c") * F.count("*") / F.sum("c").cast("double"), 4
            ).alias("skew_ratio"),
        ).select("join_key", "n_keys", "max_rows", "total_rows", "skew_ratio")

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return stats(o, "o_custkey", "orders.o_custkey").unionByName(
        stats(li, "l_orderkey", "lineitem.l_orderkey")
    )


MG_CAPACITY = 256  # >> corpus vocabulary (~31) => exact regime, hash-verifiable


def _mg_fold(batches, cap: int):
    """Misra-Gries partition fold: merge each Arrow batch's exact
    counts into a capacity-``cap`` summary (subtract the (cap+1)-th
    largest count and drop non-positives when the map overflows).
    Module-scope so the decrement path is unit-testable without Spark
    (``tests/test_operators.py``). Yields one (word, cnt) frame."""
    import pandas as pd

    counts: dict[str, int] = {}
    for pdf in batches:
        for w, c in pdf["word"].value_counts().items():
            counts[w] = counts.get(w, 0) + int(c)
        if len(counts) > cap:
            thresh = sorted(counts.values(), reverse=True)[cap]
            counts = {w: c - thresh for w, c in counts.items() if c > thresh}
    if counts:
        yield pd.DataFrame({"word": list(counts), "cnt": list(counts.values())})


@query(
    "sketch_heavy_hitters",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    )
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM words WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word LIMIT 20
    """,
    tags=("sketch", "scale", "text"),
)
def sketch_heavy_hitters(spark, sf_dir):
    """Heavy hitters via a distributed MISRA-GRIES summary: each
    partition folds its word stream into a capacity-k counter map
    (batch-merge formulation: add a batch's exact counts, then if the
    map exceeds k keys subtract the (k+1)-th largest count from every
    key and drop the non-positive ones — the canonical MG summary
    merge), partial summaries merge by key-sum, and the top-20 is
    read off the merged summary.

    Correctness regime: capacity (256) exceeds the corpus vocabulary
    (~31), so no decrement ever fires and MG counts are EXACT —
    hash-verified against the plain GROUP BY oracle. With vocabulary
    >> capacity the same plan degrades gracefully to the classic
    guarantee (count underestimates by at most n/k, every item with
    freq > n/k survives).

    Scale: the whole point — at 100 TB with a hot-key vocabulary in
    the billions, a plain groupBy shuffles one row per distinct key;
    MG shuffles AT MOST k rows per partition regardless of input
    size, and the merged state is k·partitions bounded. The Arrow
    batch loop is vectorized (pandas value_counts per batch, dict
    merge per partition).
    """
    d = t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    words = (
        d.repartition(par)
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )

    def mg_partial(batches):
        yield from _mg_fold(batches, MG_CAPACITY)

    partials = words.mapInPandas(mg_partial, "word string, cnt long")
    return (
        partials.groupBy("word")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


_BOOT_B = 100  # bootstrap replicas
# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!):
# P(X<=k) for k = 0..5; u above the last threshold -> w = 6
_POIS_CDF = (0.36788, 0.73576, 0.9197, 0.98101, 0.99634, 0.99941)


def _poisson_case(u: str) -> str:
    """SQL CASE mapping a uniform [0,1) double to a Poisson(1) draw by
    inverse CDF — identical text on both engines."""
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@query(
    "analytics_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), rep AS (
      SELECT cents, o_orderkey, unnest(range(0, {_BOOT_B})) AS r
      FROM base
    ), uni AS (
      SELECT r, cents,
             (((o_orderkey + r * 1000003) * {_MIX})
              % 4294967296) / 4294967296.0 AS u
      FROM rep
    ), wtd AS (
      SELECT r, cents, {_poisson_case("u")} AS w
      FROM uni
    ), means AS (
      SELECT r,
             CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100.0 AS m
      FROM wtd GROUP BY r
    ), ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, r) AS rk FROM means
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_replicas,
           (SELECT CAST(sum(cents) AS DOUBLE) / count(*) / 100.0
            FROM base) AS mean_full,
           min(CASE WHEN rk = 5 THEN m END) AS ci_lo,
           min(CASE WHEN rk = 96 THEN m END) AS ci_hi
    FROM ranked
    """,
    tags=("analytics", "stats", "scale", "sampling"),
)
def analytics_bootstrap_ci(spark, sf_dir):
    """POISSON BOOTSTRAP confidence interval for mean(o_totalprice) —
    the resampling scheme that works on data too big to materialize
    B resamples: each row contributes w ~ Poisson(1) copies to each
    replica (independent per (row, replica), expectation-preserving),
    so B replica means come from ONE pass over B row-weightings
    instead of B shuffled copies of the data. The ~90% CI is the
    5th/96th order statistic of the 100 replica means.

    Determinism: the Poisson draw is an inverse-CDF CASE over a
    multiplicative-hash uniform — exact integer hash arithmetic, one
    double division, identical thresholds both engines; prices are
    converted ONCE to integer cents (decimal(18,2)·100 → bigint,
    exact), so every replica sum is pure 64-bit integer arithmetic,
    every replica mean a bit-identical double, and the order
    statistics agree.

    Scale: the ×B fan-out never materializes as rows (r13, guide
    §4.2; previously a broadcast-nested-loop cross join streamed
    B·N codegen'd rows into the hash agg — 15M rows at sf0.1,
    measured 1.4-3.8 s): one mapInPandas pass computes, per Arrow
    batch, the whole (rows × B) weight matrix in numpy — the
    (key + r·1000003)·MIX hash with int64 wraparound and truncated
    remainder matching Java long semantics exactly, the Poisson
    inverse-CDF as a searchsorted(side='right') (same boundary
    behavior as the ordered CASE), and per-replica partial Σw·cents /
    Σw as exact int64 matmuls — so only B rows per TASK reach the
    shuffle (same partial-aggregation bound as before, without the
    B·N row stream; measured 0.66-0.91 s, output bit-identical since
    every per-replica sum is the same exact integer). At 100 TB the
    per-(row,replica) draw count is the honest, irreducible cost;
    the per-task partials are the standard mitigation.
    """
    import numpy as np

    b = _BOOT_B
    mix = _MIX
    cdf = np.asarray(_POIS_CDF)
    par = spark.sparkContext.defaultParallelism
    # the small single-file scan would otherwise run the xB fan-out in
    # ONE task; at real scale the scan itself is already parallel
    o = t(spark, sf_dir, "orders").repartition(par)
    base = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )

    def replica_partials(batches):
        import pandas as pd

        rs = np.arange(b, dtype=np.int64)
        swc = np.zeros(b, dtype=np.int64)
        sw = np.zeros(b, dtype=np.int64)
        for pdf in batches:
            key = pdf["o_orderkey"].to_numpy(np.int64)
            cents = pdf["cents"].to_numpy(np.int64)
            with np.errstate(over="ignore"):
                a = (key[:, None] + rs[None, :] * 1000003) * mix
            rem = a % 4294967296
            # numpy % is floored, Java's is truncated: fix negatives
            rem = np.where((a < 0) & (rem != 0), rem - 4294967296, rem)
            w = np.searchsorted(cdf, rem / 4294967296.0, side="right")
            w = w.astype(np.int64)
            swc += (w * cents[:, None]).sum(axis=0)
            sw += w.sum(axis=0)
        yield pd.DataFrame({"r": rs, "swc": swc, "sw": sw})

    means = (
        base.mapInPandas(replica_partials, "r long, swc long, sw long")
        .groupBy("r")
        .agg(
            (
                F.sum("swc").cast("double") / F.sum("sw") / F.lit(100.0)
            ).alias("m")
        )
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "r")).alias("rk")
    )
    full = base.agg(
        (
            F.sum("cents").cast("double") / F.count("*") / F.lit(100.0)
        ).alias("mean_full")
    )
    return ranked.agg(
        F.lit(b).cast("long").alias("n_replicas"),
        F.min(F.when(F.col("rk") == 5, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rk") == 96, F.col("m"))).alias("ci_hi"),
    ).crossJoin(full).select("n_replicas", "mean_full", "ci_lo", "ci_hi")


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer
            WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier
            WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation
            WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
    ORDER BY fk_edge
    """,
    tags=("dq", "scale", "join"),
)
def dq_referential_integrity(spark, sf_dir):
    """Referential-integrity audit across the whole star-schema
    foreign-key graph: orphan counts for every FK edge in one result —
    the nightly DQ sweep a warehouse runs before trusting joins
    (an orphan silently drops rows from every inner join downstream).

    Plan shape per edge: LEFT ANTI join child→parent (Spark's
    orphan-detection primitive — no payload columns shuffle, just the
    key), counted; parent key-sets are dimension-sized and broadcast
    (customer/nation/region), or a key-only shuffle for the
    orders-sized edge. All five audits are independent branches
    unioned — at 100 TB each edge is one key-projected anti join, the
    cheapest join Spark has. No NULL FKs exist in these tables, so
    NOT IN (untrusted with NULLs) and ANTI agree; ``subq_not_in``
    covers the NULL-semantics variant explicitly.
    """
    def edge(child, ckey, parent, pkey, label):
        c = t(spark, sf_dir, child).select(F.col(ckey))
        p = t(spark, sf_dir, parent).select(F.col(pkey).alias(ckey))
        orphans = c.join(p, ckey, "left_anti")
        return (
            c.agg(F.count("*").cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(F.count("*").cast("long").alias("n_orphans"))
            )
            .select(
                F.lit(label).alias("fk_edge"), "n_child", "n_orphans"
            )
        )

    edges = [
        edge("lineitem", "l_orderkey", "orders", "o_orderkey",
             "lineitem.l_orderkey->orders"),
        edge("orders", "o_custkey", "customer", "c_custkey",
             "orders.o_custkey->customer"),
        edge("customer", "c_nationkey", "nation", "n_nationkey",
             "customer.c_nationkey->nation"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey",
             "supplier.s_nationkey->nation"),
        edge("nation", "n_regionkey", "region", "r_regionkey",
             "nation.n_regionkey->region"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("fk_edge")


@query(
    "dq_reconcile_order_totals",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 + CAST(l_tax AS DECIMAL(4,2)))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS computed
      FROM lineitem GROUP BY 1
    ), gaps AS (
      SELECT o_orderkey,
             abs(CAST(o_totalprice AS DECIMAL(18,2)) - computed) AS gap
      FROM orders JOIN per_order ON o_orderkey = l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders_joined,
           CAST(count(*) FILTER (WHERE gap <= 0.01) AS BIGINT)
             AS n_reconciled,
           CAST(count(*) FILTER (WHERE gap > 0.01) AS BIGINT)
             AS n_mismatched,
           CAST(max(gap) AS DOUBLE) AS max_abs_gap
    FROM gaps
    """,
    tags=("dq", "scale", "join", "aggregate"),
)
def dq_reconcile_order_totals(spark, sf_dir):
    """Header-vs-detail financial reconciliation: recompute each
    order's total from its line items (extendedprice x (1+tax) x
    (1-discount), the TPC-H pricing identity) and count how many
    headers agree within a cent — the controls query every finance
    warehouse runs to catch partial loads, double-applied discounts
    and currency drift. On this synthetic star the header totals are
    NOT derived from the lines, so the query reports the mismatch
    honestly rather than asserting zero.

    FP determinism: the whole reconciliation is exact decimal —
    2dp x (1+2dp) x (1-2dp) products have <= 6 decimals, their sums
    and the header subtraction stay decimal, and only the final max
    becomes a double. No rounding anywhere.

    Scale: one map-side-combining agg on the join key, then an
    orderkey equi-join (both sides key-partitioned; at 100 TB this
    co-partitions if the tables are bucketed by orderkey, the layout
    ``join_bucketed_smb`` demonstrates) and a constant-size summary.
    """
    li = t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("computed")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    gaps = o.join(
        per_order, o.o_orderkey == per_order.l_orderkey
    ).select(
        F.abs(
            F.col("o_totalprice").cast("decimal(18,2)") - F.col("computed")
        ).alias("gap")
    )
    cent = F.col("gap") <= 0.01
    return gaps.agg(
        F.count("*").cast("long").alias("n_orders_joined"),
        F.count(F.when(cent, 1)).cast("long").alias("n_reconciled"),
        F.count(F.when(~cent, 1)).cast("long").alias("n_mismatched"),
        F.max("gap").cast("double").alias("max_abs_gap"),
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    tags=("join", "skew", "scale"),
)
def join_skew_salted(spark, sf_dir):
    """The SALTED equi-join (operators/skew.py) run as a declared,
    oracle-gated query: lineitem x orders through an 8-way salt —
    fact rows get a deterministic xxhash64-derived salt, the build
    side replicates 8x, the join key becomes (key, salt) — proving
    end-to-end that salting changes ONLY the physical row spread,
    never the join semantics (bit-identical aggregate vs the plain
    join oracle).

    This is the explicit mitigation for the one skew case AQE's
    runtime split can't fix (a single key hotter than one task's
    build side); AQE skew-split coverage is asserted separately in
    ``tests/test_scale_strategies.py``. Cost model: build side
    shuffles 8x — salt selectively (detect hot keys first,
    ``skew_diagnostics``) at 100 TB.
    """
    from gcp_etl_spark.operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        salt=8,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_qty"),
    )


# ------------------------------------------- weighted reservoir sample
_ES_K = 50


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           round(
             ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                     AS UBIGINT) / 4294967296.0) / n_chars, 9
           ) AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id
    LIMIT {_ES_K}
    """,
    tags=("llm", "sampling", "prep"),
)
def sample_weighted_reservoir(spark, sf_dir):
    """WEIGHTED reservoir sample without replacement (Efraimidis &
    Spirakis 2006, public): each row gets key u^(1/w) for a uniform u
    and weight w (here n_chars — longer docs proportionally likelier);
    the k largest keys ARE a weighted sample without replacement. We
    rank by the monotone-equivalent ln(u)/w (descending), which avoids
    pow() and keeps both engines on a single libm call.

    Determinism: u is the md5-hash uniform (first 8 hex digits /
    2^32) — the engine's standard seeded-draw construction (same as
    DSIR's bucket hash and the bootstrap's Poisson draw), identical
    integer arithmetic in both engines; ln of the same double divided
    by the same integer is bit-stable across libm implementations at
    the 9 dp contract.

    Scale: the canonical ONE-PASS distributed sample — orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k, driver
    merges k·partitions rows); no shuffle ever carries the corpus, no
    per-row state beyond the k-row heap. This is how you draw a
    quality-weighted training subset from 100 TB without a sort."""
    d = t(spark, sf_dir, "documents")
    u = md5_draw(F.col("doc_id").cast("string"), uniform=True)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(_ES_K)
    )


# ------------------------------------------------ join-key skew report
_SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


@query(
    "diag_skew_report",
    oracle=f"""
    WITH u AS (
      SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
    ),
    c AS (SELECT key_col, k, count(*) AS cnt FROM u GROUP BY 1, 2)
    SELECT key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS total_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           round(max(cnt) / avg(cnt), 6) AS skew_factor,
           quantile_cont(cnt, 0.5) AS p50_cnt,
           quantile_cont(cnt, 0.99) AS p99_cnt
    FROM c GROUP BY key_col ORDER BY key_col
    """,
    tags=("diagnostics", "skew", "scale", "quantiles"),
)
def diag_skew_report(spark, sf_dir):
    """JOIN-KEY SKEW REPORT — the diagnostic you run BEFORE deciding to
    salt: per candidate join key of the fact table, the key-count
    distribution (distinct keys, hottest key, max/mean skew factor,
    exact p50/p99 per-key counts). A skew_factor near 1 says hash
    partitioning balances; p99 << max says one pathological key —
    salt exactly that one (the scale_ops salted-join pattern); a heavy
    p99 tail says bump shuffle partitions / rely on AQE skew-join.

    Scale shape: ONE scan of the fact table fans out via a struct-
    array explode (x|keys|, map-side), collapses to (key_col, key)
    counts with partial aggregation, and the distribution stats run on
    the count relation: max/avg as a grouped agg, the percentiles
    through the engine-standard two-pass range-partitioned
    exact_quantiles (never a single-reducer value map). Nothing
    driver-side at any corpus size."""
    from gcp_etl_spark.operators.quantiles import exact_quantiles

    li = t(spark, sf_dir, "lineitem")
    u = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("key_col"),
                        F.col(c).cast("long").alias("k"),
                    )
                    for c in _SKEW_KEYS
                ]
            )
        ).alias("e")
    ).select("e.key_col", "e.k")
    # lazy localCheckpoint (r12, guide §1.2): the (key_col, key) count
    # relation feeds BOTH the distribution stats and the quantile
    # branch — without the barrier each branch re-ran the full
    # scan → explode → count fan-out (the fact pipeline executed
    # twice); with it the fan-out runs once and both branches read the
    # materialized, distinct-keys-sized counts.
    c = (
        u.groupBy("key_col", "k")
        .agg(F.count("*").alias("cnt"))
        .transform(barrier)
    )
    aggs = c.groupBy("key_col").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 6).alias("skew_factor"),
    )
    q = exact_quantiles(
        c,
        "cnt",
        {"p50_cnt": 0.5, "p99_cnt": 0.99},
        group_cols=["key_col"],
        # pinned rank path: the quantile input is the per-KEY count
        # relation — distinct-key-sized, i.e. unbounded at scale, so
        # the adaptive gate's aggregate path is never right here; the
        # rank path's internal checkpoint also keeps the fact table at
        # ONE visible scan (plan contract pinned in
        # tests/test_scale_strategies.py)
        strategy="rank",
    )
    return aggs.join(q, "key_col").orderBy("key_col")


# -------------------------------------------- KMV distinct-overlap
_KMV_K = 64
_KMV_SRC_A = "src0"
_KMV_SRC_B = "src1"


def _kmv_grams_sql() -> str:
    return f"""
    w AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS ws
      FROM documents WHERE source IN ('{_KMV_SRC_A}', '{_KMV_SRC_B}')
    ),
    g AS (
      SELECT DISTINCT source, ws[i+1] || ' ' || ws[i+2] AS g
      FROM w, unnest(range(len(ws) - 1)) AS t(i)
    ),
    h AS (
      SELECT source, g,
             CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT)
               / 4294967296.0 AS h
      FROM g
    ),
    akmv AS (SELECT h FROM h WHERE source = '{_KMV_SRC_A}'
             ORDER BY h, g LIMIT {_KMV_K}),
    bkmv AS (SELECT h FROM h WHERE source = '{_KMV_SRC_B}'
             ORDER BY h, g LIMIT {_KMV_K}),
    ukmv AS (
      SELECT h FROM (SELECT h FROM akmv UNION SELECT h FROM bkmv)
      ORDER BY h LIMIT {_KMV_K}
    )
    """


@query(
    "sketch_kmv_overlap",
    oracle=f"""
    WITH {_kmv_grams_sql()},
    theta AS (SELECT max(h) AS th, count(*) AS ku FROM ukmv),
    rho AS (
      SELECT count(*) AS both FROM ukmv u
      WHERE EXISTS (SELECT 1 FROM akmv a WHERE a.h = u.h)
        AND EXISTS (SELECT 1 FROM bkmv b WHERE b.h = u.h)
    ),
    exact AS (
      SELECT count(DISTINCT g) AS xu,
             count(DISTINCT CASE WHEN na > 0 AND nb > 0 THEN g END) AS xi
      FROM (
        SELECT g,
               count(CASE WHEN source = '{_KMV_SRC_A}' THEN 1 END) AS na,
               count(CASE WHEN source = '{_KMV_SRC_B}' THEN 1 END) AS nb
        FROM h GROUP BY g
      )
    )
    SELECT {_KMV_K} AS k,
           round((theta.ku - 1) / theta.th, 6) AS est_union,
           CAST(exact.xu AS BIGINT) AS exact_union,
           round(rho.both * 1.0 / theta.ku
                 * ((theta.ku - 1) / theta.th), 6) AS est_intersection,
           CAST(exact.xi AS BIGINT) AS exact_intersection
    FROM theta, rho, exact
    """,
    tags=("sketch", "dedup", "distinct", "scale"),
)
def sketch_kmv_overlap(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) DISTINCT-OVERLAP sketch
    (Bar-Yossef et al. 2002; the Theta-sketch set algebra, public):
    estimate the distinct-bigram union and intersection of two corpus
    sources from k=64 hash values per side. est_union = (k-1)/theta
    with theta the k-th smallest hash of the merged sketch; the
    intersection rides the union sketch — a merged value is in A iff
    it is in A's sketch (valid because theta <= each side's own
    threshold), so est_inter = (matching fraction) x est_union. The
    exact truths are computed alongside for the gate; a production
    run ships ONLY the sketches.

    Determinism: the hash is the engine-standard md5 uniform; both
    engines pick the same k values (h then gram tiebreak) and the
    estimates divide identical doubles.

    Scale: THE point of the sketch — each side reduces to k doubles
    via per-partition top-k (TakeOrdered; corpus never shuffles), the
    merge is k+k values, and cross-SOURCE overlap across a 100 TB
    corpus becomes an O(k) postprocess. The exactness columns are the
    test-scale luxury the sketch exists to avoid."""
    d = t(spark, sf_dir, "documents").filter(
        F.col("source").isin(_KMV_SRC_A, _KMV_SRC_B)
    )
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    grams = (
        d.select("source", toks.alias("ws"))
        .select(
            "source",
            F.explode(
                F.when(
                    F.size("ws") >= 2,
                    F.expr(
                        "transform(sequence(0, size(ws) - 2),"
                        " i -> concat(ws[i], ' ', ws[i+1]))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
        .distinct()
    )
    h = grams.select(
        "source",
        "g",
        md5_draw("g", uniform=True).alias("h"),
    )
    akmv = (
        h.filter(F.col("source") == _KMV_SRC_A)
        .orderBy("h", "g")
        .limit(_KMV_K)
        .select("h")
    )
    bkmv = (
        h.filter(F.col("source") == _KMV_SRC_B)
        .orderBy("h", "g")
        .limit(_KMV_K)
        .select("h")
    )
    ukmv = (
        akmv.unionByName(bkmv).distinct().orderBy("h").limit(_KMV_K)
    )
    theta = ukmv.agg(
        F.max("h").alias("th"), F.count("*").alias("ku")
    )
    both = (
        ukmv.join(akmv, "h", "left_semi")
        .join(bkmv, "h", "left_semi")
        .agg(F.count("*").alias("both"))
    )
    exact = (
        h.groupBy("g")
        .agg(
            F.count(F.when(F.col("source") == _KMV_SRC_A, 1)).alias("na"),
            F.count(F.when(F.col("source") == _KMV_SRC_B, 1)).alias("nb"),
        )
        .agg(
            F.count("*").alias("xu"),
            F.count(
                F.when((F.col("na") > 0) & (F.col("nb") > 0), 1)
            ).alias("xi"),
        )
    )
    return (
        theta.crossJoin(both)
        .crossJoin(exact)
        .select(
            F.lit(_KMV_K).cast("int").alias("k"),
            F.round((F.col("ku") - 1) / F.col("th"), 6).alias("est_union"),
            F.col("xu").cast("long").alias("exact_union"),
            F.round(
                F.col("both") / F.col("ku") * ((F.col("ku") - 1) / F.col("th")),
                6,
            ).alias("est_intersection"),
            F.col("xi").cast("long").alias("exact_intersection"),
        )
    )


# -------------------------------------------- streaming KMV distinct
_KMVD_K = 64


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) / 4294967296.0 AS h
      FROM events
    ),
    bk AS (SELECT h FROM h ORDER BY h LIMIT {_KMVD_K}),
    s AS (SELECT count(*) AS k_used, max(h) AS kth FROM bk)
    SELECT k_used,
           round(kth, 9) AS kth_hash,
           round(CASE WHEN k_used < {_KMVD_K}
                      THEN CAST(k_used AS DOUBLE)
                      ELSE ({_KMVD_K} - 1) / kth END, 4) AS est_distinct
    FROM s
    """,
    tags=("sketch", "distinct-count", "streaming-dual"),
)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) DISTINCT-COUNT SKETCH of event users — the
    single-set companion to ``sketch_kmv_overlap``, registered as the
    batch dual of the STREAMING sketch (streaming/kmv_stream.py): KMV
    is exactly mergeable (global bottom-k == bottom-k of per-epoch
    bottom-k's), so the streamed per-micro-batch sketches merge to
    THIS relation bit-for-bit however the stream is batched — pinned
    by tests/test_r7.py::test_stream_kmv_equals_batch + the replay-
    idempotence twin.

    Determinism: the hash is the engine-standard md5 uniform; the
    estimator (k-1)/h_k divides identical doubles.

    Scale: the corpus reduces to k=64 doubles via per-partition
    TakeOrdered — distinct users never shuffle; per-epoch streaming
    state is ~512 B."""
    from gcp_etl_spark.streaming.kmv_stream import kmv_bottom_k, kmv_estimate

    e = t(spark, sf_dir, "events")
    return kmv_estimate(kmv_bottom_k(e, "user_id", _KMVD_K), _KMVD_K)


# ------------------------------------------- systematic sampling
_SYS_K = 17  # take every 17th row of the keyed total order


@query(
    "sample_systematic",
    oracle=f"""
    WITH r AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             row_number() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ), pick AS (
      SELECT * FROM r WHERE rn % {_SYS_K} = 1
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM pick GROUP BY 1
    """,
    tags=("sampling", "scale", "orders"),
)
def sample_systematic(spark, sf_dir):
    """SYSTEMATIC SAMPLING — every {K}-th row of the keyed total order
    (the survey-sampling design that guarantees even coverage of an
    ordered frame, complementing the suite's hash/stratified/weighted/
    reservoir samplers). Global positions come from the two-pass
    ``global_row_number`` (range exchange + broadcast prefix offsets),
    NEVER a single-partition window, so the selection is deterministic
    and engine-exact at any scale; the sample is verified by per-class
    keyed checksums.

    Scale: one range exchange; selection is a map-side modulo
    filter."""
    from gcp_etl_spark.operators.quantiles import global_row_number

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    r = global_row_number(o, ["o_orderkey"], rn_col="rn")
    pick = r.filter(F.col("rn") % _SYS_K == 1)
    return pick.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents_sum"),
    )


# --------------- rendezvous (HRW) resharding movement (r12)
_HRW_FROM = 8
_HRW_TO = 9


def _hrw_combined(key, s: int):
    """Deterministic 32-bit md5 score for (key, shard), packed with
    the shard id in the low 4 bits so argmax == plain max of one long
    (ties — p ~ 2^-32 per pair — break toward the higher shard id,
    identically in both engines)."""
    return md5_draw(F.concat(key.cast("string"), F.lit(f":{s}"))) * 16 + s


@query(
    "scale_rendezvous_resharding",
    oracle=f"""
    WITH scored AS (
      SELECT d.doc_id,
             greatest({", ".join(
                 "(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':"
                 + str(s) + "'), 1, 8))::BIGINT * 16 + " + str(s) + ")"
                 for s in range(_HRW_FROM)
             )}) % 16 AS shard_from,
             greatest({", ".join(
                 "(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':"
                 + str(s) + "'), 1, 8))::BIGINT * 16 + " + str(s) + ")"
                 for s in range(_HRW_TO)
             )}) % 16 AS shard_to
      FROM documents d
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (shard_from <> shard_to) AS BIGINT)
             AS hrw_moved,
           round(CAST(count(*) FILTER (shard_from <> shard_to)
                 AS DOUBLE) / count(*), 6) AS hrw_moved_frac,
           CAST(count(*) FILTER (doc_id % {_HRW_FROM}
                 <> doc_id % {_HRW_TO}) AS BIGINT) AS mod_moved,
           round(CAST(count(*) FILTER (doc_id % {_HRW_FROM}
                 <> doc_id % {_HRW_TO}) AS DOUBLE) / count(*), 6)
             AS mod_moved_frac
    FROM scored
    """,
    tags=("scale", "sharding", "hashing", "documents"),
)
def scale_rendezvous_resharding(spark, sf_dir):
    """RENDEZVOUS (highest-random-weight) SHARD ASSIGNMENT and the
    data-movement cost of growing the shard count 8 -> 9, next to the
    naive mod-N baseline. HRW (Thaler-Ravishankar 1996, public) moves
    only the keys whose NEW shard wins the per-key score tournament —
    expected 1/9 of the corpus — while mod-N remaps ~8/9 of all keys.
    At 100 TB this is THE resharding decision: the output prices it
    (hrw_moved_frac ~0.11 vs mod_moved_frac ~0.89).

    Exactness: the per-(key, shard) score is the engine-standard md5
    32-bit integer, packed with the shard id in the low 4 bits so the
    argmax is a plain integer ``greatest`` — no floats anywhere.

    Scale: one narrow projection per document (9 md5 calls JVM-side in
    the scan task), one count aggregate; nothing shuffles but the
    final partial counts."""
    d = t(spark, sf_dir, "documents").select("doc_id")
    key = F.col("doc_id")
    scored = d.select(
        "doc_id",
        (
            F.greatest(*[_hrw_combined(key, s) for s in range(_HRW_FROM)])
            % 16
        ).alias("shard_from"),
        (
            F.greatest(*[_hrw_combined(key, s) for s in range(_HRW_TO)])
            % 16
        ).alias("shard_to"),
    )
    moved = F.col("shard_from") != F.col("shard_to")
    mod_moved = (F.col("doc_id") % _HRW_FROM) != (
        F.col("doc_id") % _HRW_TO
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_if(moved).cast("long").alias("hrw_moved"),
        F.round(
            F.count_if(moved).cast("double") / F.count("*"), 6
        ).alias("hrw_moved_frac"),
        F.count_if(mod_moved).cast("long").alias("mod_moved"),
        F.round(
            F.count_if(mod_moved).cast("double") / F.count("*"), 6
        ).alias("mod_moved_frac"),
    )
