"""Third scalar/aggregate coverage tranche: trig & extended math,
linear-regression / covariance aggregates, next_day / months_between,
ascii-level string ops, and base-conversion (SURVEY.md §2B "Scalar
functions" / "Aggregations").

Cross-engine notes (established `_exact.py` policy):
- libm paths (sin/cos/atan2/exp/log2/...) round at 4dp on both sides;
- regression/covariance are built from exact DECIMAL moment sums (the
  agg_corr construction) so partition-order float accumulation cannot
  flip the hash; the final O(1) ratios round at 6dp;
- months_between inputs are truncated to month starts, where Spark's
  fractional (day1-day2)/31 term is exactly 0 and the result equals
  DuckDB's calendar-month difference;
- DuckDB has no next_day → oracle derives it from dayofweek arithmetic
  (0=Sunday there); no overlay → substr splice; conv → upper(to_base).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t

R = lambda c, n=4: F.round(c, n)  # noqa: E731


@query(
    "scalar_trig_math",
    oracle="""
    SELECT p_partkey,
           round(sin(p_retailprice / 1000), 4)                  AS sin_p,
           round(cos(p_retailprice / 1000), 4)                  AS cos_p,
           round(atan2(p_retailprice, CAST(p_size AS DOUBLE)), 4) AS atan2_ps,
           round(sqrt(p_retailprice * p_retailprice
                      + p_size * p_size), 4)                    AS hypot_ps,
           round(cbrt(p_retailprice), 4)                        AS cbrt_p,
           round(log2(p_retailprice + 1), 4)                    AS log2_p,
           round(log10(p_retailprice + 1), 4)                   AS log10_p,
           round(exp(CAST(p_size AS DOUBLE) / 100), 4)          AS exp_s,
           round(degrees(atan2(p_retailprice, 1000.0)), 4)      AS deg_a,
           round(radians(CAST(p_size AS DOUBLE)), 4)            AS rad_s,
           CAST(sign(p_retailprice - 1500) AS DOUBLE)           AS sgn_p
    FROM part
    """,
    tags=("scalar", "math", "trig"),
)
def scalar_trig_math(spark, sf_dir):
    """Trigonometric + extended math built-ins (all JVM codegen'd libm
    calls — rounded at 4dp per the libm policy; Spark hypot is the
    fused C hypot, DuckDB side uses sqrt(x²+y²), identical at 4dp).
    Spark signum→double matches the oracle CAST."""
    p = t(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    size_d = F.col("p_size").cast("double")
    return p.select(
        "p_partkey",
        R(F.sin(price / 1000)).alias("sin_p"),
        R(F.cos(price / 1000)).alias("cos_p"),
        R(F.atan2(price, size_d)).alias("atan2_ps"),
        R(F.hypot(price, size_d)).alias("hypot_ps"),
        R(F.cbrt(price)).alias("cbrt_p"),
        R(F.log2(price + 1)).alias("log2_p"),
        R(F.log10(price + 1)).alias("log10_p"),
        R(F.exp(size_d / 100)).alias("exp_s"),
        R(F.degrees(F.atan2(price, F.lit(1000.0)))).alias("deg_a"),
        R(F.radians(size_d)).alias("rad_s"),
        F.signum(price - 1500).alias("sgn_p"),
    )


@query(
    "agg_regr_covar",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS intercept,
           round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2,
           round((sxy - sx * sy / n) / n, 4)       AS covar_pop,
           round((sxy - sx * sy / n) / (n - 1), 4) AS covar_samp,
           CAST(n AS BIGINT) AS n_rows
    FROM m
    """,
    tags=("aggregate", "stats", "regression"),
)
def agg_regr_covar(spark, sf_dir):
    """Least-squares regression (slope/intercept/R²) + population and
    sample covariance, built from exact DECIMAL moment sums (the
    agg_corr construction — F.regr_* / F.covar_* accumulate doubles in
    partition order, which is not cross-engine stable). The O(1) ratio
    outputs round at 6dp; the covariances (magnitude ~1e3) at 4dp,
    inside the 1-ulp int128→double noise floor (cf. agg_stats)."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(18,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (m[c] for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
        F.round((sxy - sx * sy / n) / n, 4).alias("covar_pop"),
        F.round((sxy - sx * sy / n) / (n - 1), 4).alias("covar_samp"),
        n.cast("long").alias("n_rows"),
    )


@query(
    "scalar_next_day_months",
    oracle="""
    SELECT o_orderkey,
           d + CAST(((1 - dayofweek(d) + 6) % 7) + 1 AS INT) AS next_monday,
           d + CAST(((5 - dayofweek(d) + 6) % 7) + 1 AS INT) AS next_friday,
           CAST(date_diff('month',
                          date_trunc('month', CAST(d AS TIMESTAMP)),
                          date_trunc('month',
                                     CAST(d AS TIMESTAMP)
                                     + to_months(CAST(o_orderkey % 7 + 3 AS INT))))
                AS DOUBLE) AS months_fwd
    FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders)
    """,
    tags=("scalar", "datetime"),
)
def scalar_next_day_months(spark, sf_dir):
    """next_day (strictly-after next weekday — DuckDB lacks it, oracle
    derives from 0=Sunday dayofweek arithmetic) and months_between on
    month-start-truncated dates, where Spark's (day1-day2)/31 fraction
    vanishes and the double result is an exact integer equal to the
    calendar-month diff."""
    o = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    start = F.trunc(d, "month")
    return o.select(
        "o_orderkey",
        F.next_day(d, "Mon").alias("next_monday"),
        F.next_day(d, "Fri").alias("next_friday"),
        F.months_between(
            F.trunc(F.add_months(d, F.col("o_orderkey") % 7 + 3), "month"), start
        ).alias("months_fwd"),
    )


@query(
    "scalar_string_ascii",
    oracle="""
    SELECT c_custkey,
           ascii(c_name)                                   AS first_code,
           chr(CAST(65 + c_custkey % 26 AS INT))           AS letter,
           left(c_name, 8)                                 AS name_left,
           right(c_name, 5)                                AS name_right,
           contains(c_name, '00')                          AS has_00,
           starts_with(c_mktsegment, 'A')                  AS seg_a,
           ends_with(c_mktsegment, 'RY')                   AS seg_ry,
           left(c_name, 9) || '***' || substr(c_name, 13)  AS name_masked
    FROM customer
    """,
    tags=("scalar", "string", "ascii"),
)
def scalar_string_ascii(spark, sf_dir):
    """ascii/chr/left/right/contains/startswith/endswith + overlay.
    Spark overlay(s, '***', 10, 3) splices at 1-based position 10 over
    3 chars — the oracle reproduces it as left||repl||substr since
    DuckDB has no overlay."""
    c = t(spark, sf_dir, "customer")
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        F.ascii(name).alias("first_code"),
        F.chr(65 + F.col("c_custkey") % 26).alias("letter"),
        F.left(name, F.lit(8)).alias("name_left"),
        F.right(name, F.lit(5)).alias("name_right"),
        F.contains(name, F.lit("00")).alias("has_00"),
        F.startswith(F.col("c_mktsegment"), F.lit("A")).alias("seg_a"),
        F.endswith(F.col("c_mktsegment"), F.lit("RY")).alias("seg_ry"),
        F.overlay(name, F.lit("***"), F.lit(10), F.lit(3)).alias("name_masked"),
    )


@query(
    "agg_skew_kurt",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4)))
                  AS DOUBLE) AS s2,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity
                           AS DECIMAL(32,6))) AS DOUBLE) AS s3,
             CAST(sum(CAST(l_quantity * l_quantity * l_quantity * l_quantity
                           AS DECIMAL(38,8))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * pow(s1 / n, 3))
                 / pow(s2 / n - pow(s1 / n, 2), 1.5), 6)              AS skew,
           round((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * pow(s1 / n, 2) * (s2 / n) - 3 * pow(s1 / n, 4))
                 / pow(s2 / n - pow(s1 / n, 2), 2) - 3, 6)            AS kurt,
           CAST(n AS BIGINT) AS n_rows
    FROM m
    """,
    tags=("aggregate", "stats", "moments"),
)
def agg_skew_kurt(spark, sf_dir):
    """Population skewness (m3/m2^1.5) and excess kurtosis (m4/m2²-3)
    — Spark's built-in skewness/kurtosis definitions — built from
    exact DECIMAL power sums rather than the built-ins (whose double
    accumulation is partition-order dependent, and whose DuckDB
    counterparts use the sample-adjusted formula instead). l_quantity
    has 2dp, so q², q³, q⁴ are exact at 4/6/8dp and below 2^53, making
    the double→decimal casts lossless on both engines."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q.cast("decimal(18,2)")).cast("double").alias("s1"),
        F.sum((q * q).cast("decimal(28,4)")).cast("double").alias("s2"),
        F.sum((q * q * q).cast("decimal(32,6)")).cast("double").alias("s3"),
        F.sum((q * q * q * q).cast("decimal(38,8)")).cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (m[c] for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    skew = (s3 / n - 3 * mean * (s2 / n) + 2 * F.pow(mean, 3)) / F.pow(m2, 1.5)
    kurt = (
        s4 / n - 4 * mean * (s3 / n) + 6 * F.pow(mean, 2) * (s2 / n)
        - 3 * F.pow(mean, 4)
    ) / F.pow(m2, 2) - 3
    return m.select(
        "l_returnflag",
        F.round(skew, 6).alias("skew"),
        F.round(kurt, 6).alias("kurt"),
        n.cast("long").alias("n_rows"),
    )


@query(
    "scalar_parse_url",
    oracle="""
    SELECT doc_id,
           source || '.example.com'          AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang                   AS query,
           lang                              AS lang_param
    FROM documents
    """,
    tags=("scalar", "string", "url"),
)
def scalar_parse_url(spark, sf_dir):
    """parse_url HOST/PATH/QUERY + per-key QUERY param over URLs
    synthesized from (source, doc_id, lang) — the oracle rebuilds the
    expected parts from the same components (DuckDB has no URL
    parser), so this checks Spark's parser against the construction."""
    d = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@query(
    "scalar_base_conv",
    oracle="""
    SELECT p_partkey,
           hex(p_partkey)                         AS key_hex,
           bin(CAST(p_size AS BIGINT))            AS size_bin,
           upper(to_base(p_partkey, 16))          AS key_conv16,
           upper(to_base(CAST(p_size AS BIGINT), 8)) AS size_conv8
    FROM part
    """,
    tags=("scalar", "base", "hash"),
)
def scalar_base_conv(spark, sf_dir):
    """Radix conversion: hex / bin / conv(…,10,{16,8}). Spark conv
    emits uppercase digits; DuckDB to_base is wrapped in upper() to
    pin the same casing."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.hex(F.col("p_partkey")).alias("key_hex"),
        F.bin(F.col("p_size").cast("long")).alias("size_bin"),
        F.conv(F.col("p_partkey").cast("string"), 10, 16).alias("key_conv16"),
        F.conv(F.col("p_size").cast("string"), 10, 8).alias("size_conv8"),
    )


@query(
    "scalar_array_setops",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             (string_split(text, ' '))[1:10]  AS a,
             (string_split(text, ' '))[11:20] AS b
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(list_concat(a, b))) AS INT) AS n_union,
           CAST(len(list_intersect(a, b)) AS INT)             AS n_intersect,
           CAST(len(list_filter(list_distinct(a),
                                x -> NOT list_contains(b, x))) AS INT) AS n_except,
           len(list_intersect(a, b)) > 0                      AS overlaps
    FROM s
    """,
    tags=("scalar", "array", "setop"),
)
def scalar_array_setops(spark, sf_dir):
    """array_union / array_intersect / array_except / arrays_overlap
    over two token windows of each document. Both engines' set ops
    deduplicate but order results differently (DuckDB list_intersect
    is unordered) — so the query emits SIZES, per the no-raw-set-array
    output policy."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    a, b = F.slice(toks, 1, 10), F.slice(toks, 11, 10)
    return d.select(
        "doc_id",
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.array_intersect(a, b)).alias("n_intersect"),
        F.size(F.array_except(a, b)).alias("n_except"),
        F.arrays_overlap(a, b).alias("overlaps"),
    )


@query(
    "scalar_map_higher_order",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity * 2 AS qty_doubled,
           CAST((CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
               + CASE WHEN l_discount > 25 THEN 1 ELSE 0 END) AS INT)
             AS n_large_vals,
           l_extendedprice * (1 + l_tax) AS price_with_tax,
           CAST(2 AS INT) AS n_merged_keys
    FROM lineitem
    WHERE l_orderkey % 97 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("scalar", "map", "higher-order"),
)
def scalar_map_higher_order(spark, sf_dir):
    """Map higher-order functions (transform_values / map_filter /
    map_zip_with / map_concat) — the map-typed side of the HOF surface
    (arrays covered in scalar_higher_order). Maps cannot appear in the
    output (driver-canon + DuckDB have no stable map hash), so each
    result is collapsed to deterministic scalars; the oracle computes
    the same values straight from the base columns, which is exactly
    the parity claim: the map pipeline must equal direct column math.
    Pure map stage — pipelines inside the scan at any scale."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 97 == 0)
    qmap = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("disc"), F.col("l_discount")
    )
    doubled = F.transform_values(qmap, lambda k, v: v * 2)
    large = F.map_filter(qmap, lambda k, v: v > 25)
    pricem = F.create_map(F.lit("p"), F.col("l_extendedprice"))
    taxm = F.create_map(F.lit("p"), F.col("l_tax"))
    taxed = F.map_zip_with(pricem, taxm, lambda k, p, x: p * (1 + x))
    merged = F.map_concat(
        F.create_map(F.lit("a"), F.lit(1)), F.create_map(F.lit("b"), F.lit(2))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_element_at(doubled, F.lit("qty")).alias("qty_doubled"),
        F.size(large).alias("n_large_vals"),
        F.try_element_at(taxed, F.lit("p")).alias("price_with_tax"),
        F.size(merged).alias("n_merged_keys"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "scalar_csv_convert",
    oracle="""
    SELECT o_orderkey,
           concat(CAST(o_orderkey AS VARCHAR), ',', o_orderstatus, ',',
                  CAST(o_totalprice AS VARCHAR)) AS as_csv,
           CAST(string_split(concat(CAST(o_orderkey AS VARCHAR), ',',
                                    o_orderstatus, ',',
                                    CAST(o_totalprice AS VARCHAR)),
                             ',')[2] AS VARCHAR) AS status_back,
           CAST(string_split(concat(CAST(o_orderkey AS VARCHAR), ',',
                                    o_orderstatus, ',',
                                    CAST(o_totalprice AS VARCHAR)),
                             ',')[3] AS DOUBLE) AS price_back
    FROM orders WHERE o_orderkey <= 1000
    """,
    tags=("scalar", "csv"),
)
def scalar_csv_convert(spark, sf_dir):
    """``to_csv`` / ``from_csv`` scalar conversion (the per-row CSV
    codec, distinct from the file source): struct -> csv line -> back
    to typed fields. The oracle mirrors with concat/split since DuckDB
    has no scalar CSV codec — doubles format identically because
    Spark's to_csv uses the shortest-repr double formatting on exact
    2-decimal values, same as DuckDB's VARCHAR cast."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    line = F.to_csv(
        F.struct(
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    parsed = F.from_csv(
        line, "k bigint, st string, price double"
    )
    return o.select(
        "o_orderkey",
        line.alias("as_csv"),
        parsed.getField("st").alias("status_back"),
        parsed.getField("price").alias("price_back"),
    )


@query(
    "scalar_str_to_map",
    oracle="""
    WITH m AS (
      SELECT event_id,
             concat('uid:', CAST(user_id AS VARCHAR),
                    ',ev:', event_type,
                    ',v:', CAST(CAST(round(value * 100) AS BIGINT)
                                AS VARCHAR)) AS kv
      FROM events WHERE event_id <= 2000
    )
    SELECT event_id, kv,
           string_split(string_split(kv, 'uid:')[2], ',')[1] AS uid,
           string_split(string_split(kv, ',ev:')[2], ',')[1] AS ev,
           CAST(string_split(kv, ',v:')[2] AS BIGINT) AS v_cents
    FROM m
    """,
    tags=("scalar", "map", "string"),
)
def scalar_str_to_map(spark, sf_dir):
    """``str_to_map``: parse 'k:v,k:v' config strings (log/UA parsing
    staple) into a map and pull typed values out. Oracle extracts the
    same fields with nested splits (DuckDB has no str_to_map)."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") <= 2000)
    kv = F.concat(
        F.lit("uid:"), F.col("user_id").cast("string"),
        F.lit(",ev:"), F.col("event_type"),
        F.lit(",v:"),
        F.round(F.col("value") * 100).cast("long").cast("string"),
    )
    m = F.str_to_map(kv, F.lit(","), F.lit(":"))
    return e.select(
        "event_id",
        kv.alias("kv"),
        m.getItem("uid").alias("uid"),
        m.getItem("ev").alias("ev"),
        m.getItem("v").cast("long").alias("v_cents"),
    )


@query(
    "scalar_array_mutation",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             [o_orderkey % 7, o_orderkey % 5, NULL,
              o_orderkey % 3] AS arr
      FROM orders WHERE o_orderkey <= 1000
    )
    SELECT o_orderkey,
           array_to_string(list_prepend(-1, list_append(arr, 99)), '|')
             AS mutated,
           array_to_string(list_filter(arr, x -> x IS NOT NULL), '|')
             AS compacted,
           CAST(len(list_filter(arr, x -> x IS NOT NULL)) AS INT)
             AS n_compact
    FROM base
    """,
    tags=("scalar", "array"),
)
def scalar_array_mutation(spark, sf_dir):
    """Spark 3.4+ array mutation builtins — array_append /
    array_prepend / array_compact — with scalar-collapsed (joined
    string) outputs per the no-bare-arrays canon rule. DuckDB mirrors
    with list_append/list_prepend/list_filter."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    arr = F.array(
        F.col("o_orderkey") % 7,
        F.col("o_orderkey") % 5,
        F.lit(None).cast("long"),
        F.col("o_orderkey") % 3,
    )
    base = o.select("o_orderkey", arr.alias("arr"))
    return base.select(
        "o_orderkey",
        F.concat_ws(
            "|",
            F.transform(
                F.array_prepend(F.array_append("arr", F.lit(99)), F.lit(-1)),
                lambda x: x.cast("string"),
            ),
        ).alias("mutated"),
        F.concat_ws(
            "|",
            F.transform(F.array_compact("arr"), lambda x: x.cast("string")),
        ).alias("compacted"),
        F.size(F.array_compact("arr")).alias("n_compact"),
    )


@query(
    "agg_map_from_entries",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'click' THEN c END) AS BIGINT)
             AS n_click,
           CAST(max(CASE WHEN event_type = 'view' THEN c END) AS BIGINT)
             AS n_view,
           CAST(max(CASE WHEN event_type = 'purchase' THEN c END) AS BIGINT)
             AS n_purchase,
           CAST(count(*) AS INT) AS n_types
    FROM per GROUP BY user_id
    """,
    tags=("aggregate", "map"),
)
def agg_map_from_entries(spark, sf_dir):
    """Aggregated MAP construction — ``map_from_entries(collect_list(
    struct(k, v)))`` builds a per-user event_type -> count map in one
    pass, then typed lookups come out of the map (emitted as scalars
    per the canon rule; the oracle pivots the same lookups with
    conditional aggs). The map-typed intermediate is the natural
    feature-store row format."""
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    m = F.map_from_entries(
        F.collect_list(F.struct("event_type", "c"))
    )
    return per.groupBy("user_id").agg(
        m.getItem("click").alias("n_click"),
        m.getItem("view").alias("n_view"),
        m.getItem("purchase").alias("n_purchase"),
        F.count("*").cast("int").alias("n_types"),
    )


@query(
    "scalar_array_sort_comparator",
    # NOTE: DuckDB 1.0.0's list_reduce returns batch-layout-dependent
    # (wrong) results for string folds over full-table scans (verified:
    # same rows fold correctly in a small filtered batch) — so this
    # oracle computes the identical argmax via unnest + window instead.
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(list_filter(string_split(trim(lower(text)), ' '),
                                x -> x <> '')) AS word
      FROM documents
    ),
    a AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY length(word) DESC, word) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS n_words
      FROM t
    )
    SELECT doc_id, CAST(n_words AS INT) AS n_words, word AS longest_word
    FROM a WHERE rn = 1
    """,
    tags=("scalar", "array", "higher_order"),
)
def scalar_array_sort_comparator(spark, sf_dir):
    """``array_sort`` with a CUSTOM COMPARATOR lambda (length desc,
    then lexicographic) — the HOF variant plain ascending sort can't
    express; the head of the sorted array is each document's longest
    word. The oracle computes the identical argmax via unnest + a
    (length desc, word) row_number window (DuckDB's list_sort takes
    no comparator, and DuckDB 1.0's list_reduce is batch-layout-buggy
    — documented in SURVEY §2C), so both engines agree
    element-for-element."""
    d = t(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    base = d.select("doc_id", ws.alias("ws")).filter(F.size("ws") > 0)
    cmp_sorted = F.expr(
        """array_sort(ws, (a, b) -> CASE
             WHEN length(a) > length(b) THEN -1
             WHEN length(a) < length(b) THEN 1
             WHEN a < b THEN -1 WHEN a > b THEN 1 ELSE 0 END)"""
    )
    return base.select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.element_at(cmp_sorted, 1).alias("longest_word"),
    )


@query(
    "scalar_string_transform",
    oracle="""
    SELECT o_orderkey,
           translate(o_orderpriority, 'RGE', 'rge') AS translated,
           reverse(o_orderstatus) AS reversed,
           repeat(o_orderstatus, 3) AS repeated,
           substr(o_orderpriority, 1, 2) || 'XX'
             || substr(o_orderpriority, 5) AS overlaid,
           array_to_string(list_transform(
             string_split(o_orderpriority, ' '),
             w -> upper(substr(w, 1, 1)) || lower(substr(w, 2))), ' ')
             AS initcapped
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    tags=("scalar", "string"),
)
def scalar_string_transform(spark, sf_dir):
    """Character-level string transforms: translate (char map),
    reverse, repeat, overlay (splice at position), initcap — the
    remaining ANSI string surface. DuckDB has no overlay/initcap, so
    the oracle mirrors them with substr arithmetic and a per-word
    capitalize-first transform (initcap is per whitespace word)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.translate("o_orderpriority", "RGE", "rge").alias("translated"),
        F.reverse("o_orderstatus").alias("reversed"),
        F.repeat("o_orderstatus", 3).alias("repeated"),
        F.overlay("o_orderpriority", F.lit("XX"), 3, 2).alias("overlaid"),
        F.initcap("o_orderpriority").alias("initcapped"),
    )


# ------------------------------------------- temporal/scalar extras
@query(
    "scalar_temporal_extras",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 3 HOUR AS ts_plus_3h,
           ts + to_minutes(CAST(90 + event_id % 30 AS BIGINT))
             AS ts_plus_dyn,
           CAST(floor(epoch(ts - TIMESTAMP '2024-01-01')
                      / 60.0) AS BIGINT) AS minutes_since_jan1,
           CASE WHEN value < 0 THEN 0
                WHEN value >= 500 THEN 11
                ELSE CAST(floor(value / 50.0) AS BIGINT) + 1
           END AS value_bucket,
           strftime(ts, '%Y-%m-%d %H') AS hour_label,
           CAST(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                         '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)
             AS ts_roundtrip
    FROM events
    ORDER BY event_id LIMIT 20
    """,
    tags=("scalar", "temporal", "events"),
)
def scalar_temporal_extras(spark, sf_dir):
    """TEMPORAL SCALAR EXTRAS — the remaining literal API surface the
    date/datetime batteries don't touch: ``timestampadd`` (unit
    arithmetic), ``make_dt_interval`` (dynamic per-row intervals),
    ``timestampdiff`` (elapsed minutes since an anchor),
    ``width_bucket`` (equi-width binning as a FUNCTION, vs the
    histogram queries' floor arithmetic), ``to_char`` (datetime →
    string with a format), and a ``try_to_timestamp`` parse of the
    formatted value (the try_* family's datetime member) proving the
    format roundtrips.

    The oracle computes the same VALUES through DuckDB's equivalents
    (INTERVAL arithmetic, epoch differences, floor binning, strftime/
    strptime) — the check is value-level semantics, not shared
    function names; sub-second truncation in the roundtrip column is
    exercised deliberately (to_char second precision).

    Scale: pure per-row projection; TopK(20) output."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.expr("timestampadd(HOUR, 3, ts)").alias("ts_plus_3h"),
            F.expr(
                "ts + make_dt_interval(0, 0, 90 + event_id % 30, 0)"
            ).alias("ts_plus_dyn"),
            F.expr(
                "timestampdiff(MINUTE, TIMESTAMP '2024-01-01', ts)"
            ).alias("minutes_since_jan1"),
            F.expr("width_bucket(value, 0, 500, 10)").alias(
                "value_bucket"
            ),
            F.expr("to_char(ts, 'yyyy-MM-dd HH')").alias("hour_label"),
            F.expr(
                "CAST(try_to_timestamp("
                "to_char(ts, 'yyyy-MM-dd HH:mm:ss'),"
                " 'yyyy-MM-dd HH:mm:ss') AS TIMESTAMP_NTZ)"
            ).alias("ts_roundtrip"),
        )
        .orderBy("event_id")
        .limit(20)
    )
