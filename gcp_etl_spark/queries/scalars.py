"""Scalar function corpus (SURVEY.md §2B "Scalar functions"):
string / date-time / math / conditional / array / map / json.

All expressions are JVM built-ins inside whole-stage codegen. Type
alignment with the DuckDB oracle is explicit (Spark length→int vs
DuckDB bigint, Spark ceil(double)→bigint vs DuckDB double, DuckDB
epoch→double, 1-based list indexing, global regexp_replace flag) —
each oracle carries the matching CASTs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t

R = lambda c, n=4: F.round(c, n)  # noqa: E731


@query(
    "scalar_string",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment)                                   AS seg_upper,
           lower(c_name)                                         AS name_lower,
           substring(c_name, 10, 5)                              AS name_sub,
           CAST(length(c_name) AS INT)                           AS name_len,
           concat_ws('-', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           regexp_extract(c_name, '([0-9]+)', 1)                 AS digits,
           regexp_replace(c_name, '0+', '0', 'g')                AS squeezed,
           string_split(c_name, '#')[2]                          AS name_id,
           trim(concat(' ', c_mktsegment, ' '))                  AS trimmed
    FROM customer
    """,
    tags=("scalar", "string"),
)
def scalar_string(spark, sf_dir):
    """String functions: case, substring, length, concat_ws, regex
    extract/replace (Spark replaces globally; DuckDB needs 'g'),
    split+index (Spark 0-based, DuckDB 1-based)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.lower("c_name").alias("name_lower"),
        F.substring("c_name", 10, 5).alias("name_sub"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
        F.split("c_name", "#").getItem(1).alias("name_id"),
        F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
    )


@query(
    "scalar_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT)                         AS yr,
           CAST(month(o_orderdate) AS INT)                        AS mon,
           CAST(dayofmonth(o_orderdate) AS INT)                   AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INT)                AS dow,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)    AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE)            AS due_date,
           CAST(date_diff('day', o_orderdate, DATE '1999-01-01') AS INT) AS days_to_99,
           CAST(epoch(o_orderdate) AS BIGINT)                     AS epoch_s
    FROM orders
    """,
    tags=("scalar", "datetime"),
)
def scalar_datetime(spark, sf_dir):
    """Date/time functions. Cross-engine notes: DuckDB year() is
    bigint (cast), dayofweek is 0-based Sunday (Spark 1-based),
    epoch() is double seconds (cast); session TZ pinned UTC so
    unix_timestamp == epoch."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.dayofweek("o_orderdate").alias("dow"),
        # date_trunc returns the session-tz timestamp type even for an
        # NTZ input — cast back so the arrow schema matches DuckDB's
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("month_start"),
        F.date_add(F.col("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.to_date(F.lit("1999-01-01")), F.col("o_orderdate")).alias(
            "days_to_99"
        ),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "scalar_math_cond",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * l_discount                  AS disc_amt,
           abs(l_discount - 0.05)                        AS disc_dev,
           CAST(ceil(l_extendedprice)  AS BIGINT)        AS price_ceil,
           CAST(floor(l_extendedprice) AS BIGINT)        AS price_floor,
           round(pow(l_quantity, 2), 4)                  AS qty_sq,
           round(ln(l_extendedprice + 1), 4)             AS log_price,
           CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS size_class,
           coalesce(nullif(l_returnflag, 'N'), 'none')   AS flag_or_none
    FROM lineitem
    """,
    tags=("scalar", "math", "conditional"),
)
def scalar_math_cond(spark, sf_dir):
    """Math + conditional functions (Spark ceil/floor(double)→bigint;
    F.log is natural log = DuckDB ln)."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amt"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.floor("l_extendedprice").alias("price_floor"),
        R(F.pow("l_quantity", 2)).alias("qty_sq"),
        R(F.log(F.col("l_extendedprice") + 1)).alias("log_price"),
        F.when(F.col("l_quantity") > 25, "big").otherwise("small").alias("size_class"),
        F.coalesce(F.nullif("l_returnflag", F.lit("N")), F.lit("none")).alias(
            "flag_or_none"
        ),
    )


@query(
    "scalar_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')             AS k_str,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 50
                THEN 'high' ELSE 'low' END               AS k_bucket
    FROM events
    """,
    tags=("scalar", "json"),
)
def scalar_json(spark, sf_dir):
    """JSON scalar functions over the events.props JSON-string column
    (get_json_object + from_json→map access, SURVEY §2B)."""
    e = t(spark, sf_dir, "events")
    # try_element_at: ANSI mode (Spark 4 default) makes plain
    # element_at throw on a missing key; try_ returns NULL like SQL.
    k_from_map = F.try_element_at(
        F.from_json("props", "map<string,int>"), F.lit("k")
    )
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_from_map.alias("k_int"),
        F.when(k_from_map >= 50, "high").otherwise("low").alias("k_bucket"),
    )


@query(
    "scalar_array",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    )
    SELECT doc_id,
           CAST(len(tokens) AS INT)                 AS n_tokens,
           CAST(len(list_distinct(tokens)) AS INT)  AS n_unique,
           list_contains(tokens, 'spark')           AS has_spark,
           tokens[1]                                AS first_token,
           list_sort(tokens)[1]                     AS min_token,
           CAST(len(list_filter(tokens, x -> length(x) > 5)) AS INT) AS n_long,
           array_to_string(list_sort(tokens)[1:3], '|') AS top3_sorted
    FROM toks
    """,
    tags=("scalar", "array", "higher-order"),
)
def scalar_array(spark, sf_dir):
    """Array functions incl. higher-order filter/transform (DuckDB
    lists are 1-based; list_distinct is unordered → only sizes are
    compared, plus explicitly sorted slices)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
        F.array_contains(toks, "spark").alias("has_spark"),
        toks.getItem(0).alias("first_token"),
        F.sort_array(toks).getItem(0).alias("min_token"),
        F.size(F.filter(toks, lambda x: F.length(x) > 5)).alias("n_long"),
        F.concat_ws("|", F.slice(F.sort_array(toks), 1, 3)).alias("top3_sorted"),
    )


@query(
    "scalar_struct_coords",
    oracle="""
    WITH c AS (
      SELECT event_id,
             concat(CAST(user_id AS VARCHAR), ', ', CAST(event_id % 90 AS VARCHAR))
               AS coordinates
      FROM events
    )
    SELECT event_id, coordinates,
           CAST(string_split(coordinates, ', ')[1] AS DOUBLE) AS lon,
           CAST(string_split(coordinates, ', ')[2] AS DOUBLE) AS lat
    FROM c
    """,
    tags=("scalar", "struct", "reference"),
)
def scalar_struct_coords(spark, sf_dir):
    """The reference's latent struct-in-string pattern: its airport
    dataset stores coordinates as a '"lon, lat"' string (SURVEY §1.3);
    split + cast recovers typed columns. Reconstructed here over
    events (deterministic synthetic coordinate string)."""
    e = t(spark, sf_dir, "events")
    coords = F.concat_ws(
        ", ",
        F.col("user_id").cast("string"),
        (F.col("event_id") % 90).cast("string"),
    )
    c = e.select("event_id", coords.alias("coordinates"))
    parts = F.split("coordinates", ", ")
    return c.select(
        "event_id",
        "coordinates",
        parts.getItem(0).cast("double").alias("lon"),
        parts.getItem(1).cast("double").alias("lat"),
    )


@query(
    "scalar_map_functions",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val
    FROM events
    """,
    tags=("scalar", "map", "json"),
)
def scalar_map_functions(spark, sf_dir):
    """Map functions over from_json(props): map_keys/map_values +
    element access (DuckDB dual: json_keys)."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.size(F.map_keys(m)).alias("n_keys"),
        F.concat_ws(",", F.sort_array(F.map_keys(m))).alias("keys_sorted"),
        F.try_element_at(m, F.lit("k")).alias("k_val"),
    )


@query(
    "scalar_posexplode",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> x <> '') AS tokens
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(unnest(range(len(tokens))) AS INT) AS pos,
           unnest(tokens) AS word
    FROM toks
    """,
    tags=("scalar", "array", "explode"),
)
def scalar_posexplode(spark, sf_dir):
    """posexplode: token position + value (UDTF-shaped lateral view;
    DuckDB dual via lateral generate_series)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit(""))
    return d.select("doc_id", F.posexplode(toks).alias("pos", "word"))


@query(
    "scalar_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, value FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
             l_quantity AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    ) WHERE l_orderkey < 100
    """,
    tags=("scalar", "unpivot"),
)
def scalar_unpivot(spark, sf_dir):
    """Unpivot (wide->long) via stack() — the inverse of pivot."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'discount', l_discount, "
            "'tax', l_tax) AS (measure, value)"
        ),
    )


@query(
    "scalar_higher_order",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS tokens
      FROM documents
    )
    SELECT doc_id,
           len(list_filter(tokens, x -> length(x) > 8)) > 0          AS has_long_token,
           len(list_filter(tokens, x -> length(x) = 0)) = 0          AS all_nonempty,
           array_to_string(list_transform(list_sort(tokens)[1:3],
                                          x -> upper(x)), '|')       AS first3_upper,
           CAST(list_sum(list_transform(tokens, x -> length(x))) AS BIGINT)
                                                                     AS total_chars
    FROM toks
    """,
    tags=("scalar", "array", "higher-order"),
)
def scalar_higher_order(spark, sf_dir):
    """Higher-order array functions: exists / forall / transform /
    aggregate - all codegen'd JVM lambdas, the scalable alternative to
    a Python UDF over arrays."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    return d.select(
        "doc_id",
        F.exists(toks, lambda x: F.length(x) > 8).alias("has_long_token"),
        F.forall(toks, lambda x: F.length(x) > 0).alias("all_nonempty"),
        F.concat_ws(
            "|", F.transform(F.slice(F.sort_array(toks), 1, 3), lambda x: F.upper(x))
        ).alias("first3_upper"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
    )


@query(
    "scalar_explode_outer",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN NULL
                  ELSE list_filter(string_split(trim(text), ' '), x -> x <> '')
             END AS tokens
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, unnest(tokens) AS word FROM base WHERE tokens IS NOT NULL
    UNION ALL
    SELECT doc_id, NULL AS word FROM base WHERE tokens IS NULL
    """,
    tags=("scalar", "array", "explode"),
)
def scalar_explode_outer(spark, sf_dir):
    """explode_outer: rows with NULL arrays survive with a NULL
    element (plain explode would drop them - the classic silent-loss
    bug in flattening pipelines)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.when(
        F.col("n_chars") < 300,
        F.filter(F.split(F.trim("text"), " "), lambda x: x != F.lit("")),
    )
    return d.select("doc_id", F.explode_outer(toks).alias("word"))


@query(
    "scalar_string_extended",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0')  AS padded_key,
           rpad(p_brand, 12, '.')                    AS brand_padded,
           translate(p_type, 'AEIOU', 'aeiou')       AS type_lowered_vowels,
           array_to_string(list_transform(string_split(lower(p_name), ' '),
                           w -> concat(upper(w[1:1]), w[2:])), ' ') AS name_title,
           repeat('*', p_size % 5)                   AS stars,
           left(p_name, 4)                           AS name_left,
           right(p_name, 3)                          AS name_right,
           replace(p_brand, 'Brand#', 'B')           AS brand_short,
           CAST(strpos(p_name, 'widget') AS INT)     AS widget_pos,
           reverse(p_brand)                          AS brand_rev
    FROM part
    """,
    tags=("scalar", "string"),
)
def scalar_string_extended(spark, sf_dir):
    """Second string batch: pad/translate/initcap/repeat/left/right/
    replace/position/reverse (Spark instr == DuckDB strpos, 1-based,
    0 when absent)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
        F.translate("p_type", "AEIOU", "aeiou").alias("type_lowered_vowels"),
        F.initcap(F.lower("p_name")).alias("name_title"),
        F.repeat(F.lit("*"), (F.col("p_size") % 5)).alias("stars"),
        F.substring("p_name", 1, 4).alias("name_left"),
        F.substring(F.col("p_name"), -3, 3).alias("name_right"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.instr("p_name", "widget").alias("widget_pos"),
        F.reverse("p_brand").alias("brand_rev"),
    )


@query(
    "scalar_date_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d')        AS iso_day,
           strftime(o_orderdate, '%Y/%m')           AS year_month,
           CAST(strftime(o_orderdate, '%j') AS INT) AS day_of_year,
           CAST(quarter(o_orderdate) AS INT)        AS qtr,
           last_day(o_orderdate)                    AS month_end
    FROM orders WHERE o_orderkey < 500
    """,
    tags=("scalar", "datetime", "format"),
)
def scalar_date_format(spark, sf_dir):
    """Timestamp formatting: date_format (Java patterns) == strftime
    (C patterns) for the shared subset; day-of-year, quarter,
    last_day (both return DATE)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
        F.date_format("o_orderdate", "yyyy/MM").alias("year_month"),
        F.dayofyear("o_orderdate").alias("day_of_year"),
        F.quarter("o_orderdate").alias("qtr"),
        F.last_day("o_orderdate").alias("month_end"),
    )


# Reference points for the nearest-hub haversine join (lon, lat) —
# mirrored literally in the oracle.
_GEO_HUBS = [
    ("hub_ams", 4.9, 52.4),
    ("hub_gru", -46.6, -23.5),
    ("hub_nrt", 140.4, 35.8),
    ("hub_jfk", -73.8, 40.6),
]


@query(
    "geo_haversine_nearest_hub",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             CAST(user_id % 360 - 180 AS DOUBLE) AS lon,
             CAST(event_id % 180 - 90 AS DOUBLE) AS lat
      FROM events
    ),
    hubs(hub, h_lon, h_lat) AS (
      VALUES {", ".join(f"('{h}', {lo}, {la})" for h, lo, la in _GEO_HUBS)}
    ),
    dist AS (
      SELECT event_id, hub,
             2 * 6371.0 * asin(sqrt(
               pow(sin(radians(h_lat - lat) / 2), 2)
               + cos(radians(lat)) * cos(radians(h_lat))
                 * pow(sin(radians(h_lon - lon) / 2), 2)
             )) AS km
      FROM pts CROSS JOIN hubs
    ),
    ranked AS (
      SELECT event_id, hub, km,
             row_number() OVER (PARTITION BY event_id
                                ORDER BY round(km, 6), hub) AS rn
      FROM dist
    )
    SELECT event_id, hub AS nearest_hub, round(km, 4) AS km
    FROM ranked WHERE rn = 1
    """,
    tags=("scalar", "geo", "join"),
)
def geo_haversine_nearest_hub(spark, sf_dir):
    """Geospatial-lite: haversine distance from each event's synthetic
    (lon, lat) to a tiny broadcast hub table, keeping the nearest —
    the geo-enrichment join shape (point x small reference set, never
    point x point). The argmin ranks on ROUND(km, 6) with a hub-name
    tiebreak so cross-engine trig ulps (sin/cos differ in the last
    bit) can neither flip the winner nor the emitted 4dp distance."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        (F.col("user_id") % 360 - 180).cast("double").alias("lon"),
        (F.col("event_id") % 180 - 90).cast("double").alias("lat"),
    )
    hubs = spark.createDataFrame(
        _GEO_HUBS, "hub string, h_lon double, h_lat double"
    )
    km = 2 * 6371.0 * F.asin(
        F.sqrt(
            F.pow(F.sin(F.radians(F.col("h_lat") - F.col("lat")) / 2), 2)
            + F.cos(F.radians("lat"))
            * F.cos(F.radians("h_lat"))
            * F.pow(F.sin(F.radians(F.col("h_lon") - F.col("lon")) / 2), 2)
        )
    )
    dist = pts.crossJoin(F.broadcast(hubs)).select(
        "event_id", "hub", km.alias("km")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy(F.round("km", 6), "hub")
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.col("hub").alias("nearest_hub"),
            F.round("km", 4).alias("km"),
        )
    )


# ------------------------------------------------ geohash spatial grid
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 15  # per axis; 30 bits total = 6 base32 chars
_GH_PREFIX = 3  # grid aggregation precision (3 chars = 15 bits)


def _gh_sql(div: str) -> str:
    """The full geohash-6 expression over integer columns lat/lon, as
    ONE arithmetic-only SQL string (bit ops via {div}/%/* so the same
    builder emits Spark SQL with ``div`` and DuckDB SQL with ``//`` —
    no engine-specific bit operators). Quantization is pure integer:
    latq = (lat+90)*2^15 {div} 180, lngq = (lon+180)*2^15 {div} 360;
    the interleave puts lng bits at odd positions (geohash standard,
    public — Niemeyer 2008)."""
    latq = f"(((lat + 90) * 32768) {div} 180)"
    lngq = f"(((lon + 180) * 32768) {div} 360)"
    terms = []
    for i in range(_GH_BITS):
        terms.append(f"(({lngq} {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({latq} {div} {1 << i}) % 2) * {1 << (2 * i)}")
    combined = "(" + " + ".join(terms) + ")"
    chars = []
    for j in range(6):
        shift = 1 << (25 - 5 * j)
        chars.append(
            f"substr('{_GH_ALPHABET}', "
            f"CAST(({combined} {div} {shift}) % 32 AS INT) + 1, 1)"
        )
    return " || ".join(chars)


@query(
    "geo_geohash_grid",
    oracle=f"""
    WITH pts AS (
      SELECT event_id, user_id,
             CAST(user_id % 360 - 180 AS BIGINT) AS lon,
             CAST(event_id % 180 - 90 AS BIGINT) AS lat
      FROM events
    ), gh AS (
      SELECT user_id, {_gh_sql('//')} AS geohash6 FROM pts
    )
    SELECT substr(geohash6, 1, {_GH_PREFIX}) AS cell,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           min(geohash6) AS sample_geohash6
    FROM gh GROUP BY 1
    """,
    tags=("geo", "spatial", "scalar", "events"),
)
def geo_geohash_grid(spark, sf_dir):
    """GEOHASH GRID AGGREGATION (Niemeyer's geohash, public — the
    spatial bucketing every geo pipeline uses for grid rollups and
    proximity blocking): encode each event's synthetic integer
    (lon, lat) to a 6-char geohash (15 bits/axis, standard odd-lng
    interleave, base32 alphabet) and aggregate events/users per
    {PREFIX}-char grid cell. The geo companion to the LSH-bucketing
    family: equal prefixes = nearby points, so the same bucket-join
    algebra does spatial blocking.

    ONE arithmetic-only expression string (bit ops spelled as
    integer div/%/×) is generated for BOTH engines — Spark runs it
    via F.expr with ``div``, DuckDB with ``//`` — so the 30-bit
    interleave and the base32 indexing are hash-verified
    character-for-character. Pure integer end-to-end: no float
    rounding anywhere.

    Scale: encode is a zero-shuffle map; the rollup is one hash agg
    keyed by the cell — the standard grid shape."""
    e = t(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        (F.col("user_id") % 360 - 180).cast("long").alias("lon"),
        (F.col("event_id") % 180 - 90).cast("long").alias("lat"),
    )
    gh = pts.select(
        "user_id", F.expr(_gh_sql("div")).alias("geohash6")
    )
    return (
        gh.groupBy(F.substring("geohash6", 1, _GH_PREFIX).alias("cell"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("geohash6").alias("sample_geohash6"),
        )
    )


# ---------------------------------------------- spatial blocking join

_GEO_R_KM = 150.0
_GEO_CELL_DEG = 1.40625  # 180/128: lat span of 150 km (1.36°) fits ±1
_GEO_LON_CELLS = 256     # 360/1.40625 exactly — the lon ring size the
                         # neighbor-cell indices wrap modulo (r8 ADVICE:
                         # without the wrap, pairs straddling ±180°
                         # were never candidates)
_GEO_MAX_LAT = 60        # keeps the lon span of 150 km ≤ 2 cells
_GEO_TYPE = "signup"

_HAV_SQL = (
    "2 * 6371.0 * asin(sqrt("
    " pow(sin(radians(b_lat - a_lat) / 2), 2)"
    " + cos(radians(a_lat)) * cos(radians(b_lat))"
    " * pow(sin(radians(b_lon - a_lon) / 2), 2)))"
)


def _geo_blocked_pairs(pts):
    """Grid-blocked candidate pairs within ``_GEO_R_KM`` of each other,
    given ``pts(id, lon double, lat double)`` with |lat| <= _GEO_MAX_LAT.
    The lon cell index lives on a RING of ``_GEO_LON_CELLS`` cells
    (360/1.40625 = 256 exactly), so the exploded neighbor indices wrap
    with ``pmod`` — haversine distance itself wraps at the antimeridian,
    and a point at lon -180 is 1°-of-longitude away from one at +179
    (r8 ADVICE high: the unwrapped index silently excluded those pairs;
    regression pinned by tests/test_r7.py::test_geo_blocked_join_wraps_
    antimeridian against a brute-force cross join over wrap points)."""
    cy = F.floor((F.col("lat") + 90) / _GEO_CELL_DEG).cast("int")
    cx = F.floor((F.col("lon") + 180) / _GEO_CELL_DEG).cast("int")
    a = pts.select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("a_lat"),
        F.col("lon").alias("a_lon"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cy + dy).alias("cy"),
                        F.pmod(cx + dx, F.lit(_GEO_LON_CELLS)).alias("cx"),
                    )
                    for dy in (-1, 0, 1)
                    for dx in (-2, -1, 0, 1, 2)
                ]
            )
        ).alias("c"),
    ).select("id_a", "a_lat", "a_lon", "c.cy", "c.cx")
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("b_lat"),
        F.col("lon").alias("b_lon"),
        cy.alias("cy"),
        F.pmod(cx, F.lit(_GEO_LON_CELLS)).alias("cx"),
    )
    km = F.round(F.expr(_HAV_SQL), 4)
    return (
        a.join(b, ["cy", "cx"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("km", km)
        .filter(F.col("km") <= _GEO_R_KM)
        .select("id_a", "id_b", "km")
    )


@query(
    "geo_blocked_distance_join",
    oracle=f"""
    WITH pts AS (
      SELECT event_id AS id,
             CAST(user_id % 360 - 180 AS DOUBLE) AS lon,
             CAST(event_id % 180 - 90 AS DOUBLE) AS lat
      FROM events
      WHERE event_type = '{_GEO_TYPE}'
        AND abs(event_id % 180 - 90) <= {_GEO_MAX_LAT}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round({_HAV_SQL.replace('a_lat', 'a.lat').replace('a_lon', 'a.lon')
                          .replace('b_lat', 'b.lat').replace('b_lon', 'b.lon')},
                 4) AS km
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE round({_HAV_SQL.replace('a_lat', 'a.lat').replace('a_lon', 'a.lon')
                          .replace('b_lat', 'b.lat').replace('b_lon', 'b.lon')},
                4) <= {_GEO_R_KM}
    """,
    tags=("geo", "spatial", "join", "events", "scale"),
)
def geo_blocked_distance_join(spark, sf_dir):
    """SPATIAL DISTANCE JOIN via grid blocking — all point pairs within
    {R} km, computed with the LSH-bucket-join algebra instead of a
    cross product: quantize each point to a {CELL}° grid cell, explode
    ONE side into its 3×5 neighbor cells (±1 lat cell covers the
    1.36° lat span of {R} km; ±2 lon cells cover the ≤2.71° lon span
    at |lat| ≤ {MAXLAT}°, the query's declared domain), equi-join on
    the cell, then the exact haversine ≤ {R} filter — a candidate
    SUPERSET by the geometry above, so the blocked join returns
    EXACTLY the cross join's answer. The lon index wraps modulo the
    256-cell ring (``pmod``) so antimeridian-straddling pairs remain
    candidates (r8 ADVICE: lon −180 vs +179 is ~111 km, inside the
    radius, yet unwrapped indices 0 vs 255 never met).

    That zero-miss property is value-proven, not asserted: the DuckDB
    oracle is the BRUTE-FORCE O(n²) cross join, so a single pair the
    blocking misses is a hash mismatch — and because the fixture-scale
    event grid may coincidentally contain no wrap pairs, the wrap case
    is ALSO pinned directly (tests/test_r8.py wrap regression runs this
    helper against a brute-force cross join over synthetic ±180°
    points). Boundary compare on round(km, 4) so cross-engine trig
    ulps cannot flip membership — the geo_haversine_nearest_hub
    convention.

    Scale: |points × 15| rows shuffle keyed by cell — never
    point × point; per-cell density bounds the candidate fanout, and
    hot cells split with the same salting as any skewed equi-join."""
    e = t(spark, sf_dir, "events").filter(
        (F.col("event_type") == _GEO_TYPE)
        & (F.abs(F.col("event_id") % 180 - 90) <= _GEO_MAX_LAT)
    )
    pts = e.select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 360 - 180).cast("double").alias("lon"),
        (F.col("event_id") % 180 - 90).cast("double").alias("lat"),
    )
    return _geo_blocked_pairs(pts)


# ---------------------------------------------- point-in-polygon

# Simple star-shaped test polygon (lon, lat vertex ring, non-convex:
# four of the eight vertices pull inward, so ray casting is exercised
# on a shape where bounding-box or convex-hull tests would be wrong).
_PIP_POLY = [
    (-120.0, -60.0),
    (-30.0, -20.0),
    (60.0, -60.0),
    (30.0, 0.0),
    (60.0, 60.0),
    (-30.0, 20.0),
    (-120.0, 60.0),
    (-90.0, 0.0),
]


def _pip_crossings_sql() -> str:
    """ONE ray-casting expression string shared verbatim by BOTH
    engines (the geo_geohash_grid trick): for each polygon edge,
    count a crossing of the horizontal ray from (lon, lat) going
    east, via the classic semi-open rule. Identical IEEE arithmetic
    on identical literals ⇒ bit-identical crossing counts."""
    terms = []
    n = len(_PIP_POLY)
    for i in range(n):
        x1, y1 = _PIP_POLY[i]
        x2, y2 = _PIP_POLY[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > lat) <> ({y2} > lat)) AND "
            f"(lon < ({x2} - {x1}) * (lat - {y1}) / ({y2} - {y1}) "
            f"+ {x1}) THEN 1 ELSE 0 END)"
        )
    return " + ".join(terms)


@query(
    "geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT event_type,
             CAST((event_id * 7919) % 360 - 180 AS DOUBLE) AS lon,
             CAST((event_id * 104729) % 180 - 90 AS DOUBLE) AS lat
      FROM events
    ), hit AS (
      SELECT event_type,
             CASE WHEN ({_pip_crossings_sql()}) % 2 = 1
                  THEN 1 ELSE 0 END AS inside
      FROM pts
    )
    SELECT event_type, count(*) AS n_points,
           CAST(sum(inside) AS BIGINT) AS n_inside,
           round(sum(inside) * 1.0 / count(*), 6) AS inside_share
    FROM hit GROUP BY 1 ORDER BY 1
    """,
    tags=("geo", "spatial", "events"),
)
def geo_point_in_polygon(spark, sf_dir):
    """POINT-IN-POLYGON via ray casting (even-odd rule) against a
    non-convex 8-vertex polygon — the spatial predicate underneath
    geofencing and region rollups, next to the suite's haversine and
    grid-blocking ops. Each point casts an eastward ray; crossings
    count per edge with the classic semi-open rule
    (y1 > lat) ≠ (y2 > lat), so shared vertices are counted once.

    The crossing expression is ONE generated SQL string evaluated
    verbatim by BOTH engines (the geo_geohash_grid convention):
    identical literals + identical IEEE ops ⇒ identical counts, no
    float-drift surface at all.

    Scale: a pure per-row map (no shuffle until the per-type count
    rollup); an 8-edge test is ~24 flops/row, and at 100 TB a real
    multi-polygon layer would broadcast the (small) vertex table and
    run the same per-partition arithmetic."""
    e = t(spark, sf_dir, "events")
    # multiplicative-hash lattice (coprime multipliers) so BOTH axes
    # cover their full range at every fixture scale — the raw ids are
    # near-sequential and would pin one axis to a narrow band
    pts = e.select(
        "event_type",
        ((F.col("event_id") * 7919) % 360 - 180)
        .cast("double")
        .alias("lon"),
        ((F.col("event_id") * 104729) % 180 - 90)
        .cast("double")
        .alias("lat"),
    )
    hit = pts.select(
        "event_type",
        F.when(
            F.expr(f"({_pip_crossings_sql()}) % 2 = 1"), 1
        ).otherwise(0).alias("inside"),
    )
    return (
        hit.groupBy("event_type")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("inside").alias("n_inside"),
            F.round(F.sum("inside") * 1.0 / F.count("*"), 6).alias(
                "inside_share"
            ),
        )
        .orderBy("event_type")
    )
