"""UDF / UDAF / UDTF surface (SURVEY.md §2B "UDF / UDAF / UDTF").

Every flavor of the Python boundary, slowest-path-last:
- scalar ``@pandas_udf`` (Arrow-vectorized, Series→Series)
- grouped-aggregate ``pandas_udf`` (UDAF)
- grouped-map ``applyInPandas``
- ``mapInPandas`` (UDTF-analog: batch iterator in/out)
- row-at-a-time ``F.udf`` (the anti-pattern, kept for API parity)

Determinism note: Python float reductions would reintroduce
summation-order drift, so the UDAF/grouped examples reduce in int64
cents (exact) and divide once in float — bitwise-stable vs the SQL
oracle (same policy as queries/_exact.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t


@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT o_orderkey,
           round(2.0 * ln(1.0 + o_totalprice), 4) AS log_score
    FROM orders WHERE o_totalprice > 100000
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_scalar(spark, sf_dir):
    """Arrow-vectorized scalar pandas UDF (numpy log1p ≈ libm ln →
    round4 bridges the last-ulp libm differences)."""

    @F.pandas_udf(T.DoubleType())
    def log_score(v: pd.Series) -> pd.Series:
        import numpy as np

        return 2.0 * np.log1p(v)

    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return o.select(
        "o_orderkey", F.round(log_score("o_totalprice"), 4).alias("log_score")
    )


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
           / (100.0 * sum(CAST(l_quantity AS BIGINT))) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf", "udaf", "pandas"),
)
def udf_pandas_grouped_agg(spark, sf_dir):
    """Grouped-aggregate pandas UDF (UDAF): quantity-weighted average
    price, reduced exactly in int64 cents."""

    @F.pandas_udf(T.DoubleType())
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        import numpy as np

        cents = np.round(price.to_numpy() * 100).astype("int64")
        q = qty.to_numpy().astype("int64")
        return float((cents * q).sum()) / (100.0 * float(q.sum()))

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        wavg("l_extendedprice", "l_quantity").alias("wavg_price")
    )


@query(
    "udf_apply_in_pandas",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_spend_cents
    FROM orders
    """,
    tags=("udf", "grouped-map", "pandas"),
)
def udf_apply_in_pandas(spark, sf_dir):
    """Grouped-map applyInPandas: per-customer cumulative spend in
    exact integer cents.

    Scale pattern: grouping by the raw customer key would create one
    pandas call per customer (|customers| tiny Arrow batches — ~17s at
    sf0.1). Instead group by a KEY BUCKET and do the per-customer work
    with a vectorized pandas groupby inside each bucket — same result,
    ~bucket-count Arrow exchanges. This is the standard shape for
    high-cardinality grouped-map at 100 TB."""

    def cumulate(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["o_custkey", "o_orderdate", "o_orderkey"], kind="mergesort")
        pdf["cents"] = np.round(pdf["o_totalprice"].to_numpy() * 100).astype("int64")
        pdf["cum_spend_cents"] = pdf.groupby("o_custkey")["cents"].cumsum()
        return pdf[["o_custkey", "o_orderkey", "cum_spend_cents"]]

    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        "o_totalprice",
        F.pmod("o_custkey", F.lit(64)).alias("bucket"),
    )
    return o.groupBy("bucket").applyInPandas(
        cumulate, "o_custkey long, o_orderkey long, cum_spend_cents long"
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS INT) AS n_tokens,
           lang
    FROM documents WHERE n_chars > 200
    """,
    tags=("udf", "udtf", "pandas"),
)
def udf_map_in_pandas(spark, sf_dir):
    """mapInPandas (UDTF-analog): per-batch tokenize+filter — the shape
    used for custom scans/decoders. Python str.split() == regex \\s+
    split with empties removed."""

    def batches(it):
        for pdf in it:
            pdf = pdf[pdf["n_chars"] > 200]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["text"].map(lambda s: len(s.split())),
                    "lang": pdf["lang"],
                }
            )
            yield out

    d = t(spark, sf_dir, "documents")
    return d.mapInPandas(batches, "doc_id long, n_tokens int, lang string")


@query(
    "udf_python_row",
    oracle="""
    SELECT c_custkey, reverse(c_mktsegment) AS seg_rev
    FROM customer WHERE c_custkey < 200
    """,
    tags=("udf", "row-at-a-time"),
)
def udf_python_row(spark, sf_dir):
    """Row-at-a-time Python UDF — API parity only; 10-100× slower than
    the pandas path (per-row pickle), never used in hot paths.
    ``useArrow=False`` pins the row-at-a-time eval type, so PySpark
    does not try to infer a pandas UDF type from the hints."""

    @F.udf(T.StringType(), useArrow=False)
    def rev(s: str) -> str:
        return s[::-1] if s is not None else None

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.select("c_custkey", rev("c_mktsegment").alias("seg_rev"))


@query(
    "udtf_split_sentences",
    oracle="""
    SELECT doc_id, CAST(i AS INT) AS sent_idx,
           trim(s) AS sentence
    FROM (
      SELECT doc_id,
             unnest(string_split(text, '.')) AS s,
             unnest(range(len(string_split(text, '.')))) AS i
      FROM documents WHERE doc_id % 50 = 0
    )
    WHERE trim(s) <> ''
    """,
    tags=("udf", "udtf", "lateral"),
)
def udtf_split_sentences(spark, sf_dir):
    """True Python UDTF (Spark 4 ``@udtf``): one input row -> N output
    rows through a lateral table function — sentence segmentation per
    doc. Row-at-a-time Python like F.udf (kept to a doc subset); the
    vectorized production path for this shape is mapInPandas
    (udf_map_in_pandas above) — this query declares the UDTF API
    surface itself."""
    from pyspark.sql.functions import lit, udtf  # noqa: F401

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, doc_id, text):
            for i, s in enumerate((text or "").split(".")):
                if s.strip():
                    yield i, s.strip()

    spark.udtf.register("split_sentences", SplitSentences)
    t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    ).createOrReplaceTempView("docs_udtf_v")
    out = spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_udtf_v d, LATERAL split_sentences(d.doc_id, d.text) s
        """
    )
    return out


@query(
    "udf_cogrouped_ratio",
    oracle="""
    WITH o AS (
      SELECT o_custkey % 50 AS g, count(*) AS n_orders
      FROM orders GROUP BY 1
    ), l AS (
      SELECT l_orderkey % 50 AS g, count(*) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT coalesce(o.g, l.g) AS g,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_lines, 0) AS n_lines,
           round(CAST(coalesce(n_lines, 0) AS DOUBLE)
                 / greatest(coalesce(n_orders, 0), 1), 4) AS lines_per_order
    FROM o FULL JOIN l ON o.g = l.g
    """,
    tags=("udf", "cogroup", "pandas"),
)
def udf_cogrouped_ratio(spark, sf_dir):
    """Cogrouped pandas map (``groupBy().cogroup().applyInPandas``):
    the two sides of each key arrive as separate pandas frames in one
    Python call — the API for custom per-key reconciliation/merge
    logic that needs both inputs at once. Both sides are pre-reduced
    to per-key counts JVM-side, so only |keys| tiny frames cross the
    Arrow boundary."""
    import pandas as pd

    o = (
        t(spark, sf_dir, "orders")
        .groupBy((F.col("o_custkey") % 50).alias("g"))
        .agg(F.count("*").alias("n_orders"))
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy((F.col("l_orderkey") % 50).alias("g"))
        .agg(F.count("*").alias("n_lines"))
    )

    def merge(key, odf, ldf):
        g = int(key[0])
        n_o = int(odf["n_orders"].sum()) if len(odf) else 0
        n_l = int(ldf["n_lines"].sum()) if len(ldf) else 0
        return pd.DataFrame(
            {
                "g": [g],
                "n_orders": [n_o],
                "n_lines": [n_l],
                "lines_per_order": [round(n_l / max(n_o, 1), 4)],
            }
        )

    return (
        o.groupBy("g")
        .cogroup(li.groupBy("g"))
        .applyInPandas(
            merge,
            "g long, n_orders long, n_lines long, lines_per_order double",
        )
    )


@query(
    "udf_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_codepoints
    FROM documents
    """,
    tags=("udf", "arrow", "documents"),
)
def udf_map_in_arrow(spark, sf_dir):
    """``mapInArrow`` — the zero-copy rung below the pandas UDF family:
    the function receives raw ``pyarrow.RecordBatch``es and computes
    with Arrow compute kernels (C++-vectorized), skipping the
    Arrow→pandas→Arrow conversion that ``mapInPandas`` pays. Here:
    UTF-8 byte length vs codepoint length per document, hash-verified
    against DuckDB's strlen/length pair.

    Scale: narrow transform, no shuffle; per-batch cost is two
    vectorized kernels — the right API when the logic is expressible
    in Arrow compute but not in Spark SQL functions.
    """
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")

    def lengths(batches):
        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_bytes", "n_codepoints"],
            )

    return docs.mapInArrow(
        lengths, "doc_id long, n_bytes long, n_codepoints long"
    )


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice / 1000) AS BIGINT) * 1000)
                AS BIGINT) AS bucketed_total
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("udf", "arrow", "spark4", "orders"),
)
def udf_arrow_scalar(spark, sf_dir):
    """ARROW-OPTIMIZED Python UDF (Spark 4 ``useArrow=True``): a plain
    row-signature Python function executed over Arrow batches — the
    new default answer when logic truly needs Python but the author
    wrote scalar (non-pandas) code; throughput sits between the
    pickled row UDF (10-100x slower) and a hand-vectorized pandas_udf.
    The function floor-buckets order totals to the nearest 1000; the
    oracle replays the arithmetic in SQL, so the Arrow (de)serialization
    round-trip itself is hash-verified.

    Scale note: still a Python-boundary op — in the declared corpus
    only the udf_* family crosses it, and each documents the built-in
    expression that replaces it when semantics allow (here:
    floor(x/1000)*1000)."""
    from pyspark.sql.functions import udf

    bucket = udf(
        lambda v: int(v // 1000) * 1000 if v is not None else None,
        "bigint",
        useArrow=True,
    )
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority", bucket("o_totalprice").alias("b"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("b").cast("long").alias("bucketed_total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "udtf_polymorphic_analyze",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           split_part(o_orderpriority, '-', 1) AS part_1,
           split_part(o_orderpriority, '-', 2) AS part_2
    FROM orders GROUP BY 1, 3, 4 ORDER BY 1
    """,
    tags=("udf", "udtf", "spark4", "orders"),
)
def udtf_polymorphic_analyze(spark, sf_dir):
    """POLYMORPHIC Python UDTF (Spark 4 ``analyze()`` static method):
    the output SCHEMA is computed at plan time from the call's literal
    argument — here a splitter whose number of output columns
    (part_1..part_N) depends on the requested part count, which a
    fixed ``returnType`` cannot express. Catalyst calls ``analyze``
    during resolution, so downstream operators see real typed columns
    (prunable, codegen-compatible), not a map.

    The oracle replays the split with split_part; a hash match pins
    the dynamic schema path end-to-end. Row-Python declared-API demo,
    same policy as udtf_split_sentences (production shape: split_part
    expressions)."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf
    from pyspark.sql.types import StringType, StructType

    @udtf
    class SplitParts:
        @staticmethod
        def analyze(s: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"part_{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def __init__(self, analyze_result=None):
            self._n = None if analyze_result is None else len(
                analyze_result.schema
            )

        def eval(self, s, n):
            parts = (s or "").split("-")
            width = self._n or n
            yield tuple(
                parts[i] if i < len(parts) else "" for i in range(width)
            )

    spark.udtf.register("split_parts", SplitParts)
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_udtf_v")
    return spark.sql(
        """
        SELECT o.o_orderpriority,
               cast(count(*) as bigint) AS n, s.part_1, s.part_2
        FROM orders_udtf_v o,
             LATERAL split_parts(o.o_orderpriority, 2) s
        GROUP BY 1, 3, 4 ORDER BY 1
        """
    )
