"""Testdata table access.

The driver generates deterministic TPC-H-ish parquet tables
(``TESTDATA.md``). Every declared query loads its inputs
through here so that scans stay plain parquet scans — Catalyst then
gets predicate pushdown / column pruning for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The declared catalog: each table's schema as a DDL string (the
# ``schema: StructType | str`` argument of ``DataFrameReader.schema``),
# in file column order. Reading with a declared schema starts no Spark
# job; letting Spark infer it from the parquet footer costs one job per
# read. Timestamps are stored as INT64 TIMESTAMP(MICROS,
# isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ and DuckDB
# as a naive TIMESTAMP. ``tests/test_tables.py`` checks every entry
# against the footer-inferred schema of each fixture present.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = tuple(SCHEMAS)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame, read with its declared
    schema from ``SCHEMAS``.

    No footer is read when the DataFrame is built, so the call starts no
    Spark job and sets no session conf. The declaration is not checked
    against the file here; ``tests/test_tables.py`` checks it against
    every fixture.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    """Register the named tables as temp views (reference pattern:
    ``createOrReplaceTempView`` at ``k8s/submit/etl-on-gcp-vinicius-campos.py:42``)."""
    for name in names:
        t(spark, sf_dir, name).createOrReplaceTempView(name)
