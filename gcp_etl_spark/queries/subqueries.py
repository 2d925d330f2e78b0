"""Subquery & CTE surface — scalar, IN / NOT IN, correlated,
CTE-composed (SURVEY.md §2B; exercised through ``spark.sql`` over
registered views, the reference's own execution path R7-R8).

Determinism: thresholds computed from doubles use the exact-decimal
policy so boundary comparisons (``> avg``) can't flip membership
between engines.
"""

from __future__ import annotations

import re

from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import TABLES, register_views


def referenced_tables(sql: str) -> tuple[str, ...]:
    """The testdata tables a statement names, as whole identifiers
    (case-insensitive, as Spark resolves them)."""
    return tuple(n for n in TABLES if re.search(rf"\b{n}\b", sql, re.IGNORECASE))


def _sql(spark, sf_dir, sql):
    register_views(spark, sf_dir, referenced_tables(sql))
    return spark.sql(sql)


_SCALAR_SUBQ = """
    SELECT o_orderstatus, count(*) AS n_above_avg
    FROM orders
    WHERE o_totalprice > (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(o_totalprice)
        FROM orders
    )
    GROUP BY o_orderstatus
"""


@query("subq_scalar", oracle=_SCALAR_SUBQ, tags=("subquery", "sql"))
def subq_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery as a filter threshold."""
    return _sql(spark, sf_dir, _SCALAR_SUBQ)


_IN_SUBQ = """
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
"""


@query("subq_in", oracle=_IN_SUBQ, tags=("subquery", "sql"))
def subq_in(spark, sf_dir):
    """IN subquery (planned as a left-semi join)."""
    return _sql(spark, sf_dir, _IN_SUBQ)


_NOT_IN_SUBQ = """
    SELECT p_partkey, p_name
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
"""


@query("subq_not_in", oracle=_NOT_IN_SUBQ, tags=("subquery", "sql"))
def subq_not_in(spark, sf_dir):
    """NOT IN subquery (null-aware anti join; subquery side is
    non-null here so semantics match plain anti)."""
    return _sql(spark, sf_dir, _NOT_IN_SUBQ)


_CORR_SUBQ = """
    SELECT c_custkey, c_name,
           (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
    FROM customer
    WHERE (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) >= 12
"""


@query("subq_correlated", oracle=_CORR_SUBQ, tags=("subquery", "sql", "correlated"))
def subq_correlated(spark, sf_dir):
    """Correlated scalar subquery (decorrelated by Catalyst into an
    aggregate + join — no per-row re-execution)."""
    return _sql(spark, sf_dir, _CORR_SUBQ)


_CTE = """
    WITH cust_orders AS (
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders GROUP BY o_custkey
    ),
    nation_names AS (
        SELECT n_nationkey, n_name FROM nation
    )
    SELECT n_name,
           count(*) AS n_customers,
           CAST(sum(CAST(spend AS DECIMAL(18,2))) AS DOUBLE) AS nation_spend
    FROM customer
    JOIN cust_orders ON c_custkey = o_custkey
    JOIN nation_names ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


@query("subq_cte", oracle=_CTE, tags=("subquery", "sql", "cte"))
def subq_cte(spark, sf_dir):
    """Multi-CTE composition feeding a join + re-aggregation."""
    return _sql(spark, sf_dir, _CTE)


_LATERAL_TOPK = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
    WHERE c.c_custkey % 100 = 0
"""


@query("subq_lateral_topk", oracle=_LATERAL_TOPK, tags=("subquery", "lateral", "sql"))
def subq_lateral_topk(spark, sf_dir):
    """LATERAL correlated derived table (per-customer top-2 orders
    through the SQL lateral-join surface). Catalyst decorrelates the
    ORDER BY ... LIMIT lateral into a window/top-k over one join — no
    per-row re-execution; same physical shape as topk_per_group but
    declared via the ANSI LATERAL syntax both engines share."""
    return _sql(spark, sf_dir, _LATERAL_TOPK)
