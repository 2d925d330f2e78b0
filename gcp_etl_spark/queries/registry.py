"""Declared-query registry — the DuckDB-oracle correctness surface.

Every operator claimed in SURVEY.md §2 registers here as a named query:
a ``(spark, sf_dir) -> DataFrame`` callable plus (when SQL-expressible)
the equivalent ANSI SQL that DuckDB runs on the same parquet tables.

Contract notes (driver compares row-count + schema + order-insensitive
value hash, see ``/root/repo/__spark_entry__.py``):
- every computed column aliased identically on both sides;
- doubles produced by aggregation are rounded to a fixed number of
  decimals on BOTH sides, so floating-point summation order (which
  differs between engines and between partitionings) cannot flip the
  hash;
- any LIMIT is preceded by a total ORDER BY (unique tiebreaker);
- no bare arrays in output whose element ORDER differs between engines
  (DuckDB's list_intersect is unordered) — emit sizes/scalars instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a declared query. ``oracle=None`` → rows-only check."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side-effect: registration) and return
    the full registry in query-name order. That is the order every
    in-repo tool iterates, and it does not depend on which module a
    query lives in, so moving a query never reorders the registry or
    the sample a driver takes from its head."""
    from gcp_etl_spark.queries import (  # noqa: F401
        aggregates,
        analytics_ops,
        eval_ops,
        graph_ops,
        io_formats,
        joins,
        llm_ops,
        llm_prep,
        ml_ops,
        modern_sql,
        prep_ops,
        reference_parity,
        scale_ops,
        scalars,
        scalars_ext,
        scalars_more,
        sets_sorts,
        stats_ops,
        streaming_duals,
        subqueries,
        surface_ext,
        temporal_ops,
        text_ops,
        tpch_full,
        tpch_more,
        udfs,
        windows,
    )

    return dict(sorted(QUERIES.items()))
