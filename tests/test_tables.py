"""The declared table catalog (``tables.SCHEMAS``) and the per-query
fixed costs it removes: no schema-inference job per read, no Python
call-site capture per Column call, no view registered that a statement
does not name."""

from __future__ import annotations

import glob
import os

import pytest

from gcp_etl_spark.queries import subqueries
from gcp_etl_spark.tables import TABLES, t
from tests.conftest import SF_SMALL

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))


def _assert_declared_equals_footer(spark, sf_dir):
    on_disk = {f.removesuffix(".parquet") for f in os.listdir(sf_dir)
               if f.endswith(".parquet")}
    assert on_disk == set(TABLES)
    for name in TABLES:
        footer = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        declared = t(spark, sf_dir, name).schema
        # StructType equality covers names, types, order and nullability
        assert declared == footer, (sf_dir, name, declared, footer)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_equals_footer_schema(spark, sf_dir):
    _assert_declared_equals_footer(spark, sf_dir)


def test_declared_schema_equals_benchmark_tables(spark, tmp_path):
    from perfbench import datagen

    datagen.make_tables(str(tmp_path), 0.001)
    _assert_declared_equals_footer(spark, str(tmp_path))


def test_t_rejects_unknown_table():
    with pytest.raises(KeyError):
        t(None, SF_SMALL, "nope")


def _jobs_started(spark, fn, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_t_starts_no_spark_job(spark):
    sf_dir = SF_SMALL
    # the probe sees the job that footer inference starts
    assert _jobs_started(
        spark, lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        "probe_inferred") >= 1
    assert _jobs_started(
        spark, lambda: [t(spark, sf_dir, name) for name in TABLES],
        "probe_declared") == 0


def test_t_sets_no_session_conf(spark):
    before = spark.conf.getAll
    for name in TABLES:
        t(spark, SF_SMALL, name)
    assert spark.conf.getAll == before


def test_get_spark_disables_dataframe_debugging(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_referenced_tables():
    assert subqueries.referenced_tables(subqueries._IN_SUBQ) == ("part", "lineitem")
    assert subqueries.referenced_tables(subqueries._CTE) == (
        "nation", "customer", "orders")
    # column names that contain a table name are not references
    assert subqueries.referenced_tables("SELECT n_regionkey FROM Nation") == ("nation",)


def test_subquery_registers_only_referenced_views(spark):
    for name in TABLES:
        spark.catalog.dropTempView(name)
    assert subqueries.subq_in(spark, SF_SMALL).count() > 0
    views = {tb.name for tb in spark.catalog.listTables() if tb.isTemporary}
    assert {"part", "lineitem"} <= views
    assert not views & (set(TABLES) - {"part", "lineitem"})
