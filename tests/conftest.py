from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gcp_etl_spark.session import (  # noqa: E402
    _quiet_benign_warnings,
    get_spark,
)
from tools.verify_local import duck_connection  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    # log-layer filter for the known-benign WindowExec warning (all
    # global windows in the corpus run over documented bounded
    # relations; the plan-hygiene fingerprints police real growth)
    _quiet_benign_warnings(s)
    yield s


@pytest.fixture(scope="session")
def duck():
    return duck_connection(SF_SMALL)


def jobs_started(spark, fn, group: str) -> int:
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
