"""Differential test: every declared query vs its DuckDB oracle at
sf0.001, with the same compare ``tools/verify_local.py`` runs at any
scale (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest

from gcp_etl_spark.queries import load_all
from tests.conftest import SF_SMALL
from tools.verify_local import compare

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_SMALL)
    if spec.oracle is None:
        # rows-only contract: runs, deterministic row count
        assert sdf.count() >= 0
        return
    assert compare(name, sdf, duck, spec.oracle) == []
