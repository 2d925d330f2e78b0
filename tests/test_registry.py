"""The declared-query registry: its size, its order and its module
layout. Pure Python; no test here starts a Spark session."""

from __future__ import annotations

import re
from pathlib import Path

from gcp_etl_spark.queries import load_all

QUERIES_DIR = Path(__file__).resolve().parent.parent / "gcp_etl_spark" / "queries"


def test_registry_holds_every_declared_query():
    assert len(load_all()) == 625


def test_registry_is_in_name_order():
    """Name order does not depend on which module a query lives in, so
    moving a query between modules never reorders the registry."""
    specs = load_all()
    assert list(specs) == sorted(specs)


def test_no_query_module_is_named_for_a_round():
    round_named = [
        p.name for p in QUERIES_DIR.glob("*.py")
        if re.fullmatch(r"r\d+b?_ops\.py", p.name)
    ]
    assert round_named == []
