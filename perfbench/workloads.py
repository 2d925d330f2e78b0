"""The benchmark's workloads, with pinned inputs.

Query membership is pinned here, drawn once from the round-13 per-query
records (``BENCH_DETAIL_r13.json``, sf0.1, 32 cores) and never recomputed
from the code under test, so a parent and a change run identical
inputs. The run seed only orders the queries of the mix, or generates
the medallion landing.

``short_mix`` is the first two of ``random.Random(2026).sample(band, 40)``,
where ``band`` is the 437 oracled queries under 1 s in those records,
sorted by name; plus the first query of that draw that calls
``operators.barrier`` (``analytics_newsvendor``) and the first that
runs Python workers at this size (``udf_map_in_pandas``; the earlier
``analytics_holt_trend`` takes a driver-side path there), so every layer
the trace reports is exercised.

Sizes fit the run budget (see README.md): set-up, check pass, warm-up
and measurement take about a minute on 4 cores.
"""

from __future__ import annotations

import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float = 0.0
    queries: tuple[str, ...] = ()  # a query mix when set
    landing_rows: int = 0  # the medallion pipeline when set


SHORT_MIX = (
    "analytics_rolling_origin_backtest",
    "join_cross",
    "analytics_newsvendor",
    "udf_map_in_pandas",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "short_mix",
            "4 sub-second queries at sf0.01, seed orders them; per-op fixed "
            "cost dominates: traced, build 48% (tables.t 22%), Catalyst 3%, "
            "jobs 27% of an op; sized on 4 cpus, 3g driver",
            sf=0.01, queries=SHORT_MIX,
        ),
        Workload(
            "medallion_etl",
            "run_medallion on a seeded 50k-row (14 MB) JSON landing: JSON "
            "scan, Parquet writes (53% of an op, traced), SQL, serving, gate; "
            "bypasses tables and queries; sized on 4 cpus, 3g driver",
            landing_rows=50_000,
        ),
    )
}


def query_order(queries: tuple[str, ...], seed: int) -> list[str]:
    """The seed's order of a mix's queries (one pass)."""
    order = list(queries)
    random.Random(seed).shuffle(order)
    return order
