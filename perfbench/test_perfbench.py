"""The benchmark's own tests, on tiny inputs (sf0.001, 2k-row landing).

    python3 -m pytest perfbench/test_perfbench.py -q

They start Spark, so they take a few minutes; the engine's test suite
does not collect them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--sf", "0.001", "--landing-rows", "2000"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_every_end_to_end_metric_printed_with_unit(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0
        assert f"{m['name']} {got['value']} {m['unit']}" in lines
    assert any(line.startswith("failed_op_frac 0.0 ratio") for line in lines)


def test_every_per_layer_metric_printed_with_unit():
    p = _run("medallion_etl", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"]
    names = {m["name"] for m in SPEC["per_layer"]}
    assert set(result["metrics"]) == names
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["metrics"]["pipeline.run_medallion_self_s_per_op"]["value"] > 0
    assert result["metrics"]["io.read_json_s_per_op"]["value"] > 0
    assert result["metrics"]["tables.t_calls_per_op"]["value"] == 0


def test_seed_changes_inputs():
    for wl in workloads.WORKLOADS.values():
        if wl.queries:
            orders = {tuple(workloads.query_order(wl.queries, s)) for s in range(5)}
            assert len(orders) > 1
            assert workloads.query_order(wl.queries, 7) == workloads.query_order(wl.queries, 7)
    a, b = datagen.landing_rows(500, 1), datagen.landing_rows(500, 2)
    assert a != b and a == datagen.landing_rows(500, 1)
    assert datagen.expected_served(a) != datagen.expected_served(b)


def test_timed_query_row_witness():
    """A timed query whose observed row count differs from its oracle's
    fails its check."""
    import types

    import worker

    mix = worker.QueryMix.__new__(worker.QueryMix)
    mix.rows = {"q": 4}
    mix._obs = types.SimpleNamespace(get={"rows": 4})
    assert mix.check_last("q") == []
    mix._obs = types.SimpleNamespace(get={"rows": 3})
    assert mix.check_last("q") == ["q: 3 rows, expected 4"]


def test_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run("short_mix", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_tracing_changes_no_output(tmp_path):
    """Each mix query and the pipeline's served rows hash the same
    before the wrappers are installed and with tracing on."""
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from gcp_etl_spark.queries import load_all
    from gcp_etl_spark.session import get_spark

    import tracing

    sf_dir = str(tmp_path / "sf")
    datagen.make_tables(sf_dir, 0.001)
    landing = str(tmp_path / "landing" / "a.json")
    datagen.make_landing(landing, 2000, 5)
    spark = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path / "wh")})
    names = [q for wl in workloads.WORKLOADS.values() for q in wl.queries]

    def digests(tag: str) -> dict[str, str]:
        from gcp_etl_spark import pipeline

        specs = load_all()
        out = {n: _digest(specs[n].fn(spark, sf_dir)) for n in names}
        work = str(tmp_path / tag)
        pipeline.run_medallion(spark, landing, work, query=datagen.MEDALLION_SQL)
        out["medallion"] = _digest(spark.read.parquet(os.path.join(work, "serving")))
        return out

    try:
        before = digests("plain")
        tr = tracing.Tracer()
        tr.install()
        tr.attach(spark)
        tr.enabled, tr.op = True, 0
        after = digests("traced")
        assert any(s["name"] == "tables.t" for s in tr.spans)
        assert any(s["name"] == "io.read_json" for s in tr.spans)
    finally:
        spark.stop()
    assert before == after


def test_op_metrics_are_pass_medians():
    """One slow pass does not move the end-to-end op metrics."""
    import worker

    fast = {"op_s": [0.5, 0.5], "wall_s": 1.0, "cpu_s": 2.0}
    slow = {"op_s": [1.5, 1.5], "wall_s": 3.0, "cpu_s": 6.0}
    got = worker.Run._end_to_end(None, [fast, fast, slow, fast, fast])
    assert (got["op_p50_s"], got["ops_per_s"], got["cpu_s_per_op"]) == (0.5, 2.0, 1.0)
