"""bench.py's measurement regime and final-line contract.

Two tests run bench.py as a subprocess at sf0.001 on a query subset
with a temp output dir, so the repo's round artifacts are never
touched; the other checks are plain function calls that start no JVM.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from tests.conftest import SF_SMALL

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(HERE, "bench.py")

CONTRACT = {
    "metric", "value", "unit", "sf", "n_queries", "timing", "q_median",
    "q_p90", "detail", "load1", "procs", "queries", "n_failures", "steal",
}


def test_bench_reads_only_the_kept_env_names():
    """Knobs may not grow back: these five are the whole env surface."""
    with open(BENCH) as f:
        names = set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read()))
    assert names == {
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_BENCH_ONLY",
        "SPARK_GRAFT_BENCH_OUT_DIR",
        "SPARK_GRAFT_ROUND",
    }


def test_canary_block_schema(monkeypatch):
    """The canary is ten declared queries, measured by the suite's own
    per-query function; its block totals their medians, and a canary
    query that raises is dropped without ending the run."""
    import bench as B
    from gcp_etl_spark.queries import load_all

    specs = load_all()
    assert len(set(B.CANARY)) == 10
    assert all(name in specs for name in (*B.CANARY, B.SESSION_WARMUP))

    def fake_measure(spark, fn, sf_dir):
        if fn is specs[B.CANARY[0]].fn:
            raise RuntimeError("boom")
        return {"median": 0.5}

    monkeypatch.setattr(B, "measure", fake_measure)
    block = B.run_canary(None, specs, "unused")
    assert list(block["queries"]) == list(B.CANARY[1:])
    assert block["total_sec"] == 4.5


def test_pass_count_follows_warmup_cost():
    import bench as B

    assert B.n_passes(0.1) == B.n_passes(B.SLOW_SEC - 0.001) == 3
    assert B.n_passes(B.SLOW_SEC) == B.n_passes(60.0) == 1


def _run_bench(tmp_path, queries: list[str], sf_dir: str):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_ONLY=",".join(queries),
        SPARK_GRAFT_BENCH_OUT_DIR=str(tmp_path),
        SPARK_GRAFT_ROUND="84",
        SPARK_GRAFT_CPUS="8",
    )
    out = subprocess.run(
        [sys.executable, BENCH], env=env, capture_output=True, text=True,
        timeout=600, cwd=HERE,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    head = json.loads(out.stdout.strip().splitlines()[-1])
    assert CONTRACT <= set(head), CONTRACT - set(head)
    assert os.listdir(tmp_path) == ["BENCH_DETAIL.json"]
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    return head, detail


def test_final_headline_full_map_and_cpu_suffixed_detail(tmp_path, monkeypatch):
    """The final line carries every timed query, slowest first; each
    record is the median of k measured passes after one warm-up, with
    per-pass steal, iowait and JVM counters. Runs at a core count other
    than 32 name their detail file ``_c{cpus}``; a subset run writes
    only BENCH_DETAIL.json, never the round-stamped file."""
    import bench as B

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "84")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert B.detail_names(False) == [
        "BENCH_DETAIL_r84_c8.json", "BENCH_DETAIL.json"]
    assert B.detail_names(True) == ["BENCH_DETAIL.json"]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert B.detail_names(False)[0] == "BENCH_DETAIL_r84.json"

    queries = ["ref_select_limit", "q13_customer_distribution"]
    head, detail = _run_bench(tmp_path, queries, SF_SMALL)
    assert set(head["queries"]) == set(queries)
    assert head["n_queries"] == 2 and head["n_failures"] == 0
    vals = list(head["queries"].values())
    assert vals == sorted(vals, reverse=True)
    assert head["timing"] == B.TIMING
    assert head["detail"] == "BENCH_DETAIL.json"
    assert "canary_end_vs_start" not in head  # subset runs have no canary
    for name in queries:
        rec = detail["detail"][name]
        k = B.n_passes(rec["warmup"])
        for key in ("passes", "pass_steal", "pass_iowait", "pass_gc_ms",
                    "pass_jit_ms"):
            assert len(rec[key]) == k, (key, rec)
        assert rec["median"] == sorted(rec["passes"])[k // 2]
        assert rec["min"] == min(rec["passes"])
        assert head["queries"][name] == detail["queries"][name] == rec["median"]


def test_failing_query_lands_in_failures(tmp_path):
    """A query that raises is counted, not fatal: the final line still
    prints, with an empty map."""
    head, detail = _run_bench(
        tmp_path, ["ref_select_limit"], str(tmp_path / "sf0.001"))
    assert head["n_failures"] == 1 and head["queries"] == {}
    assert head["q_median"] is None
    assert detail["failures"] == ["ref_select_limit"]
