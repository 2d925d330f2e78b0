"""Benchmark harness: runs the declared query corpus at sf0.1.

One measurement regime for every record:
  * one SparkSession per run, restarted after every RESTART_EVERY
    executed queries (accumulated plans and codegen classes in one
    long-lived JVM degrade the tail of the suite); every new session
    first runs SESSION_WARMUP, untimed;
  * per query, one warm-up pass and then k measured passes; k is
    PASSES_FAST when the warm-up took under SLOW_SEC, else PASSES_SLOW.
    The record is the median of the measured passes;
  * before every pass, cached relations and persisted RDDs are dropped
    (``_cleanup``), so no pass reuses data an earlier pass cached; after
    every query the driver JVM is asked to GC.

A pass is ``fn(spark, sf_dir)`` plus a ``noop`` write: the full plan
runs on the executors and nothing is collected to the driver.

The detail file keeps, per query, the median, the min, the warm-up
time, and per measured pass the time, the host's CPU steal and iowait
shares (``/proc/stat``) and the driver JVM's GC and JIT ms.

A full run also measures the CANARY queries, with the same per-query
function, at its start and at its end; ``canary_end_vs_start`` (end
total / start total) is the run's drift against itself. ``steal`` is
the host's CPU steal share over the whole run.

Prints a partial headline every 20 queries and ONE final JSON line,
last on stdout, headline fields first:
  {"metric", "value" (sum of records, sec), "unit", "sf", "n_queries",
   "timing", "q_median", "q_p90", "canary_end_vs_start", "steal",
   "wall_s", "detail", "load1", "procs", "n_failures",
   "queries": {<every query, slowest first>}}

Env: SPARK_GRAFT_SF_DIR (default: the sf0.1 fixture), SPARK_GRAFT_CPUS
(default 32; other counts suffix the detail file with ``_c{cpus}``),
SPARK_GRAFT_BENCH_ONLY (comma list of query names: a subset run, with
no canary, that writes only BENCH_DETAIL.json), SPARK_GRAFT_BENCH_OUT_DIR
(default: next to this file) and SPARK_GRAFT_ROUND (round stamp of the
BENCH_DETAIL_r{n}.json a full run also writes).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import _quiet_benign_warnings, get_spark  # noqa: E402

TIMING = "warmup_then_median_of_k"
SLOW_SEC = 2.0  # warm-up time from which a query gets PASSES_SLOW
PASSES_FAST = 3
PASSES_SLOW = 1
RESTART_EVERY = 100  # executed queries per session
PARTIAL_EVERY = 20  # executed queries per partial headline
# run untimed in every new session, so the first query's warm-up (which
# sets its k) does not pay for the session's start
SESSION_WARMUP = "q1_pricing_summary"

# Ten queries across ten families near the suite's median cost, so the
# canary tracks broad drift, not one plan.
CANARY = (
    "q11_full_derived_partsupp",
    "subq_in",
    "agg_central_moments",
    "sketch_hll_merge",
    "q13_customer_distribution",
    "bpe_encode_tokens",
    "basket_cooccurrence",
    "text_collocations_pmi",
    "dedup_prefix_filter",
    "analytics_conversion_latency",
)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def n_passes(warmup_sec: float) -> int:
    return PASSES_FAST if warmup_sec < SLOW_SEC else PASSES_SLOW


def _host_load() -> dict:
    out = {"load1": round(os.getloadavg()[0], 1)}
    out["procs"] = sum(1 for p in os.listdir("/proc") if p.isdigit())
    return out


def _proc_stat() -> tuple[int, int, int]:
    """(iowait, total, steal) jiffies of the host's CPUs. Steal is time
    the hypervisor gave to other guests: no in-guest counter shows it,
    so a pass with a high steal share is host weather, not engine."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[4], sum(vals), vals[7]


def _share(a: tuple, b: tuple, i: int) -> float:
    win = b[1] - a[1]
    return round((b[i] - a[i]) / win, 4) if win > 0 else 0.0


def _jvm_counters(spark) -> tuple[int, int]:
    """Cumulative driver-JVM (gc_ms, jit_ms)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return int(gc_ms), int(mf.getCompilationMXBean().getTotalCompilationTime())


def _cleanup(spark) -> None:
    """Drop cached relations and persisted RDDs. clearCache covers only
    the SQL cache manager; localCheckpoint blocks (iterative queries)
    live as raw persistent RDDs and would otherwise pile up in unified
    memory, squeezing execution memory for every later query."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)


def measure(spark, fn, sf_dir: str) -> dict:
    """One warm-up pass, then k measured passes; raises if any fails."""
    _cleanup(spark)
    t0 = time.time()
    force(fn(spark, sf_dir))
    warmup = round(time.time() - t0, 3)
    rec: dict = {"warmup": warmup, "passes": [], "pass_steal": [],
                 "pass_iowait": [], "pass_gc_ms": [], "pass_jit_ms": []}
    for _ in range(n_passes(warmup)):
        _cleanup(spark)
        s0, j0 = _proc_stat(), _jvm_counters(spark)
        t0 = time.time()
        force(fn(spark, sf_dir))
        rec["passes"].append(round(time.time() - t0, 3))
        s1, j1 = _proc_stat(), _jvm_counters(spark)
        rec["pass_steal"].append(_share(s0, s1, 2))
        rec["pass_iowait"].append(_share(s0, s1, 0))
        rec["pass_gc_ms"].append(j1[0] - j0[0])
        rec["pass_jit_ms"].append(j1[1] - j0[1])
    rec["median"] = round(statistics.median(rec["passes"]), 3)
    rec["min"] = min(rec["passes"])
    return rec


def run_canary(spark, specs, sf_dir: str) -> dict:
    per: dict[str, dict] = {}
    for name in CANARY:
        try:
            per[name] = measure(spark, specs[name].fn, sf_dir)
        except Exception as e:  # noqa: BLE001 - the canary must not kill the run
            print(f"# bench canary FAILURE {name}: {e}", file=sys.stderr)
    return {"total_sec": round(sum(r["median"] for r in per.values()), 3),
            "queries": per}


def new_session(specs, sf_dir: str):
    spark = get_spark("bench")
    # silence the known-benign WindowExec warnings in bench sessions ONLY;
    # library sessions keep them (see session._quiet_benign_warnings)
    _quiet_benign_warnings(spark)
    try:
        force(specs[SESSION_WARMUP].fn(spark, sf_dir))
    except Exception as e:  # noqa: BLE001 - a bad warm-up must not kill the line
        print(f"# bench session warm-up failed: {e}", file=sys.stderr)
    return spark


def _detail_suffix() -> str:
    """``_c{cpus}`` for runs at a core count other than 32, so a scaling
    run never collides with a round's main record."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return "" if cpus == "32" else f"_c{cpus}"


def _round_stamp() -> int:
    """Env override, else 1 + the highest BENCH_r{n}.json present."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(HERE, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else 0


def detail_names(subset: bool) -> list[str]:
    """Detail files a run writes; the first is the one the headline
    names. A subset run is not a round record, so it writes only
    BENCH_DETAIL.json."""
    if subset:
        return ["BENCH_DETAIL.json"]
    return [f"BENCH_DETAIL_r{_round_stamp():02d}{_detail_suffix()}.json",
            "BENCH_DETAIL.json"]


def _dump_detail(names: list[str], payload: dict) -> None:
    out_dir = os.environ.get("SPARK_GRAFT_BENCH_OUT_DIR", HERE)
    for name in names:
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    only = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    names = detail_names(bool(only))
    head = {"metric": "declared_query_suite_wall", "unit": "sec", "sf": sf}

    t_start, stat0 = time.time(), _proc_stat()
    specs = load_all()
    spark = new_session(specs, sf_dir)
    canary: dict = {}
    if not only:
        canary["start"] = run_canary(spark, specs, sf_dir)

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    failures: list[str] = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            detail[name] = measure(spark, spec.fn, sf_dir)
            timings[name] = detail[name]["median"]
        except Exception as e:  # noqa: BLE001 - one bad query must not kill the line
            failures.append(name)
            print(f"# bench FAILURE {name}: {e}", file=sys.stderr)
        _cleanup(spark)
        spark.sparkContext._jvm.System.gc()
        n_done = len(timings) + len(failures)
        if n_done % PARTIAL_EVERY == 0:
            # a run killed by an outer timeout still leaves a parseable
            # last line and a usable detail file
            part = {**head, "value": round(sum(timings.values()), 3),
                    "n_queries": len(timings), "partial": True}
            top3 = sorted(timings.items(), key=lambda kv: -kv[1])[:3]
            print(json.dumps({**part, **_host_load(), "queries": dict(top3)}),
                  flush=True)
            _dump_detail(names, {**part, "timing": TIMING, "queries": timings,
                                 "detail": detail, "failures": failures})
        if n_done % RESTART_EVERY == 0:
            spark.stop()
            spark = new_session(specs, sf_dir)

    if not only:
        canary["end"] = run_canary(spark, specs, sf_dir)
        start = canary["start"]["total_sec"]
        canary["end_vs_start"] = (
            round(canary["end"]["total_sec"] / start, 3) if start else None
        )
    steal = _share(stat0, _proc_stat(), 2)
    total = round(sum(timings.values()), 3)
    ts = sorted(timings.values())
    summary = {
        **head,
        "value": total,
        "n_queries": len(timings),
        "timing": TIMING,
        "q_median": round(ts[len(ts) // 2], 3) if ts else None,
        "q_p90": round(ts[int(len(ts) * 0.9)], 3) if ts else None,
        **({"canary_end_vs_start": canary["end_vs_start"]} if canary else {}),
        "steal": steal,
        "wall_s": round(time.time() - t_start, 1),
    }
    _dump_detail(names, {**summary, "passes_fast": PASSES_FAST,
                         "passes_slow": PASSES_SLOW, "slow_sec": SLOW_SEC,
                         "queries": timings, "detail": detail,
                         "failures": failures,
                         **({"canary": canary} if canary else {})})
    print(json.dumps({
        **summary,
        "detail": names[0],
        **_host_load(),
        "n_failures": len(failures),
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
    }))


if __name__ == "__main__":
    main()
