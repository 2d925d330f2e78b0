"""Warm-JVM outlier reproducer (round-12 watch item).

The r12 final bench recorded one 30.0 s ``dedup_prefix_filter`` pass in
the WARM suite JVM with no GC/JIT/iowait signal (passes
[3.64, 30.04, 6.14], median3 kept 6.14).  This probe replays the bench's
exact per-pass protocol (same session factory, same cleanup between
passes: ``clearCache`` + non-blocking unpersist of every persistent RDD)
for N passes of one query, and — if a pass stalls past ``--watchdog``
seconds — captures, MID-STALL, the evidence the bench telemetry cannot:

  * a full driver-JVM thread dump (``jcmd Thread.print``),
  * the active job/stage ids and task counts from the status tracker,
  * the pyspark.daemon / worker process table (pid, cpu, rss, state).

Usage: python tools/outlier_probe.py dedup_prefix_filter --passes 40

Developer tool only — not part of the bench contract.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import _quiet_benign_warnings, get_spark  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _jvm_counters(spark):
    """(gc_ms, jit_ms) from the driver JVM beans (bench.py twin)."""
    try:
        jvm = spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc = sum(
            b.getCollectionTime()
            for b in mf.getGarbageCollectorMXBeans()
        )
        jit = mf.getCompilationMXBean().getTotalCompilationTime()
        return int(gc), int(jit)
    except Exception:  # noqa: BLE001
        return 0, 0


def _cleanup(spark) -> None:
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def _capture_stall(spark, pid: int, tag: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"stall_{tag}.txt")
    with open(path, "w") as f:
        f.write(f"=== stall capture {tag} at {time.time():.3f} ===\n")
        try:
            st = spark.sparkContext.statusTracker()
            for jid in st.getActiveJobsIds():
                ji = st.getJobInfo(jid)
                f.write(f"job {jid}: {ji}\n")
                for sid in ji.stageIds if ji else []:
                    si = st.getStageInfo(sid)
                    f.write(f"  stage {sid}: {si}\n")
        except Exception as e:  # noqa: BLE001
            f.write(f"statusTracker failed: {e}\n")
        try:
            ps = subprocess.run(
                ["ps", "-eo", "pid,ppid,stat,pcpu,rss,etime,cmd"],
                capture_output=True, text=True, timeout=10,
            ).stdout
            f.write("\n=== process table (python/java) ===\n")
            for line in ps.splitlines():
                if "python" in line or "java" in line:
                    f.write(line + "\n")
        except Exception as e:  # noqa: BLE001
            f.write(f"ps failed: {e}\n")
        try:
            dump = subprocess.run(
                ["jcmd", str(pid), "Thread.print"],
                capture_output=True, text=True, timeout=30,
            ).stdout
            f.write("\n=== jvm thread dump ===\n")
            f.write(dump)
        except Exception as e:  # noqa: BLE001
            f.write(f"jcmd failed: {e}\n")
    print(f"  [watchdog] stall capture written: {path}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("name")
    ap.add_argument("--passes", type=int, default=40)
    ap.add_argument("--watchdog", type=float, default=15.0)
    ap.add_argument("--out", default="/tmp/outlier_probe")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    specs = load_all()
    spark = get_spark("bench")
    _quiet_benign_warnings(spark)
    pid = _jvm_pid(spark)
    _force(specs["q1_pricing_summary"].fn(spark, args.sf_dir))

    spec = specs[args.name]
    times: list[float] = []
    for i in range(args.passes):
        _cleanup(spark)
        g0, j0 = _jvm_counters(spark)
        done = threading.Event()
        captured: list[int] = []

        def _watch(i=i, done=done, captured=captured):
            t0 = time.time()
            while not done.wait(1.0):
                el = time.time() - t0
                if el >= args.watchdog and not captured:
                    captured.append(1)
                    _capture_stall(spark, pid, f"pass{i}", args.out)
                if el >= args.watchdog * 2 and len(captured) == 1:
                    captured.append(2)
                    _capture_stall(spark, pid, f"pass{i}_b", args.out)

        w = threading.Thread(target=_watch, daemon=True)
        w.start()
        t0 = time.time()
        _force(spec.fn(spark, args.sf_dir))
        el = time.time() - t0
        done.set()
        g1, j1 = _jvm_counters(spark)
        times.append(el)
        flag = "  <-- OUTLIER" if captured else ""
        print(
            f"pass {i:3d}: {el:7.3f}s  gc+{g1 - g0}ms jit+{j1 - j0}ms{flag}",
            flush=True,
        )
    times.sort()
    n = len(times)
    print(
        f"\n{args.name}: n={n} min={times[0]:.3f} p50={times[n // 2]:.3f} "
        f"p90={times[int(n * 0.9)]:.3f} max={times[-1]:.3f}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
